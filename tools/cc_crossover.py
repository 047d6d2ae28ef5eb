"""Local finish vs star rounds in connected_components, above and below
the hybrid threshold.

For each edge count n, builds a seeded synthetic link graph with
url-like string ids (the `https://siteK.example/p/N` shape of the
benchmark corpora) and times `connected_components` end to end
(materialized with the `noop` writer) twice per path, warm:

  local  the threshold patched above n: no star round, the whole graph
         is finished in one task (coalesce(1).mapInArrow);
  star   the threshold patched to -1: star rounds until the star
         certificate holds, never the local finish.

Both outputs are checked equal (row count, component count and an
order-free xxhash64 checksum of the (node, component) rows).

It also measures the memory the one-task finish needs: the edges are
collected to Arrow once, and `_min_label_components` runs on them in
this process with its peak RSS read from /proc/self/status (VmHWM,
reset through /proc/self/clear_refs).  That is the working set a Python
worker needs for the task, on top of its idle size.

Shapes:
  trees  components of 16 nodes, each a random recursive tree (15
         edges per 16 nodes), like the benchmark's mirror clusters;
  path   one randomly numbered path over n + 1 nodes: the worst case of
         both algorithms (most star rounds, most hook rounds).

Usage (one core per Spark task; keep the driver heap small on a shared
host):

  SPARK_DRIVER_MEM=4g python tools/cc_crossover.py \\
      --sizes 250000,500000,1000000,2000000 --shapes trees,path \\
      --cores 4 --out tools/cc_crossover.json
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)
# the Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (repo, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import DataFrame, SparkSession, functions as F

from biomedical_el_spark.operators import cc
from biomedical_el_spark.session import get_spark

# the module constant that decides when the frontier is finished locally
SWITCH = "_EDGES_PER_PARTITION"


def _url(num: F.Column) -> F.Column:
    num = F.pmod(num, F.lit(2**62))  # non-negative, no abs() overflow
    return F.concat(
        F.lit("https://site"),
        F.pmod(num, F.lit(97)).cast("string"),
        F.lit(".example/p/"),
        num.cast("string"),
    )


def make_edges(spark: SparkSession, n: int, shape: str, seed: int = 7) -> DataFrame:
    """n (url_a, url_b) edges.  Node i is numbered xxhash64(seed, i), so
    id order is unrelated to graph order."""
    i = F.col("id")
    if shape == "path":
        a, b = i, i + 1
    elif shape == "trees":
        # edge e joins node j = e % 15 + 1 of component k = e // 15 to a
        # uniformly drawn earlier node of the same component
        k, j = F.floor(i / 15), F.pmod(i, F.lit(15)) + 1
        parent = F.pmod(F.xxhash64(F.lit(seed + 1), i), j)
        a, b = k * 16 + j, k * 16 + parent
    else:
        raise ValueError(shape)
    return (
        spark.range(n)
        .select(
            _url(F.xxhash64(F.lit(seed), a)).alias("url_a"),
            _url(F.xxhash64(F.lit(seed), b)).alias("url_b"),
        )
        .localCheckpoint()
    )


def _run(links: DataFrame, threshold: int) -> tuple[float, dict]:
    old = getattr(cc, SWITCH)
    setattr(cc, SWITCH, threshold)
    try:
        t0 = time.perf_counter()
        comp = cc.connected_components(links)
        comp.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        setattr(cc, SWITCH, old)
    row = comp.agg(
        F.count("*").alias("rows"),
        F.countDistinct("component").alias("components"),
        F.sum(F.xxhash64("node", "component") % 1_000_003).alias("checksum"),
    ).first()
    return wall, row.asDict()


def _vm(key: str) -> int:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) * 1024
    raise KeyError(key)


def local_finish_memory(links: DataFrame) -> dict:
    """Peak extra RSS of _min_label_components on these edges, in this
    process (the edge table itself is held before the reset)."""
    tbl = links.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst")).toArrow()
    batches = tbl.to_batches(max_chunksize=10_000)
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")
    base = _vm("VmRSS")
    t0 = time.perf_counter()
    out = list(cc._min_label_components(iter(batches)))
    wall = time.perf_counter() - t0
    peak = _vm("VmHWM")
    return {
        "input_bytes": tbl.nbytes,
        "output_rows": sum(b.num_rows for b in out),
        "peak_extra_rss_mb": round((peak - base) / 2**20, 1),
        "in_process_s": round(wall, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sizes", default="250000,500000,1000000,2000000")
    ap.add_argument("--shapes", default="trees,path")
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="cc_crossover", cores=args.cores)
    meta = {
        "host": {"cpus": os.cpu_count(), "machine": platform.machine()},
        "cores": args.cores,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "argv": sys.argv[1:],
    }
    results = []
    for shape in args.shapes.split(","):
        for n in (int(s) for s in args.sizes.split(",")):
            links = make_edges(spark, n, shape)
            rec = {"shape": shape, "edges": n}
            outs = {}
            for path, threshold in (("local", n), ("star", -1)):
                walls = []
                for _ in range(args.reps + 1):  # first run is warm-up
                    wall, outs[path] = _run(links, threshold)
                    walls.append(round(wall, 3))
                rec[f"{path}_s"] = walls[1:]
                rec[f"{path}_warmup_s"] = walls[0]
            if outs["local"] != outs["star"]:
                raise AssertionError(f"{shape} n={n}: {outs}")
            rec.update(outs["local"])
            rec.update(local_finish_memory(links))
            links.unpersist()
            print(json.dumps(rec), flush=True)
            results.append(rec)
            if args.out:  # rewritten after every size: a cut run keeps its rows
                with open(args.out, "w") as fh:
                    json.dump({**meta, "results": results}, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
