"""A/B the junk-pair suppression knobs against the measured work-growth
problem (tools/work_growth.json: distinct pairs/page grow 1.63 -> 2.79
from 1M to 16M pages — single-band junk collisions densify, and the
weak-scaling curve pays for them at the gate step):

  base  — LinkageConfig() (any single shared block admits a pair)
  min2  — min_band_matches=2: a pair must collide in >=2 distinct
          blocks.  Costs zero extra shuffle (the gate rides the
          distinct() exchange); suppresses low-sim junk multiplicatively
          (P[>=2 matches] ~ C(b,2)p^2 vs b*p for junk p<<1) while
          high-sim true pairs keep near-full survival.
  b12r3 — bands=12, rows_per_band=3 (num_hashes=36): the classic
          stricter-banding alternative — taxes true and junk pairs
          alike (every band needs one more row to agree).

Each arm runs the flagship in a fresh JVM pinned to the first
min(16, available) CPUs of this process's affinity set, on the same
materialized corpus, at EACH requested size, so the report shows
not just the volume cut but the growth SLOPE.  Reports wall sec,
distinct candidate pairs (+ per page), candidate recall (gold pairs
surviving into the capped pair set), and unconditioned link P/R/F1.
Writes tools/banding_ab.json.

Usage: python tools/banding_ab.py [n_pages ...]  (default 1000000 4000000)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RUNNER = r"""
import json, sys, time
sys.path.insert(0, "@REPO@")
from biomedical_el_spark.session import get_spark
from biomedical_el_spark.plans.linkage import run_linkage, LinkageConfig
from biomedical_el_spark.datagen.pages import gold_pairs
from biomedical_el_spark import metrics as M
from pyspark.sql import functions as F

arm = sys.argv[1]; pages_dir = sys.argv[2]; cores = int(sys.argv[3])
cfgs = {
    "base": LinkageConfig(),
    "min2": LinkageConfig(min_band_matches=2),
    "b12r3": LinkageConfig(num_hashes=36, bands=12, rows_per_band=3),
}
cfg = cfgs[arm]
spark = get_spark("banding-ab", cores=cores, shuffle_partitions=2 * cores)
pages = spark.read.parquet(pages_dir)
n_pages = pages.count()

import dataclasses
warm_cfg = dataclasses.replace(cfg, num_partitions=2 * cores)
warm = run_linkage(spark, pages.limit(20000), cfg=warm_cfg)
warm["clusters"].write.format("noop").mode("overwrite").save()
for df in warm.values():
    df.unpersist()

t0 = time.time()
out = run_linkage(spark, pages, cfg=cfg)
out["clusters"].write.format("noop").mode("overwrite").save()
dt = time.time() - t0

gold = gold_pairs(pages).persist()
n_gold = gold.count()
covered = gold.join(
    out["pairs"].select("url_a", "url_b"), ["url_a", "url_b"], "left_semi"
).count()
n_pairs = out["pairs"].count()
pred = out["links"].select("url_a", "url_b")
f1 = M.pairwise_f1(pred, gold)
print("RESULT " + json.dumps({
    "arm": arm,
    "n_pages": n_pages,
    "sec": round(dt, 2),
    "n_pairs": n_pairs,
    "pairs_per_page": round(n_pairs / n_pages, 4),
    "candidate_recall": round(covered / n_gold, 6),
    "precision": round(f1["precision"], 6),
    "recall": round(f1["recall"], 6),
    "f1": round(f1["f1"], 6),
}))
"""


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from tools.scaling_bench import ensure_corpora, pinned_cpus  # noqa: E402

    sizes = [int(a) for a in sys.argv[1:]] or [1_000_000, 4_000_000]
    cpus = pinned_cpus(min(16, len(os.sched_getaffinity(0))))
    root = os.environ.get("SCALING_CORPUS_ROOT", "/tmp/scaling_corpora")
    dirs = ensure_corpora(repo, sizes, root)

    out_path = os.path.join(repo, "tools", "banding_ab.json")
    results = json.load(open(out_path)) if os.path.exists(out_path) else []
    for n_pages in sizes:
        # interleave arms per size so host drift hits all arms equally
        for arm in ("base", "min2", "b12r3"):
            proc = subprocess.run(
                ["taskset", "-c", ",".join(map(str, cpus)), sys.executable, "-c",
                 RUNNER.replace("@REPO@", repo), arm, dirs[n_pages], str(len(cpus))],
                capture_output=True, text=True, timeout=3600,
            )
            got = None
            for line in proc.stdout.splitlines():
                if line.startswith("RESULT "):
                    got = json.loads(line[len("RESULT "):])
            if got is None:
                raise RuntimeError(
                    f"{arm}@{n_pages} failed:\n{proc.stdout[-2000:]}\n"
                    f"{proc.stderr[-2000:]}"
                )
            print(json.dumps(got), flush=True)
            results.append(got)
            with open(out_path, "w") as f:
                json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
