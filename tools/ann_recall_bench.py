"""Measure the ANN recall@5-vs-cost curve (judge round-2 item 4): brute
force (reference yardstick, recall 1.0 by construction) vs single-probe
vs multi-probe hyperplane LSH, on the adversarial near-random embeddings
table (sf0.1 by default — the hardest fixture: top-5 neighbors sit at
cos≈0.3 where a 4-plane sign collision is ~13% likely).

Cost is the number of candidate pairs actually rescored (the quantity
that scales quadratically at 100 TB); wall seconds are included but at
2,000 vectors are dominated by fixed overhead — candidates is the
scale-relevant column.

Writes tools/ann_recall.json; `python tools/render_bench.py` folds it
into BENCH.md.

Usage: python tools/ann_recall_bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from biomedical_el_spark.functions.embedder import hyperplane_lsh_udf  # noqa: E402
from biomedical_el_spark.plans import catalog  # noqa: E402
from biomedical_el_spark.session import get_spark  # noqa: E402


def candidate_counts(spark, sf_dir: str, num_planes: int = 4) -> dict[str, int]:
    """Candidate pairs each variant rescans, from one bucketed relation."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    key = hyperplane_lsh_udf(num_planes=num_planes, seed=7)(F.col("embedding"))
    keyed = emb.select("vec_id", key.alias("bucket")).persist()
    n = keyed.count()
    nq = keyed.filter(F.col("vec_id") % 20 == 0).count()
    q = keyed.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    c = keyed.select(F.col("vec_id").alias("neighbor_id"), "bucket")
    single = (
        q.join(c, "bucket").filter(F.col("query_id") != F.col("neighbor_id")).count()
    )
    probe_set = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)],
    )
    qm = keyed.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), F.explode(probe_set).alias("bucket")
    )
    multi = (
        qm.join(c, "bucket").filter(F.col("query_id") != F.col("neighbor_id")).count()
    )
    keyed.unpersist()

    # IVF-flat: probes (top-2 cells/query) ⋈ cell assignments, minus self
    from biomedical_el_spark.functions.similarity import cosine_expr
    from pyspark.sql import Window

    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vecs = emb.select("vec_id", dbl.alias("v"))
    cents = vecs.filter(F.col("vec_id") % 97 == 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    aw = Window.partitionBy("vec_id").orderBy(F.desc("cos_c"), F.asc("centroid_id"))
    ranked = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "centroid_id", cosine_expr(F.col("v"), F.col("cv")).alias("cos_c"))
        .withColumn("rn", F.row_number().over(aw))
        .persist()
    )
    cells = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("neighbor_id"), F.col("centroid_id").alias("cell")
    )
    probes = ranked.filter((F.col("vec_id") % 20 == 0) & (F.col("rn") <= 2)).select(
        F.col("vec_id").alias("query_id"), F.col("centroid_id").alias("cell")
    )
    ivf = (
        probes.join(cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .count()
    )
    ranked.unpersist()

    kp, kc, _ = catalog._ivf_kmeans_parts(spark, sf_dir)
    ivf_km = (
        kp.join(kc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .count()
    )
    return {
        "n": n, "nq": nq, "brute": nq * (n - 1),
        "single": single, "multi": multi, "ivf": ivf, "ivf_kmeans": ivf_km,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("ann-recall-bench", cores=16)

    variants = {
        "brute force (baseline)": catalog.ann_cosine_topk,
        "LSH single-probe": catalog.ann_lsh_topk,
        "LSH multi-probe (1-bit flips)": catalog.ann_multiprobe_topk,
        "IVF-flat (nprobe=2)": catalog.ann_ivf_topk,
        "IVF k-means (nlist=20, 2 Lloyd iters, nprobe=2)": catalog.ann_ivf_kmeans_topk,
    }
    results, timings = {}, {}
    for name, fn in variants.items():
        fn(spark, sf_dir).collect()  # warm (worker spin-up, codegen)
        best, rows = None, None
        for _ in range(2):
            t0 = time.time()
            rows = fn(spark, sf_dir).collect()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        results[name] = {(r["query_id"], r["neighbor_id"]) for r in rows}
        timings[name] = round(best, 2)

    brute = results["brute force (baseline)"]
    counts = candidate_counts(spark, sf_dir)
    cost = {
        "brute force (baseline)": counts["brute"],
        "LSH single-probe": counts["single"],
        "LSH multi-probe (1-bit flips)": counts["multi"],
        "IVF-flat (nprobe=2)": counts["ivf"],
        "IVF k-means (nlist=20, 2 Lloyd iters, nprobe=2)": counts["ivf_kmeans"],
    }
    out = {
        "sf_dir": sf_dir,
        "n_vectors": counts["n"],
        "n_queries": counts["nq"],
        "variants": [
            {
                "variant": name,
                "sec": timings[name],
                "n_candidate_pairs": cost[name],
                "recall_at_5": round(len(brute & results[name]) / len(brute), 3),
            }
            for name in variants
        ],
    }
    r1 = out["variants"][1]["recall_at_5"] or 1e-9
    out["recall_gain"] = round(out["variants"][2]["recall_at_5"] / r1, 2)
    out["probe_cost_ratio"] = round(counts["multi"] / max(counts["single"], 1), 2)
    out["brute_cost_ratio"] = round(counts["brute"] / max(counts["multi"], 1), 2)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "tools", "ann_recall.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
