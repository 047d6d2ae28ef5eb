"""ANN scale path: LSH-bucketed top-k vs brute force (recall floor), and
cosine zero-norm safety under Spark 4's default ANSI mode."""

import pytest
from pyspark.sql import functions as F

from biomedical_el_spark.functions.similarity import cosine_expr
from biomedical_el_spark.plans import catalog

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_topk_recall_floor(spark):
    """Single-probe recall@5 of the LSH-bucketed ANN vs brute-force
    cosine.  The sf0.001 embeddings are near-random — the hardest case
    for ANN: a top-5 neighbor sits at cosine ~0.3, whose 4-plane sign
    collision probability (1 - theta/pi)^4 is ~0.13, and that is exactly
    the measured recall.  Bucketing UNcorrelated with the vectors would
    give 1/16 = 0.0625, so a 0.09 floor separates working hyperplane
    bucketing from a broken seed/key-packing regression.  (Exact bucket
    correctness is separately gated by the DuckDB oracle hash and the
    sql-vs-udf equality test below.)"""
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.ann_cosine_topk(spark, SF_DIR).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.ann_lsh_topk(spark, SF_DIR).collect()
    }
    assert brute, "brute-force baseline returned nothing"
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.09, f"single-probe recall@5 below chance+margin: {recall:.3f}"


def test_multiprobe_recall_beats_single_probe(spark):
    """Multi-probe (own bucket + num_planes single-bit-flip neighbors)
    must recover most of the recall single-probe loses: predicted
    recall@5 at the fixture's cos≈0.3 neighbor distance is
    p^4 + 4p^3(1-p) ≈ 0.47 (vs 0.13 single-probe).  Floor 0.35 keeps
    margin for fixture variance; the superset property (multi-probe
    candidates ⊇ single-probe candidates per query) is exact, so recall
    must also be >= single-probe's."""
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.ann_cosine_topk(spark, SF_DIR).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.ann_lsh_topk(spark, SF_DIR).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.ann_multiprobe_topk(spark, SF_DIR).collect()
    }
    assert brute, "brute-force baseline returned nothing"
    r_single = len(brute & single) / len(brute)
    r_multi = len(brute & multi) / len(brute)
    assert r_multi >= 0.35, f"multi-probe recall@5 too low: {r_multi:.3f}"
    assert r_multi >= r_single, (r_multi, r_single)


def test_ivf_recall_beats_chance(spark):
    """IVF-flat (deterministic sampled centroids, nprobe=2): at sf0.1
    there are 21 cells, so an UNcorrelated 2-cell probe would land ~10%
    of true neighbors; measured recall@5 is ~0.27 — the coarse quantizer
    must correlate with cosine.  Floor 0.18 separates a working
    assignment from a broken one while leaving fixture margin."""
    sf = "/root/testdata/sf0.1"
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.ann_cosine_topk(spark, sf).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.ann_ivf_topk(spark, sf).collect()
    }
    assert brute
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.18, f"IVF recall@5 at chance level: {recall:.3f}"


def test_ivf_kmeans_recall_at_equal_budget(spark):
    """Production-shape IVF (2 integer-Lloyd iterations, nlist=20,
    nprobe=2) vs the sampled-centroid IVF: k-means centroids must place
    cells at least as well as a 1% sample at a comparable probe budget —
    recall@5 must beat uncorrelated-probe chance (2/20 = 0.1) and not
    fall below the sampled variant by more than fixture noise."""
    sf = "/root/testdata/sf0.1"
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.ann_cosine_topk(spark, sf).collect()
    }
    km = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog.ann_ivf_kmeans_topk(spark, sf).collect()
    }
    assert brute
    recall = len(brute & km) / len(brute)
    assert recall >= 0.25, f"k-means IVF recall@5 too low: {recall:.3f}"


def test_lsh_bucket_sql_matches_udf(spark):
    """The LSH oracles' bucket (`hyperplane_bucket_sql` on DuckDB) and
    the LSH queries' bucket (`hyperplane_lsh_udf` on Spark) agree on
    every fixture embedding — they share one seeded plane matrix."""
    import duckdb

    from biomedical_el_spark.functions.embedder import (
        hyperplane_bucket_sql,
        hyperplane_lsh_udf,
    )

    path = f"{SF_DIR}/embeddings.parquet"
    bucket = hyperplane_lsh_udf(num_planes=4, seed=7)(F.col("embedding"))
    emb = spark.read.parquet(path).select("vec_id", bucket.alias("b"))
    spark_buckets = {r["vec_id"]: r["b"] for r in emb.collect()}
    sql = hyperplane_bucket_sql("embedding", num_planes=4, seed=7)
    duck_buckets = dict(
        duckdb.connect().execute(f"SELECT vec_id, {sql} FROM '{path}'").fetchall()
    )
    assert len(spark_buckets) > 0
    assert duck_buckets == spark_buckets


def test_cosine_expr_zero_norm_ansi_safe(spark):
    """Zero vectors are reachable by design (empty pages embed to zeros
    and share sentinel minhash signatures, so they DO form scored pairs);
    the expression must yield 0.0 — not DIVIDE_BY_ZERO, not NULL."""
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 0.0]), ([0.0, 0.0], [0.0, 0.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(cosine_expr(F.col("a"), F.col("b")).alias("c")).collect()
    assert [r["c"] for r in rows] == [0.0, 0.0, 1.0]


def test_empty_pages_survive_linkage(spark):
    """Empty/whitespace pages block together (sentinel signatures) and
    must score as a pair without killing the stage under ANSI mode."""
    from biomedical_el_spark.plans.linkage import run_linkage

    pages = spark.createDataFrame(
        [("u1", ""), ("u2", "   "), ("u3", "real page text here")],
        "url string, text string",
    )
    out = run_linkage(spark, pages)
    clusters = out["clusters"].collect()
    assert {r["node"] for r in clusters} == {"u1", "u2", "u3"}
