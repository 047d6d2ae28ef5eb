"""End-to-end flagship pipeline: the north metric + invariants."""

import pytest
from pyspark.sql import functions as F

from biomedical_el_spark import metrics as M
from biomedical_el_spark.datagen.pages import generate_pages, gold_pairs
from biomedical_el_spark.plans.linkage import LinkageConfig, run_linkage
from biomedical_el_spark.sources.pages import verify_text_invariant


@pytest.fixture(scope="module")
def result(spark, pages):
    return run_linkage(spark, pages)


def _cluster_pairs(clusters):
    c1 = clusters.select(F.col("node").alias("url_a"), "component")
    c2 = clusters.select(F.col("node").alias("url_b"), "component")
    return (
        c1.join(c2, "component")
        .filter(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
    )


def test_text_invariant_byte_identical(pages):
    assert verify_text_invariant(pages) == 0


def test_pairwise_f1_north_metric(spark, pages, result):
    gold = gold_pairs(pages)
    pred = _cluster_pairs(result["clusters"])
    stats = M.pairwise_f1(pred, gold)
    assert stats["f1"] >= 0.99, stats
    blocked = M.pairwise_f1_at_blocks(pred, gold, result["blocks"])
    assert blocked["f1"] >= 0.99, blocked


def test_precision_no_cross_entity_merges(spark, pages, result):
    gold = gold_pairs(pages)
    pred = _cluster_pairs(result["clusters"])
    stats = M.pairwise_f1(pred, gold)
    assert stats["precision"] >= 0.99, stats


def test_skewed_corpus_still_correct(spark):
    """Hot-entity fixture: ~10% of pages collapse into entity 0.  The
    oversized-block cap + AQE skew handling must keep the job correct."""
    hot = generate_pages(spark, 300, cluster_size=3, hot_fraction=0.1).cache()
    out = run_linkage(spark, hot)
    gold = gold_pairs(hot)
    pred = _cluster_pairs(out["clusters"])
    stats = M.pairwise_f1(pred, gold)
    # hot block is huge; pairs within it may exceed block cap ⇒ recall on
    # the hot entity can drop, but precision must hold and overall F1
    # stay reasonable
    assert stats["precision"] >= 0.99, stats
    assert stats["f1"] >= 0.90, stats


def test_deterministic_rerun(spark, pages):
    out1 = run_linkage(spark, pages)
    out2 = run_linkage(spark, pages)
    l1 = {tuple(r) for r in out1["links"].select("url_a", "url_b").collect()}
    l2 = {tuple(r) for r in out2["links"].select("url_a", "url_b").collect()}
    assert l1 == l2


def test_normalize_accents_blocking_keys(spark):
    """cfg.normalize_accents: an NFC 'café' page and its NFD
    'cafe\\u0301' twin must share blocking keys when enabled (identical
    minhash sigs -> identical band keys) and share none when disabled
    (every shingle contains the differing bytes)."""
    from biomedical_el_spark.operators.features import band_keys_from_sig
    from biomedical_el_spark.plans.linkage import LinkageConfig, featurize

    body = "café menu du café bistro"          # NFC é
    body_nfd = "café menu du café bistro"   # NFD e + combining acute
    assert body != body_nfd
    pages = spark.createDataFrame(
        [("u_nfc", body), ("u_nfd", body_nfd)], "url string, text string"
    )
    for normalize, expect_shared in ((True, True), (False, False)):
        feats = featurize(pages, LinkageConfig(normalize_accents=normalize))
        keys = band_keys_from_sig(feats, 16, 2)
        a = {r["block_key"] for r in keys.filter(F.col("url") == "u_nfc").collect()}
        b = {r["block_key"] for r in keys.filter(F.col("url") == "u_nfd").collect()}
        assert bool(a & b) is expect_shared, (normalize, a & b)
        if normalize:
            assert a == b  # fully identical signatures


def test_normalize_accents_end_to_end_cluster(spark):
    """With normalize_accents on, the NFC/NFD twins cluster together
    through the full pipeline (blocks -> score -> tau -> CC)."""
    from biomedical_el_spark.plans.linkage import LinkageConfig, run_linkage

    body = "café menu du café bistro au bord de la seine"
    pages = spark.createDataFrame(
        [
            ("u_nfc", body),
            ("u_nfd", body.replace("é", "é")),
            ("u_other", "completely unrelated page about spark shuffles"),
        ],
        "url string, text string",
    )
    out = run_linkage(spark, pages, cfg=LinkageConfig(normalize_accents=True))
    comp = {r["node"]: r["component"] for r in out["clusters"].collect()}
    assert comp["u_nfc"] == comp["u_nfd"]
    assert comp["u_other"] != comp["u_nfc"]


def test_checkpoint_dir_threads_through_config(spark, tmp_path, pages):
    """cfg.checkpoint_dir reaches connected_components: the run uses
    RELIABLE checkpoints (files appear under the dir) and produces the
    same clusters as the localCheckpoint default."""
    import os

    from biomedical_el_spark.plans.linkage import LinkageConfig, run_linkage

    ckpt = str(tmp_path / "cc_ckpt")
    out_ck = run_linkage(spark, pages, cfg=LinkageConfig(checkpoint_dir=ckpt))
    got_ck = {(r["node"], r["component"]) for r in out_ck["clusters"].collect()}
    assert os.path.isdir(ckpt) and os.listdir(ckpt), "no reliable checkpoints written"
    out_default = run_linkage(spark, pages, cfg=LinkageConfig())
    got_default = {
        (r["node"], r["component"]) for r in out_default["clusters"].collect()
    }
    assert got_ck == got_default


def test_score_histogram_clamps_both_ends(spark):
    """Scores below 0 (cosine term spans [-1,1]) land in bucket 0, ≥1 in
    the top bucket — no stray negative buckets."""
    scored = spark.createDataFrame(
        [(-0.3,), (0.0,), (0.5,), (0.999,), (1.7,)], "score double"
    )
    rows = M.score_histogram(scored).groupBy("bucket").agg(F.sum("n").alias("n"))
    got = {r["bucket"]: r["n"] for r in rows.collect()}
    assert got == {0: 2, 10: 1, 19: 2}


def test_estimate_rows_metadata_only(spark, tmp_path, pages):
    """Partition auto-sizing reads parquet footers, not the lineage: a
    bare scan yields the true row count; a non-file plan yields 0 (the
    caller falls back to 2x parallelism) instead of executing a full
    upstream pass."""
    from biomedical_el_spark.plans.linkage import _estimate_rows

    p = str(tmp_path / "pages_est")
    pages.write.parquet(p)
    scan = spark.read.parquet(p)
    assert _estimate_rows(scan) == pages.count()
    assert _estimate_rows(spark.range(10).toDF("id")) == 0


@pytest.mark.parametrize("snapshots", [False, True], ids=["in_memory", "store"])
def test_run_linkage_hands_back_shuffle_width(spark, tmp_path, monkeypatch, snapshots):
    """A corpus that widens the run's shuffle width (TASK_PAGES patched
    to 1 page per task) leaves the caller's width as it found it on both
    paths, and every returned stage is already computed: with the input
    deleted, an action on each stage still runs."""
    import shutil

    from biomedical_el_spark.plans import linkage
    from biomedical_el_spark.sources.snapshots import SnapshotStore

    d = str(tmp_path / "pages_wide")
    generate_pages(spark, 60, cluster_size=4).write.parquet(d)
    monkeypatch.setattr(linkage, "TASK_PAGES", 1)
    seen, featurize = [], linkage.featurize

    def spy(pages, cfg):
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        return featurize(pages, cfg)

    monkeypatch.setattr(linkage, "featurize", spy)
    store = SnapshotStore(str(tmp_path / "snap")) if snapshots else None
    width = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_linkage(spark, spark.read.parquet(d), store=store)
    assert seen == ["60"] and width != "60"
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    shutil.rmtree(d)
    for df in out.values():
        df.write.format("noop").mode("overwrite").save()
        df.unpersist()
