"""Structured Streaming: the linkage pipeline per micro-batch over
page-file drops, its store, and watermarked windowed aggregation."""

import os

import pytest
from pyspark.sql import functions as F

from biomedical_el_spark.datagen.pages import generate_pages
from biomedical_el_spark.plans.linkage import LinkageConfig, featurize, run_linkage
from biomedical_el_spark.streaming.incremental import (
    compact_blocks_store,
    incremental_linkage,
    pages_per_window,
    process_block_batch,
    process_linkage_batch,
    read_clusters,
    read_page_stream,
)


def _stream_cfg(**kw) -> LinkageConfig:
    """The batch config whose channels the stream implements."""
    return LinkageConfig(use_embedding_blocks=False, max_block_size=None, **kw)


def _block_batch(df, batch_id, store, n_buckets=64, cfg=None):
    """process_block_batch over `df`'s features under `cfg`; releases
    the committed pairs it returns."""
    cfg = cfg or _stream_cfg()
    pairs = process_block_batch(featurize(df, cfg), batch_id, store, cfg, n_buckets)
    if pairs is not None:
        pairs.unpersist()


def _mapping(spark, store):
    return {(r["node"], r["component"]) for r in read_clusters(spark, store).collect()}


def test_incremental_blocking_matches_batch(spark, tmp_path):
    src = str(tmp_path / "drops")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    all_pages = generate_pages(spark, 120, cluster_size=4).drop("entity_id").cache()
    # two crawl shards arriving separately
    all_pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0).coalesce(
        1
    ).write.parquet(src + "/shard=0")
    all_pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1).coalesce(
        1
    ).write.parquet(src + "/shard=1")

    stream = read_page_stream(spark, src + "/shard=*", max_files=1)
    q = incremental_linkage(stream, store, ckpt, n_buckets=8).start()
    q.awaitTermination(120)

    blocks = spark.read.parquet(store + "/blocks")
    # every page got its band keys exactly once
    assert blocks.select("url").distinct().count() == 120
    per_url = blocks.groupBy("url").count().select("count").distinct().collect()
    assert len(per_url) == 1  # same key count per page (16 bands)

    # accumulated incremental pairs ⊇ the batch pipeline's shingle pairs
    from biomedical_el_spark.operators.features import band_keys_from_sig
    from biomedical_el_spark.operators.pairs import candidate_pairs_grouped

    feats = featurize(all_pages, _stream_cfg())
    batch_pairs, _ = candidate_pairs_grouped(
        band_keys_from_sig(feats, 16, 2), max_block_size=None
    )
    stream_pairs = (
        spark.read.parquet(store + "/pairs").select("url_a", "url_b").distinct()
    )
    missing = batch_pairs.exceptAll(stream_pairs)
    assert missing.count() == 0


def test_incremental_batch_retry_is_idempotent(spark, tmp_path):
    """A retried micro-batch (same batch_id) must REPLACE its own output,
    not append duplicates — block sizes and pairs stay exact."""
    store = str(tmp_path / "store_retry")
    pages = generate_pages(spark, 60, cluster_size=4).drop("entity_id").cache()
    b0 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    b1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    _block_batch(b0, 0, store)
    _block_batch(b1, 1, store)
    blocks_once = spark.read.parquet(store + "/blocks").count()
    pairs_once = (
        spark.read.parquet(store + "/pairs").select("url_a", "url_b").distinct().count()
    )
    _block_batch(b1, 1, store)  # simulated retry of the last batch
    assert spark.read.parquet(store + "/blocks").count() == blocks_once
    assert (
        spark.read.parquet(store + "/pairs").select("url_a", "url_b").distinct().count()
        == pairs_once
    )
    # and not just distinct-equal: no physical duplicates either
    raw = spark.read.parquet(store + "/pairs").count()
    dedup = spark.read.parquet(store + "/pairs").distinct().count()
    assert raw == dedup


def test_recrawled_url_pairs_exactly_once(spark, tmp_path):
    """A url re-crawled in a later micro-batch regenerates pairs an
    earlier batch already committed; the anti-join against the committed
    pairs store must keep the store exactly-once ACROSS batch partitions
    (not merely within each)."""
    store = str(tmp_path / "store_recrawl")
    pages = generate_pages(spark, 60, cluster_size=4).drop("entity_id").cache()
    b0 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0).cache()
    b1_new = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    b1 = b1_new.unionByName(b0.limit(10)).cache()  # 10 re-crawled urls
    _block_batch(b0, 0, store)
    _block_batch(b1, 1, store)
    raw = spark.read.parquet(store + "/pairs")
    dup_across = (
        raw.groupBy("url_a", "url_b")
        .agg(F.countDistinct("batch_id").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert dup_across == 0
    assert raw.count() == raw.select("url_a", "url_b").distinct().count()
    # the re-crawl lost nothing: batch-pipeline pairs are still covered
    from biomedical_el_spark.operators.features import band_keys_from_sig
    from biomedical_el_spark.operators.pairs import candidate_pairs_grouped

    batch_pairs, _ = candidate_pairs_grouped(
        band_keys_from_sig(featurize(pages, _stream_cfg()), 16, 2),
        max_block_size=None,
    )
    missing = batch_pairs.exceptAll(raw.select("url_a", "url_b"))
    assert missing.count() == 0


def test_compact_blocks_store(spark, tmp_path):
    """Compaction merges per-batch files into one batch_id=-1 partition
    per bucket: same rows, far fewer files, and the stream keeps working
    against the compacted store (new batch still pairs with old keys)."""
    import glob

    from biomedical_el_spark.streaming.incremental import compact_blocks_store

    store = str(tmp_path / "store_compact")
    pages = generate_pages(spark, 90, cluster_size=4).drop("entity_id").cache()
    shards = [
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i).cache()
        for i in range(3)
    ]
    _block_batch(shards[0], 0, store, 8)
    _block_batch(shards[1], 1, store, 8)
    before = {  # materialize: compaction replaces the files on disk
        (r["url"], r["block_key"])
        for r in spark.read.parquet(store + "/blocks")
        .select("url", "block_key")
        .collect()
    }
    files_before = len(glob.glob(store + "/blocks/**/*.parquet", recursive=True))
    compact_blocks_store(spark, store)
    after = spark.read.parquet(store + "/blocks")
    assert after.count() == len(before)
    got = {
        (r["url"], r["block_key"])
        for r in after.select("url", "block_key").collect()
    }
    assert got == before
    assert set(
        r["batch_id"] for r in after.select("batch_id").distinct().collect()
    ) == {-1}
    files_after = len(glob.glob(store + "/blocks/**/*.parquet", recursive=True))
    assert files_after < files_before
    # stream continues: a new batch pairs against the compacted store
    _block_batch(shards[2], 2, store, 8)
    pairs = spark.read.parquet(store + "/pairs").select("url_a", "url_b")
    s2_urls = {r["url"] for r in shards[2].select("url").collect()}
    touching = pairs.filter(
        F.col("url_a").isin(s2_urls) | F.col("url_b").isin(s2_urls)
    )
    assert touching.count() > 0


def test_compaction_skips_uncommitted_batches(spark, tmp_path):
    """Crash safety: leaves of a batch with NO commit marker in the
    streaming checkpoint are carried over untouched (never absorbed into
    batch_id=-1), so the batch's retry dynamic-overwrites its own leaves
    instead of permanently duplicating rows the compaction absorbed."""
    from biomedical_el_spark.streaming.incremental import compact_blocks_store

    store = str(tmp_path / "store_crash")
    ckpt = str(tmp_path / "ckpt_crash")
    pages = generate_pages(spark, 60, cluster_size=4).drop("entity_id").cache()
    shards = [
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i).cache()
        for i in range(2)
    ]
    # batch 0 committed; batch 1 "crashed" after writing, before commit
    _block_batch(shards[0], 0, store, 8)
    _block_batch(shards[1], 1, store, 8)
    os.makedirs(os.path.join(ckpt, "commits"))
    open(os.path.join(ckpt, "commits", "0"), "w").close()

    before = spark.read.parquet(store + "/blocks").count()
    compact_blocks_store(spark, store, checkpoint_dir=ckpt)
    after = spark.read.parquet(store + "/blocks")
    assert after.count() == before  # nothing lost, nothing duplicated
    ids = {r["batch_id"] for r in after.select("batch_id").distinct().collect()}
    assert ids == {-1, 1}  # batch 1's leaves survived uncompacted
    # the "retry" of batch 1 rewrites its own leaves — still no dupes
    _block_batch(shards[1], 1, store, 8)
    assert spark.read.parquet(store + "/blocks").count() == before


def test_pages_per_window_watermark(spark, tmp_path):
    src = str(tmp_path / "drops2")
    generate_pages(spark, 200, cluster_size=4).drop("entity_id").coalesce(
        1
    ).write.parquet(src)
    stream = read_page_stream(spark, src)
    agg = pages_per_window(stream, window="1 hour", watermark="2 hours")
    out = str(tmp_path / "out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows closed by the watermark; the final
    # (open) window is withheld — verify emitted counts are plausible
    res = spark.read.parquet(out)
    assert set(res.columns) == {"window_start", "window_end", "lang", "n_pages"}
    total = res.agg(F.sum("n_pages")).collect()[0][0] or 0
    assert total <= 200


def _stream_equals_batch(spark, store, cfg=None):
    """Stream a 120-page corpus in 3 micro-batches under `cfg` (None:
    the stream's default) and assert the stored features and the
    clusters equal run_linkage's on the union corpus under the same
    config.  Returns the shards and the expected mapping."""
    pages = generate_pages(spark, 120, cluster_size=4).drop("entity_id").cache()
    shards = [
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i).cache()
        for i in range(3)
    ]
    for i, shard in enumerate(shards):
        process_linkage_batch(shard, i, store, cfg, n_buckets=8)

    batch = run_linkage(spark, pages, cfg=cfg or _stream_cfg())
    cols = ["url", "vec", "sig", "prefix"]
    streamed_feats = spark.read.parquet(store + "/features").select(cols)
    batch_feats = batch["features"].select(cols)
    assert streamed_feats.exceptAll(batch_feats).count() == 0
    assert batch_feats.exceptAll(streamed_feats).count() == 0
    expected = {
        (r["node"], r["component"]) for r in batch["clusters"].collect()
    }
    assert len({c for _, c in expected}) < 120  # real merges happened
    assert _mapping(spark, store) == expected
    return shards, expected


def test_streaming_linkage_equals_batch_pipeline(spark, tmp_path):
    """The FULL streaming pipeline (features → blocking → exactly-once
    pairs → scoring → τ links → incremental cluster maintenance) over N
    micro-batches must produce EXACTLY the batch pipeline's clusters on
    the union corpus — same (node, component) rows, min-node component
    ids included.  The stream runs on its default config, the batch on
    the config with the stream's channels (band blocking only,
    uncapped)."""
    store = str(tmp_path / "store_full")
    shards, expected = _stream_equals_batch(spark, store)
    # replaying the last batch (crash-retry) must not change the answer
    process_linkage_batch(shards[2], 2, store, n_buckets=8)
    assert _mapping(spark, store) == expected


def test_streaming_linkage_equals_batch_pipeline_nondefault_cfg(spark, tmp_path):
    """Stream == batch under a non-default config passed to BOTH sides:
    the stream must featurize and score with every semantic field the
    batch pipeline uses (seed, accent folding, JW prefix), not with
    defaults of its own."""
    cfg = _stream_cfg(minhash_seed=7, normalize_accents=True, jw_prefix=16)
    _stream_equals_batch(spark, str(tmp_path / "store_cfg"), cfg)


def test_store_marker_fails_fast(spark, tmp_path, monkeypatch):
    """The first batch marks the store; a later batch with another
    n_buckets, config or store format, or against a non-empty store
    without a marker, raises before it writes anything."""
    import biomedical_el_spark.streaming.incremental as inc

    store = str(tmp_path / "store_marker")
    pages = generate_pages(spark, 24, cluster_size=4).drop("entity_id").cache()
    process_linkage_batch(pages, 0, store, n_buckets=8)
    marker = os.path.join(store, inc.STORE_MARKER)
    assert os.path.exists(marker)

    def listing():
        return sorted(
            os.path.relpath(os.path.join(d, f), store)
            for d, _, fs in os.walk(store)
            for f in fs
        )

    before = listing()
    with pytest.raises(ValueError, match="rebuild the store"):
        process_linkage_batch(pages, 1, store, n_buckets=16)
    with pytest.raises(ValueError, match="rebuild the store"):
        process_linkage_batch(pages, 1, store, _stream_cfg(minhash_seed=7), 8)
    monkeypatch.setattr(inc, "STORE_FORMAT", inc.STORE_FORMAT + 1)
    with pytest.raises(ValueError, match="rebuild the store"):
        process_linkage_batch(pages, 1, store, n_buckets=8)
    monkeypatch.undo()
    os.remove(marker)
    with pytest.raises(ValueError, match="no _store.json"):
        process_linkage_batch(pages, 1, store, n_buckets=8)
    assert listing() == [f for f in before if f != inc.STORE_MARKER]


def test_store_readers_check_marker(spark, tmp_path, monkeypatch):
    """read_clusters and compact_blocks_store raise, and write nothing,
    on a store marked with another store format or with data but no
    marker; process_block_batch marks a blocks-only store."""
    import biomedical_el_spark.streaming.incremental as inc

    pages = generate_pages(spark, 24, cluster_size=4).drop("entity_id").cache()
    blocks_only = str(tmp_path / "store_blocks_only")
    _block_batch(pages, 0, blocks_only, 8)
    assert os.path.exists(os.path.join(blocks_only, inc.STORE_MARKER))

    store = str(tmp_path / "store_readers")
    process_linkage_batch(pages, 0, store, n_buckets=8)
    readers = (
        lambda: read_clusters(spark, store),
        lambda: compact_blocks_store(spark, store),
    )
    before = sorted(os.walk(store))
    monkeypatch.setattr(inc, "STORE_FORMAT", inc.STORE_FORMAT + 1)
    for read in readers:
        with pytest.raises(ValueError, match="rebuild the store"):
            read()
    monkeypatch.undo()
    assert sorted(os.walk(store)) == before
    assert read_clusters(spark, store).count() == 24
    os.remove(os.path.join(store, inc.STORE_MARKER))
    for read in readers:
        with pytest.raises(ValueError, match="no _store.json"):
            read()


def test_stream_checkpoints_cc_into_checkpoint_dir(spark, tmp_path):
    """A stream under LinkageConfig(checkpoint_dir=...) runs its clusters
    update's CC on reliable checkpoints in that directory, as run_linkage
    does."""
    ckpt = str(tmp_path / "cc_ckpt")
    cfg = _stream_cfg(checkpoint_dir=ckpt)
    pages = generate_pages(spark, 60, cluster_size=4).drop("entity_id").cache()
    for i in range(2):
        shard = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i)
        process_linkage_batch(shard, i, str(tmp_path / "store_ckpt"), cfg, 8)
    assert [f for _, _, fs in os.walk(ckpt) for f in fs]


def test_store_reads_use_the_writers_schema(spark, tmp_path):
    """`_read_store` reads every store whole with the schema its writer
    fixes: the one parquet inference finds, without the job inference
    runs."""
    from biomedical_el_spark.streaming.incremental import STORE_SCHEMAS, _read_store

    store = str(tmp_path / "store_schema")
    pages = generate_pages(spark, 60, cluster_size=4).drop("entity_id").cache()
    process_linkage_batch(pages, 0, store, n_buckets=8)
    sc = spark.sparkContext
    for name in STORE_SCHEMAS:
        base = os.path.join(store, name)
        sc.setJobGroup("store-schema", name)
        try:
            got = _read_store(spark, base)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("store-schema") == [], name
        inferred = spark.read.parquet(base)
        assert got.schema == inferred.schema, name
        assert got.count() == inferred.count() > 0, name
    assert _read_store(spark, os.path.join(store, "empty")) is None


def test_read_clusters_runs_no_job_before_its_action(spark, tmp_path):
    """`read_clusters` reads the features and clusters stores with their
    writers' schemas: building the frame runs no Spark job, and the
    frame holds every ingested page."""
    store = str(tmp_path / "clusters_read")
    pages = generate_pages(spark, 60, cluster_size=4).drop("entity_id").cache()
    process_linkage_batch(pages, 0, store, n_buckets=8)
    assert os.path.isdir(os.path.join(store, "clusters"))
    sc = spark.sparkContext
    sc.setJobGroup("read-clusters", "read_clusters")
    try:
        clusters = read_clusters(spark, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("read-clusters") == []
    assert clusters.count() == 60


def test_store_leaves_hold_one_file(spark, tmp_path):
    """Each store write is repartitioned by its bucket column: after a
    2-shard run every (bucket, batch_id) leaf, and every bucket of the
    restaged clusters store, holds one parquet file, not one per
    writing task."""
    store = str(tmp_path / "store_files")
    pages = generate_pages(spark, 200, cluster_size=4).drop("entity_id").cache()
    for i in range(2):
        shard = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i)
        process_linkage_batch(shard, i, store, n_buckets=8)
    leaves = {"features": "batch_id=", "blocks": "batch_id=", "pairs": "batch_id=",
              "clusters": "nbucket="}
    for name, leaf in leaves.items():
        files = {
            root: sum(f.endswith(".parquet") for f in names)
            for root, _, names in os.walk(os.path.join(store, name))
            if leaf in root
        }
        assert files and set(files.values()) == {1}, (name, files)


def test_stream_rejects_unsupported_config(spark, tmp_path):
    """A config the stream cannot honor raises ValueError before any
    write: the hyperplane channel, a block-size cap, the band-match
    gate."""
    store = str(tmp_path / "store_reject")
    pages = spark.createDataFrame([("u", "some text")], "url string, text string")
    stream = read_page_stream(spark, str(tmp_path))
    for cfg in (
        LinkageConfig(),
        LinkageConfig(max_block_size=None),
        LinkageConfig(use_embedding_blocks=False),
        _stream_cfg(min_band_matches=2),
    ):
        with pytest.raises(ValueError, match="cannot honor"):
            process_linkage_batch(pages, 0, store, cfg, n_buckets=8)
        with pytest.raises(ValueError, match="cannot honor"):
            incremental_linkage(stream, store, str(tmp_path / "ckpt"), cfg)
    assert not os.path.exists(store)


def test_incremental_linkage_stream_wrapper(spark, tmp_path):
    """incremental_linkage (the writeStream wrapper over
    process_linkage_batch) runs end-to-end from file drops through the
    streaming checkpoint: clusters exist and re-running the stream with
    the same checkpoint is a no-op (no duplicated state)."""
    src = str(tmp_path / "drops_full")
    store = str(tmp_path / "store_stream_full")
    ckpt = str(tmp_path / "ckpt_stream_full")
    pages = generate_pages(spark, 60, cluster_size=4).drop("entity_id").cache()
    for i in range(2):
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i).coalesce(
            1
        ).write.parquet(src + f"/shard={i}")

    stream = read_page_stream(spark, src + "/shard=*", max_files=1)
    q = incremental_linkage(stream, store, ckpt, n_buckets=8).start()
    q.awaitTermination(180)
    first = _mapping(spark, store)
    assert len(first) == 60
    assert len({c for _, c in first}) < 60  # real merges happened

    # restart against the same checkpoint: committed batches don't re-run
    stream2 = read_page_stream(spark, src + "/shard=*", max_files=1)
    q2 = incremental_linkage(stream2, store, ckpt, n_buckets=8).start()
    q2.awaitTermination(120)
    again = _mapping(spark, store)
    assert again == first


def test_crash_mid_cluster_swap_recovers_to_batch_result(
    spark, tmp_path, monkeypatch
):
    """r4 ADVICE (medium): a crash midway through the multi-bucket
    clusters rewrite must not leave a permanently split cluster.  The
    rewrite is now a journaled staged swap: inject a crash after the
    FIRST bucket rename of the final batch's commit (journal written =
    commit point passed, swap partial), then (a) a plain reader rolls
    the commit forward and already sees the full post-batch mapping,
    and (b) replaying the batch — what the streaming engine does for an
    uncommitted batch — converges to exactly the batch pipeline's
    clusters."""
    import biomedical_el_spark.streaming.incremental as inc

    store = str(tmp_path / "store_crash")
    pages = generate_pages(spark, 90, cluster_size=3).drop("entity_id").cache()
    shards = [
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i).cache()
        for i in range(3)
    ]
    inc.process_linkage_batch(shards[0], 0, store, n_buckets=8)
    inc.process_linkage_batch(shards[1], 1, store, n_buckets=8)

    real = inc._commit_swaps

    def crashing(store_dir, spec, fail_after=None):
        return real(store_dir, spec, fail_after=1)

    monkeypatch.setattr(inc, "_commit_swaps", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.process_linkage_batch(shards[2], 2, store, n_buckets=8)
    monkeypatch.setattr(inc, "_commit_swaps", real)
    # the journal is the commit point and must have survived the crash
    assert os.path.exists(inc._journal_path(store))

    batch = run_linkage(
        spark,
        pages,
        cfg=_stream_cfg(),
    )
    expected = {
        (r["node"], r["component"]) for r in batch["clusters"].collect()
    }

    # (a) read-side roll-forward: committed state is already the full
    # post-batch mapping, never a partial one
    recovered = {
        (r["node"], r["component"])
        for r in inc.read_clusters(spark, store).collect()
    }
    assert recovered == expected
    assert not os.path.exists(inc._journal_path(store))

    # (b) crash-retry replay of the uncommitted batch is a no-op
    inc.process_linkage_batch(shards[2], 2, store, n_buckets=8)
    streamed = {
        (r["node"], r["component"])
        for r in inc.read_clusters(spark, store).collect()
    }
    assert streamed == expected


def test_min_url_batch_renames_components(spark, tmp_path):
    """A batch that brings the MIN-url page of existing clusters renames
    their components: commit a 600-page batch, then a batch holding the
    held-out min-url page of 8 clusters.  Every member of those clusters
    must move to the held-out url's id, and the streamed clusters must
    equal run_linkage's on the union corpus."""
    from pyspark.sql import Window

    store = str(tmp_path / "store_rename")
    pages = generate_pages(spark, 600, cluster_size=4).cache()
    ranked = pages.withColumn(
        "rn", F.row_number().over(Window.partitionBy("entity_id").orderBy("url"))
    )
    holdout = [
        r["entity_id"]
        for r in pages.select("entity_id").distinct().orderBy("entity_id").limit(8).collect()
    ]
    is_held = (F.col("rn") == 1) & F.col("entity_id").isin(holdout)
    held = ranked.filter(is_held).drop("rn", "entity_id").cache()
    rest = ranked.filter(~is_held).drop("rn", "entity_id").cache()
    held_urls = {r["url"] for r in held.select("url").collect()}
    assert len(held_urls) == 8

    process_linkage_batch(rest, 0, store, n_buckets=8)
    before = dict(_mapping(spark, store))
    assert not held_urls & set(before.values())
    process_linkage_batch(held, 1, store, n_buckets=8)
    after = _mapping(spark, store)

    expected = {
        (r["node"], r["component"])
        for r in run_linkage(spark, pages.drop("entity_id"), cfg=_stream_cfg())[
            "clusters"
        ].collect()
    }
    assert after == expected
    renamed = {before[n] for n, c in after if c in held_urls and n in before}
    assert len(renamed) == 8 and held_urls <= {c for _, c in after}


def test_stream_kill_after_links_restart_equals_batch(
    spark, tmp_path, monkeypatch
):
    """r4 verdict #5: kill the STREAM itself mid-batch — after scoring,
    before `_update_clusters` — then restart `incremental_linkage` against the same
    checkpoint.  The failed batch was never committed to the streaming
    checkpoint, so the engine replays it; replay must converge to
    exactly the batch pipeline's clusters on the union corpus (the
    earlier crash tests drive process_linkage_batch directly — this one
    exercises the real foreachBatch checkpoint-restart path)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import biomedical_el_spark.streaming.incremental as inc

    src = str(tmp_path / "drops_kill")
    store = str(tmp_path / "store_kill")
    ckpt = str(tmp_path / "ckpt_kill")
    pages = generate_pages(spark, 90, cluster_size=3).drop("entity_id").cache()
    for i in range(3):
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i).coalesce(
            1
        ).write.parquet(src + f"/shard={i}")

    real = inc._update_clusters
    calls = {"n": 0}

    def dying(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:  # micro-batch 1's pairs are already on disk
            raise RuntimeError("injected kill before the clusters update")
        return real(*args, **kwargs)

    monkeypatch.setattr(inc, "_update_clusters", dying)
    stream = inc.read_page_stream(spark, src + "/shard=*", max_files=1)
    q = inc.incremental_linkage(stream, store, ckpt, n_buckets=8).start()
    with pytest.raises(StreamingQueryException, match="injected kill"):
        q.awaitTermination(180)
    monkeypatch.setattr(inc, "_update_clusters", real)

    # restart against the same checkpoint: the uncommitted batch replays
    stream2 = inc.read_page_stream(spark, src + "/shard=*", max_files=1)
    q2 = inc.incremental_linkage(stream2, store, ckpt, n_buckets=8).start()
    q2.awaitTermination(180)

    streamed = {
        (r["node"], r["component"])
        for r in inc.read_clusters(spark, store).collect()
    }
    batch = run_linkage(
        spark,
        pages,
        cfg=_stream_cfg(),
    )
    expected = {
        (r["node"], r["component"]) for r in batch["clusters"].collect()
    }
    assert streamed == expected
