"""The flagship linkage pipeline per micro-batch of a page stream.

The reference has no streaming (SURVEY.md §2.9); this is the natural
extension the north_star sketches: each arriving micro-batch runs the
batch pipeline incrementally — features → band keys joined against the
accumulated key store → exactly-once new pairs → scoring → τ links →
cluster maintenance — without recomputing old blocks.  `run_linkage`'s
`LinkageConfig` drives it (featurized by the same `featurize`), so
streaming N batches equals `run_linkage` on their union under the same
config; the stream implements band-key blocking, uncapped, only.

Store layout is BUCKET-FIRST (`<col>=<b>/batch_id=<n>`): every store
buckets its rows (`blocks` by block key, the others by `_bucket`,
`pmod(xxhash64(cols), n_buckets)`), so a retried batch replaces its own
(bucket, batch_id) leaves and compaction merges a bucket's leaves.  A
batch reads each store whole (`_read_store`), not by bucket.  Each page
writes 16 band keys, so a P-page batch touches 1 - (63/64)^(16P) of 64
buckets: 92% at P = 10, 99.4% at P = 20, while the stream's input is
crawl shards at `maxFilesPerTrigger=10`; on the 2,000-page batches of
`mirror_dupes` a bucket-pruned read asked for every bucket, at 8 buckets
and at 64.  The trade-off: a batch of about 10 pages or fewer, on a
large store, reads the whole store where bucket pruning would have
skipped part of it.  On a cluster the store is an Iceberg table with a
bloom filter on block_key.
The first batch writes `_store.json` (`STORE_FORMAT`, config
fingerprint, `n_buckets`); a later batch that disagrees with it, or
finds data without it, raises: a store keyed another way silently
misses pairs, so it must be rebuilt from its pages.  The readers
(`read_clusters`, `compact_blocks_store`) check its format too.

Pairs are exactly-once ACROSS batches, not just per batch partition: a
re-crawled url in a later micro-batch regenerates pairs an earlier batch
already committed, so new pairs are anti-joined against the committed
pairs store before writing.
`process_block_batch` hands the pairs it committed to the scoring step
directly, so the batch never reads its own output back.

`compact_blocks_store` merges a bucket's many small per-batch files into
one `batch_id=-1` partition — the local-mode analogue of Iceberg
`rewrite_data_files`; run it between triggers.

Also provides the watermarked windowed ingest-rate aggregation
(`pages_per_window`) — the standard late-data-tolerant stream metric.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cc import connected_components, with_singletons
from ..operators.features import band_keys_from_sig
from ..operators.scoring import match_links, score_pairs_from_features
from ..plans.linkage import LinkageConfig, featurize, resolved_config
from ..sources.pages import PAGES_SCHEMA
from ..sources.snapshots import fingerprint

COMPACTED_BATCH_ID = -1
# The store's layout plus its band-key formula (`band_keys_from_sig`).
# Bump it on any change to either: stores written before the change
# then fail fast on their marker instead of silently missing pairs.
# Format 2 drops format 1's component-keyed clusters mirror.
STORE_FORMAT = 2
STORE_MARKER = "_store.json"
CLUSTERS = "clusters"
# The schema each store's writer fixes: its data columns, then the
# partition columns of its directories.  Every store read goes through
# `_store_reader`, which reads with it; inferring it instead runs a
# one-task parquet footer job per read.
STORE_SCHEMAS = {
    "features": "url string, vec array<tinyint>, sig array<int>, prefix string, "
    "fbucket int, batch_id int",
    "blocks": "url string, block_key bigint, bucket int, batch_id int",
    "pairs": "url_a string, url_b string, pbucket int, batch_id int",
    CLUSTERS: "node string, component string, nbucket int",
}


def read_page_stream(spark: SparkSession, path: str, max_files: int = 10) -> DataFrame:
    """File-source stream of page parquet drops (one file = one crawl
    shard).  On a cluster this is Kafka/Iceberg-incremental instead."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def _bucket(n_buckets: int, *cols: str) -> Column:
    """The bucket of a row in the features, pairs and clusters stores."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def _store_reader(spark: SparkSession, store: str) -> DataFrameReader:
    """A reader of the store directory `store`, with its `STORE_SCHEMAS`
    entry (by directory name) and `store` as the partition base path."""
    schema = STORE_SCHEMAS[os.path.basename(store)]
    return spark.read.schema(schema).option("basePath", store)


def _read_store(spark: SparkSession, store: str) -> DataFrame | None:
    """The whole store directory `store`, read without a job
    (`_store_reader`); None while the store holds no data."""
    if not os.path.isdir(store):
        return None
    return _store_reader(spark, store).parquet(store)


def _write_batch(df: DataFrame, store: str, col: str, batch_id: int) -> None:
    """Write `df` as batch `batch_id` of the bucket-first `store`
    (`<col>=<b>/batch_id=<n>`).  It is hash-repartitioned by its bucket
    column `col`, so each leaf is one file, not one per writing task, and
    written with a dynamic partition overwrite, so a retried batch
    replaces its own leaves instead of appending duplicates."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .repartition(col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col, "batch_id")
        .parquet(store)
    )


def process_block_batch(
    feats: DataFrame,
    batch_id: int,
    store_dir: str,
    cfg: LinkageConfig,
    n_buckets: int,
) -> DataFrame:
    """One micro-batch of incremental blocking over the batch's feature
    table.  Module-level (not a closure) so idempotency is directly
    testable: calling it twice with the same batch_id must leave the
    store unchanged.  Checks the store's marker first (and marks an
    empty store), like `process_linkage_batch`.

    Returns the pairs this batch committed (`url_a`, `url_b`,
    `pbucket`), already materialized (persisted, or checkpointed once
    earlier batches have committed pairs), so the caller scores them
    without reading the pairs store back and then unpersists them.

    Idempotency: outputs are partitioned `bucket/batch_id` and written
    with DYNAMIC partition overwrite — a retried micro-batch REPLACES its
    own (bucket, batch_id) leaves instead of appending duplicates.
    Features are deterministic, so a retry covers the same buckets.

    Exactly-once pairs: new pairs are anti-joined against pairs already
    committed by EARLIER batches (own batch_id excluded, so a retry that
    half-wrote its partition still re-emits its own pairs) before
    writing.
    """
    _check_store_marker(store_dir, cfg, n_buckets)
    spark = feats.sparkSession
    keys = (
        band_keys_from_sig(feats, cfg.bands, cfg.rows_per_band)
        .withColumn("bucket", F.pmod(F.col("block_key"), F.lit(n_buckets)).cast("int"))
        .persist()
    )
    _write_batch(keys, f"{store_dir}/blocks", "bucket", batch_id)
    # incremental pairs: this batch's keys × accumulated keys (the store
    # holds this batch's own keys now, so it is never empty)
    acc = _read_store(spark, f"{store_dir}/blocks")
    new_pairs = (
        keys.withColumnRenamed("url", "url_a")
        .join(acc.withColumnRenamed("url", "url_b"), "block_key")
        .filter(F.col("url_a") != F.col("url_b"))
        .select(
            F.least("url_a", "url_b").alias("url_a"),
            F.greatest("url_a", "url_b").alias("url_b"),
        )
        .distinct()
        .withColumn("pbucket", _bucket(n_buckets, "url_a", "url_b"))
    )
    prev = _read_store(spark, f"{store_dir}/pairs")
    if prev is None:
        committed = new_pairs.persist()  # read twice: the write, then scoring
    else:
        earlier = prev.filter(F.col("batch_id") != batch_id).select("url_a", "url_b")
        # checkpointed, not persisted: the write below drops the cache of
        # every plan that reads the pairs store, this anti-join included
        committed = new_pairs.join(earlier, ["url_a", "url_b"], "left_anti")
        committed = committed.localCheckpoint()
    _write_batch(committed, f"{store_dir}/pairs", "pbucket", batch_id)
    keys.unpersist()
    return committed


def committed_batch_ids(checkpoint_dir: str) -> set[int]:
    """Batch ids the streaming checkpoint has COMMITTED (one file per id
    under `commits/`) — the only batches whose store leaves are safe to
    rewrite: an id without a commit marker may re-run and rewrite its
    own (bucket, batch_id) leaves."""
    commits = os.path.join(checkpoint_dir, "commits")
    ids: set[int] = set()
    if os.path.isdir(commits):
        for name in os.listdir(commits):
            if name.isdigit():
                ids.add(int(name))
    return ids


def compact_blocks_store(
    spark: SparkSession,
    store_dir: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Merge accumulated per-batch files into a single `batch_id=-1`
    partition per bucket (one file per bucket) — the local-parquet
    analogue of Iceberg `rewrite_data_files`.

    Run BETWEEN triggers (it is a maintenance op, not part of a batch):
    the rewrite-then-swap is not atomic on a local filesystem, so it must
    not race the stream; on a cluster use a table format with atomic
    commit instead.

    checkpoint_dir given (recommended): only leaves whose batch_id is
    recorded as committed in the streaming checkpoint (plus previous
    compactions) are absorbed; leaves of uncommitted batches — e.g. the
    half-written output of a batch that crashed before its commit marker
    — are carried over UNTOUCHED, so the retry's dynamic overwrite
    replaces them instead of duplicating rows the compaction had already
    absorbed.  checkpoint_dir=None absorbs everything and is only safe
    while the stream is healthy between triggers (no crashed,
    uncommitted batch output on disk).  A store marked with another
    `STORE_FORMAT`, or with data but no marker, raises ValueError.
    """
    _check_store_marker(store_dir)
    base = f"{store_dir}/blocks"
    if not os.path.isdir(base):
        return
    leaves: list[tuple[str, int, str]] = []  # (bucket_dir_name, batch_id, leaf_path)
    for bdir in sorted(os.listdir(base)):
        if not bdir.startswith("bucket="):
            continue
        for leaf in sorted(os.listdir(os.path.join(base, bdir))):
            if leaf.startswith("batch_id="):
                leaves.append(
                    (bdir, int(leaf.split("=", 1)[1]), os.path.join(base, bdir, leaf))
                )
    if checkpoint_dir is not None:
        safe = committed_batch_ids(checkpoint_dir) | {COMPACTED_BATCH_ID}
        absorb = [p for _, b, p in leaves if b in safe]
        carry = [(d, b) for d, b, p in leaves if b not in safe]
    else:
        absorb = [p for _, _, p in leaves]
        carry = []
    if not absorb:
        return
    tmp = f"{store_dir}/blocks_compacting"
    old = f"{store_dir}/blocks_old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    (
        _store_reader(spark, base)
        .parquet(*absorb)
        .withColumn("batch_id", F.lit(COMPACTED_BATCH_ID))
        .repartition(len({d for d, _, _ in leaves}), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket", "batch_id")
        .parquet(tmp)
    )
    # carry uncommitted leaves over physically, untouched
    for bdir, b in carry:
        dst = os.path.join(tmp, bdir, f"batch_id={b}")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(os.path.join(base, bdir, f"batch_id={b}"), dst)
    os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old, ignore_errors=True)


def _journal_path(store_dir: str) -> str:
    return os.path.join(store_dir, "clusters_commit.json")


def _write_journal(store_dir: str, spec: dict) -> None:
    """Write-ahead intent log for the multi-bucket swap, made visible in
    one atomic rename — the commit point.  Before it exists, only
    staging dirs were touched; after, roll-forward completes the swap."""
    tmp = _journal_path(store_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(spec, f)
    os.replace(tmp, _journal_path(store_dir))


def _commit_swaps(store_dir: str, spec: dict, fail_after: int | None = None) -> None:
    """Apply a journaled clusters swap: rename each staged bucket dir
    into place.  Every step is idempotent (src-missing ⇒ already
    swapped; rmtree tolerates absence), so re-running after a crash at
    ANY point completes the same commit.  `fail_after` (tests only)
    raises after N bucket renames to simulate a crash mid-swap."""
    base = os.path.join(store_dir, CLUSTERS)
    staging = base + "_staging"
    os.makedirs(base, exist_ok=True)
    done = 0
    for b in spec["swap"]:
        src = os.path.join(staging, f"nbucket={b}")
        dst = os.path.join(base, f"nbucket={b}")
        if os.path.isdir(src):
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(src, dst)
            done += 1
            if fail_after is not None and done >= fail_after:
                raise RuntimeError("injected crash mid-swap (test)")
    shutil.rmtree(staging, ignore_errors=True)
    os.remove(_journal_path(store_dir))


def _recover_clusters(store_dir: str) -> None:
    """Roll forward (or discard) an interrupted clusters commit.  Journal
    present ⇒ the commit point passed: complete the swap so the mapping
    is never observed partially applied (the pre-round-5 dynamic
    overwrite could crash mid-way and leave a permanently split cluster
    when the replay's lifted edges all collapsed to src==dst).  No
    journal ⇒ a staging dir is pre-commit garbage from a crashed write;
    remove it."""
    j = _journal_path(store_dir)
    if os.path.exists(j):
        with open(j) as f:
            spec = json.load(f)
        _commit_swaps(store_dir, spec)
        return
    shutil.rmtree(os.path.join(store_dir, CLUSTERS + "_staging"), ignore_errors=True)


def _stage(store_dir: str, old: DataFrame | None, updates: DataFrame) -> list[int]:
    """Write the clusters store with `updates` applied into
    `clusters_staging`: `old` (the whole store, or None while it is
    empty) without the updated nodes, plus their new rows.  Returns the
    staged buckets, listed from the staging directory.  A node keeps its
    bucket, so they cover every bucket of the store: the swap replaces
    each one and leaves none behind."""
    staging = os.path.join(store_dir, CLUSTERS + "_staging")
    shutil.rmtree(staging, ignore_errors=True)
    out = updates.select("node", "component", "nbucket")
    if old is not None:
        keep = old.join(updates.select("node"), "node", "left_anti")
        out = keep.select("node", "component", "nbucket").unionByName(out)
    out.repartition("nbucket").write.partitionBy("nbucket").parquet(staging)
    return sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(staging) if d.startswith("nbucket=")
    )


def _update_clusters(
    spark: SparkSession,
    store_dir: str,
    links: DataFrame,
    n_buckets: int,
    checkpoint_dir: str | None = None,
) -> None:
    """Incremental connected-components maintenance over the clusters
    store (`clusters/nbucket=<_bucket(node)>` → (node, component),
    component = min node id of the cluster — the batch pipeline's id
    convention, so incremental and batch agree exactly).  The store is
    read once, whole, and persisted: that one read serves the
    link-endpoint lift, the new-node anti-join and the members of the
    components the batch merges.  CC checkpoints into `checkpoint_dir`
    when given (reliable), else locally.

    Crash consistency: the store is updated through ONE staged,
    journaled, idempotent bucket swap (`_write_journal`/`_commit_swaps`,
    rolled forward by `_recover_clusters` at entry).  A crash before the
    journal rename leaves the old mapping fully intact (replay
    recomputes identically); a crash after it is completed by roll-
    forward before the replay lifts anything — a partially-applied
    mapping is never observable, which is what makes the empty-
    comp_edges early return safe.  On a cluster this journal is exactly
    the atomic multi-partition snapshot commit Iceberg provides
    natively.  Component ids are global min node ids, independent of
    merge order, so replaying a batch's links is always convergent."""
    _recover_clusters(store_dir)
    base = os.path.join(store_dir, CLUSTERS)
    # the swap renames files OUTSIDE Spark — drop any cached file
    # listing for the store before reading it
    spark.catalog.refreshByPath(base)

    li = links.select("url_a", "url_b").distinct().persist()
    link_nodes = (
        li.select(F.col("url_a").alias("node"))
        .union(li.select(F.col("url_b").alias("node")))
        .distinct()
        .persist()
    )
    cached = [li, link_nodes]
    old = _read_store(spark, base)
    if old is not None:
        old = old.persist()
        cached.append(old)
        ca = old.select(F.col("node").alias("url_a"), F.col("component").alias("ca"))
        cb = old.select(F.col("node").alias("url_b"), F.col("component").alias("cb"))
        lifted = (
            li.join(ca, "url_a", "left")
            .join(cb, "url_b", "left")
            .select(
                F.coalesce("ca", "url_a").alias("src"),
                F.coalesce("cb", "url_b").alias("dst"),
            )
        )
    else:
        lifted = li.select(F.col("url_a").alias("src"), F.col("url_b").alias("dst"))
    comp_edges = lifted.filter(F.col("src") != F.col("dst")).distinct().persist()
    cached.append(comp_edges)
    if comp_edges.limit(1).count() == 0:
        # safe: recovery above guarantees the mapping these edges were
        # lifted through is a fully-committed one
        for df in cached:
            df.unpersist()
        return
    comp_cc = connected_components(
        comp_edges, src_col="src", dst_col="dst", checkpoint_dir=checkpoint_dir
    ).persist()  # (node = old component id or new node, component = new id)
    cached.append(comp_cc)

    new_nodes = link_nodes
    affected_old = None
    if old is not None:
        new_nodes = link_nodes.join(old.select("node"), "node", "left_anti")
        changed = comp_cc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("component"), F.col("component").alias("newc")
        )
        # members of merged components move to the merged component's id
        affected_old = old.join(changed, "component").select(
            "node", F.col("newc").alias("component")
        )
    new_rows = new_nodes.join(comp_cc, "node", "left").select(
        F.col("node"), F.coalesce("component", "node").alias("component")
    )
    updates = (
        (new_rows if affected_old is None else affected_old.unionByName(new_rows))
        .withColumn("nbucket", _bucket(n_buckets, "node"))
        .persist()
    )
    cached.append(updates)

    # ---- stage the store, then journal + atomic-equivalent swap ----
    spec = {"swap": _stage(store_dir, old, updates)}
    _write_journal(store_dir, spec)
    _commit_swaps(store_dir, spec)
    for df in cached:
        df.unpersist()
    spark.catalog.refreshByPath(base)


def read_clusters(spark: SparkSession, store_dir: str) -> DataFrame:
    """(node, component) for every ingested page: the maintained mapping
    for linked nodes, singletons (their own component) derived from the
    features store — same contract as the batch pipeline's clusters
    output.  Rolls forward any interrupted clusters commit first, so a
    reader never observes a partially-swapped mapping.  A store marked
    with another `STORE_FORMAT`, or with data but no marker, raises
    ValueError."""
    _check_store_marker(store_dir)
    _recover_clusters(store_dir)
    base = os.path.join(store_dir, CLUSTERS)
    spark.catalog.refreshByPath(base)
    feats = f"{store_dir}/features"
    nodes = _store_reader(spark, feats).parquet(feats).select(
        F.col("url").alias("node")
    ).distinct()
    mapped = _read_store(spark, base)
    if mapped is None:
        return nodes.withColumn("component", F.col("node"))
    return with_singletons(mapped.select("node", "component"), nodes)


def _stream_config(cfg: LinkageConfig | None) -> LinkageConfig:
    """`cfg`, or the stream's default, once checked.  The stream blocks
    on band keys alone and implements neither the hyperplane channel nor
    the band-match gate; nor a block-size cap, because a block grows with
    later batches and a cap would have to retract pairs already emitted."""
    cfg = cfg or LinkageConfig(use_embedding_blocks=False, max_block_size=None)
    if cfg.use_embedding_blocks or cfg.max_block_size is not None or cfg.min_band_matches > 1:
        raise ValueError(
            "the streaming pipeline cannot honor use_embedding_blocks="
            f"{cfg.use_embedding_blocks}, max_block_size={cfg.max_block_size}, "
            f"min_band_matches={cfg.min_band_matches}; it needs False, None, 1"
        )
    if cfg.bands * cfg.rows_per_band != cfg.num_hashes:
        raise ValueError("bands * rows_per_band must equal num_hashes")
    return cfg


def _check_store_marker(
    store_dir: str, cfg: LinkageConfig | None = None, n_buckets: int | None = None
) -> None:
    """Fail fast unless `store_dir` is empty or marked with this store
    format and, given `cfg`, with this config and bucket count.  A writer
    (`cfg` given) marks an empty store by atomic rename before it writes
    anything; a reader (`cfg` None) compares the store format only."""
    want = {"store_format": STORE_FORMAT}
    if cfg is not None:
        want["config"] = fingerprint(resolved_config(cfg, 0))
        want["n_buckets"] = n_buckets
    path = os.path.join(store_dir, STORE_MARKER)
    if os.path.exists(path):
        with open(path) as f:
            have = json.load(f)
        if {k: have.get(k) for k in want} == want:
            return
        problem = f"was written with {have}, not {want}"
    elif os.path.isdir(store_dir) and set(os.listdir(store_dir)) - {STORE_MARKER + ".tmp"}:
        problem = f"has data but no {STORE_MARKER}"
    elif cfg is None:
        return
    else:
        os.makedirs(store_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(want, f)
        os.replace(path + ".tmp", path)
        return
    raise ValueError(
        f"streaming store {store_dir} {problem}; rebuild the store: stream "
        "its pages into a new, empty directory"
    )


def process_linkage_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    cfg: LinkageConfig | None = None,
    n_buckets: int = 64,
) -> None:
    """The FULL flagship per micro-batch: features → incremental blocking
    → exactly-once new candidate pairs (process_block_batch) → fused
    scoring of the new pairs (same Arrow kernels as batch) → τ links →
    incremental cluster maintenance (_update_clusters).  An arriving
    micro-batch therefore updates `clusters`, not just candidate pairs —
    the streaming pipeline ends where the batch pipeline ends.  The
    pairs scored are the ones process_block_batch returns (the ones this
    batch committed), not a read of the pairs store, and the links they
    yield go straight to the clusters update: no store keeps them.

    `cfg` is run_linkage's config (default: band keys only, uncapped);
    its `checkpoint_dir` is where the clusters update checkpoints CC.
    A config the stream cannot honor, or a store marked with another
    format, config or `n_buckets`, raises ValueError before any write.

    Stores (all bucket-first, dynamic-overwrite idempotent; each write
    is hash-repartitioned by its bucket column, so a (bucket, batch_id)
    leaf is one file, not one per writing task):
      features/fbucket/batch_id — narrow hydration relation
      blocks/bucket/batch_id, pairs/pbucket/batch_id — as before
      clusters/nbucket         — mutable (node → component) mapping

    Exactly-once links follow from exactly-once pairs (links are a pure
    per-row function of a pair's two feature rows); cluster updates are
    idempotent-converging under retry (see _update_clusters).  The
    equivalence contract — stream N batches ≡ run the batch pipeline on
    the union corpus under the same config — is asserted in
    tests/test_streaming.py."""
    cfg = _stream_config(cfg)
    _check_store_marker(store_dir, cfg, n_buckets)
    spark = batch_df.sparkSession
    feats = featurize(batch_df, cfg).withColumn("fbucket", _bucket(n_buckets, "url"))
    feats = feats.persist()
    _write_batch(feats, f"{store_dir}/features", "fbucket", batch_id)
    pairs = process_block_batch(
        feats.drop("fbucket"), batch_id, store_dir, cfg, n_buckets
    )
    feats.unpersist()
    # a re-crawled url exists under several batch_ids in the features
    # store; NEW pairs must score against its LATEST features only
    # (pairs committed by earlier batches keep their at-ingest scores —
    # the incremental contract)
    latest = Window.partitionBy("url").orderBy(F.col("batch_id").desc())
    hydr = (
        _read_store(spark, f"{store_dir}/features")
        .withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    scored = score_pairs_from_features(
        pairs.select("url_a", "url_b"),
        hydr.select("url", "vec", "sig", "prefix"),
        cfg.weights,
    )
    links = match_links(scored, cfg.tau)
    _update_clusters(spark, store_dir, links, n_buckets, cfg.checkpoint_dir)
    pairs.unpersist()


def incremental_linkage(
    pages_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    cfg: LinkageConfig | None = None,
    n_buckets: int = 64,
):
    """writeStream wrapper running the FULL pipeline per micro-batch —
    the streaming counterpart of run_linkage.  Spark's checkpoint tracks
    committed batch ids (the streaming analogue of the SnapshotStore
    manifest); with the idempotent batch writes, a crash/retry at any
    point converges to exactly-once output."""
    cfg = _stream_config(cfg)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_linkage_batch(batch_df, batch_id, store_dir, cfg, n_buckets)

    return (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def pages_per_window(
    pages_stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window ingest counts by language — late pages
    beyond the watermark are dropped deterministically (the Structured
    Streaming late-data contract)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "lang",
            "n_pages",
        )
    )
