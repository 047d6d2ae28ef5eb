"""The flagship end-to-end linkage pipeline (reference inference path,
SURVEY.md §3.3, restated Spark-first):

    pages ── features (ONE batched Arrow pass: embedding + minhash sig)
        ├── shingle-LSH band keys ──┐
        └── hyperplane LSH buckets ─┴─ candidate pairs (block-size capped,
              oversized reported) → pairwise scoring (cos + sig-jaccard +
              jaro-winkler over narrow feature joins, AQE skew-handled)
              → τ links → large-star/small-star connected components
              (finished in one vectorized task once the edge frontier
              fits one partition)

Every stage is materialized, in order, before the next one starts, on
both paths.  With a snapshot store each stage (features, blocks, pairs,
scored, links, clusters + lineage/score metrics) commits a snapshot
keyed by config+upstream fingerprint, and a killed run resumes from the
last committed stage with identical output (tested: resume == fresh).
On a cluster these are Iceberg tables; the features table is the one
worth bucketing by url.  Without a store each stage is persisted and
computed by a `noop` write, so a returned frame never re-runs its
upstream.  Either way the session's shuffle width is handed back as it
was found.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import metrics as M
from ..functions.embedder import hyperplane_lsh_udf
from ..operators import cc as CC
from ..operators import pairs as P
from ..operators import scoring as S
from ..operators.features import band_keys_from_sig, page_features
from ..sources.snapshots import SnapshotStore, fingerprint


@dataclass
class LinkageConfig:
    """Pipeline semantics + execution knobs.

    Semantic fields are serialized into the snapshot fingerprint, so
    ADDING a semantic field (or changing a default) intentionally
    invalidates pre-change snapshot stores: a resumed run recomputes
    rather than silently mixing outputs from two different pipeline
    definitions.  Execution-only fields (checkpoint_dir, num_partitions,
    pairs_single_exchange) are excluded and never invalidate.
    """
    num_hashes: int = 32
    bands: int = 16
    rows_per_band: int = 2
    minhash_seed: int = 42
    use_embedding_blocks: bool = True
    hyperplanes: int = 12
    max_block_size: int = 64
    # what to do with blocks over the cap: "star" pairs every member
    # with the block's min url — O(b) pairs whose τ-scoring plus
    # transitive closure can recover an evicted duplicate group; None
    # (default) excludes them.  Default OFF by measurement
    # (tools/capscale_ab.json, BENCH.md "Oversized-block controls A/B",
    # 1M pages): cap eviction costs only 0.76% of gold pairs there (2.0%
    # more are banding misses that share NO key), and star recovered ~none of them (+0.000 recall for +34%
    # wall — oversized blocks on this corpus are boilerplate key
    # collisions, not duplicate groups, so hub edges fail τ).  Enable
    # for corpora where hot blocks ARE duplicate blobs (mirrors,
    # parked-domain farms) — the unit tests construct that shape.
    oversized_escape: str | None = None
    # evidence-count gate at pair dedup: keep only candidate pairs that
    # collide in >= this many DISTINCT blocks (bands and embedding
    # buckets both count).  Rides the groupBy exchange that distinct()
    # already pays — zero extra shuffle.  SEMANTIC knob (changes the
    # candidate set, hence recall): default 1 = today's any-single-block
    # behavior; 2 suppresses low-similarity junk multiplicatively where
    # rows_per_band+1 would also tax true pairs.  Measured tradeoff
    # (recall / junk-pair volume / wall) in tools/banding_ab.json and
    # BENCH.md.  Star-escape hub pairs are exempt (their evidence is one
    # oversized block by construction).
    min_band_matches: int = 1
    tau: float = 0.62
    jw_prefix: int = 32
    weights: dict = field(default_factory=lambda: dict(S.DEFAULT_WEIGHTS))
    # NFD accent-strip before key derivation (blocking + JW prefix) — for
    # non-English corpora where 'café' appears in both NFC and NFD
    normalize_accents: bool = False
    # reliable CC checkpoint dir (HDFS/object store on a cluster);
    # None = localCheckpoint (local-mode speed, not executor-loss safe)
    checkpoint_dir: str | None = None
    # partition count for the CPU-bound feature stage (and the stages'
    # shuffle width follows it on big corpora): None = data-proportional,
    # ~TASK_PAGES pages per task floored at 2×parallelism.  Tasks stay
    # minutes-bounded as the corpus grows — a fixed 2×cores width at 16M+
    # pages makes every task a multi-minute straggler target and loses
    # the multi-wave balancing that absorbs slow cores (A/B: 16c/16M
    # went 1561s → see BENCH.md once sized by data).  Execution detail,
    # excluded from the snapshot fingerprint.
    num_partitions: int | None = None
    # pair-gen physical-plan knob: block sizes as count-over-window and
    # collect_list on ONE hash exchange of the block relation instead of
    # shuffling it twice (singletons and oversized keys filtered before
    # any agg state).  Identical results either way; execution detail,
    # excluded from the snapshot fingerprint.  Default ON by measurement
    # (tools/conf_ab_results.json, BENCH.md "Pair-generation exchange
    # A/B", same-window pairs): 16c/16M gate leg 1257.3 s
    # vs 1378.4 s two-pass (−8.8%, despite the single-exchange leg
    # drawing the noisier spin window), 16c/1M −3.9% and −7.3%.
    pairs_single_exchange: bool = True


# target pages per feature-stage task: ~10-15s of Arrow UDF work — small
# enough for wave balancing, large enough to amortize batch setup
TASK_PAGES = 50_000


def _estimate_rows(pages: DataFrame, sample_files: int = 64) -> int:
    """Upper-bound row estimate from parquet FOOTERS — pure metadata, no
    Spark job, no lineage execution.  (A `count()` here is a real
    aggregate job: for a bare scan it's one pass over the input, and for
    a UDF-heavy upstream it runs the whole lineage once before the
    feature stage even starts.)  Returns 0 (caller falls back to
    2×parallelism) when the plan isn't a local parquet file scan.  For
    huge file lists only `sample_files` footers are read, evenly spaced,
    and the total is extrapolated — partition sizing needs magnitude,
    not exactness."""
    try:
        files = [f for f in pages.inputFiles() if f.endswith(".parquet")]
        if not files:
            return 0
        import pyarrow.parquet as pq
        from urllib.parse import urlparse

        paths = []
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("", "file"):
                # remote FS (hdfs/s3/...): footers aren't reachable from
                # the driver without extra deps, but the scan's catalyst
                # statistics (file-size sum, still metadata-only) are.
                # Rows ~ bytes/1KB assumes >=1 KB per compressed page;
                # overestimating rows only ADDS partitions — the safe
                # direction (the alternative, est=0, silently reverts to
                # the fixed 2x-parallelism width that round 3 measured
                # as the 16M-page straggler bug).
                size = int(
                    pages._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
                if 0 < size < 10**15:  # guard the "unknown" sentinel
                    return size // 1024
                return 0
            paths.append(u.path)
        step = max(1, len(paths) // sample_files)
        sampled = paths[::step]
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in sampled)
        return int(rows * len(paths) / len(sampled))
    except Exception:
        return 0


def resolved_config(cfg: LinkageConfig, est: int) -> dict:
    """The SEMANTIC config dict that keys snapshots: execution-only
    fields dropped.  `est` (the row estimate) is unused; it stays
    because perfbench's traced chain passes it."""
    cfg_dict = asdict(cfg)
    cfg_dict.pop("checkpoint_dir")
    cfg_dict.pop("num_partitions")
    cfg_dict.pop("pairs_single_exchange")
    # storage encoding of the features stage (int8 vec / int32 sig since
    # r5): part of the semantics — a pre-change snapshot store must not
    # be silently mixed with post-change stages
    cfg_dict["features_schema"] = "q8s32"
    return cfg_dict


def featurize(pages: DataFrame, cfg: LinkageConfig) -> DataFrame:
    """The feature table under `cfg`: the one featurization that
    run_linkage and the streaming pipeline both use."""
    return page_features(
        pages,
        cfg.num_hashes,
        cfg.minhash_seed,
        cfg.jw_prefix,
        normalize_accents=cfg.normalize_accents,
    )


# the stages run_linkage returns, in the order it materializes them
STAGES = ("features", "blocks", "pairs", "scored", "links", "clusters")


def stage_fingerprint(cfg: LinkageConfig, input_fingerprint: str = "") -> str:
    """The fingerprint every snapshot of a run under `cfg` over the input
    named `input_fingerprint` commits under.  It reads no data:
    `resolved_config` ignores its row estimate."""
    return fingerprint(resolved_config(cfg, 0), input_fingerprint)


def run_linkage(
    spark: SparkSession,
    pages: DataFrame,
    store: SnapshotStore | None = None,
    cfg: LinkageConfig | None = None,
    input_fingerprint: str = "",
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns all stage DataFrames,
    each already materialized."""
    cfg = cfg or LinkageConfig()
    assert cfg.bands * cfg.rows_per_band == cfg.num_hashes
    cfg_fp = stage_fingerprint(cfg, input_fingerprint)

    def snap(stage: str, compute) -> DataFrame:
        if store is not None:
            return store.get_or_compute(spark, stage, cfg_fp, compute)
        df = compute().persist()
        # a noop write computes every partition into the cache without
        # count()'s extra one-partition aggregate exchange
        df.write.format("noop").mode("overwrite").save()
        return df

    # Explicit repartition before the feature UDF: parquet split packing
    # can hand a small corpus to a handful of tasks; the CPU-bound encoder
    # stage must fan out to the full parallelism (SURVEY.md §4.3) AND
    # stay wave-balanced on big corpora (see num_partitions).  On a
    # cluster this is repartition(N, "url") against bucketed Iceberg.
    n_part = cfg.num_partitions
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if n_part is None:
            # footer-based row estimate: metadata-only, never executes
            # the lineage
            floor = spark.sparkContext.defaultParallelism * 2
            n_part = max(floor, min(_estimate_rows(pages) // TASK_PAGES, 32 * floor))
            # widen shuffles to match: pair-gen/scoring move similar volume
            if n_part > floor:
                spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
        paged = pages.repartition(n_part, "url")
        features = snap("features", lambda: featurize(paged, cfg))

        def compute_blocks() -> DataFrame:
            blk = band_keys_from_sig(features, cfg.bands, cfg.rows_per_band)
            if cfg.use_embedding_blocks:
                key = hyperplane_lsh_udf(cfg.hyperplanes)(F.col("vec"))
                # shift hyperplane buckets into their own bigint key space
                blk = blk.unionByName(
                    features.select(
                        "url",
                        (F.lit(1 << 40) + key.cast("bigint")).alias("block_key"),
                    )
                )
            return blk

        blocks = snap("blocks", compute_blocks)

        def compute_pairs() -> DataFrame:
            cand, oversized = P.candidate_pairs_grouped(
                blocks,
                cfg.max_block_size,
                escape=cfg.oversized_escape,
                single_exchange=cfg.pairs_single_exchange,
                min_matches=cfg.min_band_matches,
            )
            if store is not None:
                store.write(oversized, "oversized_blocks", cfg_fp)  # never silent
            return cand

        pairs = snap("pairs", compute_pairs)

        scored = snap(
            "scored",
            lambda: S.score_pairs_from_features(pairs, features, cfg.weights),
        )
        if store is not None:
            # commit-once like every stage: a resumed run must not re-scan
            # the scored snapshot just to rewrite identical metric tables
            if not store.committed("metrics_score_hist", cfg_fp):
                store.write(M.score_histogram(scored), "metrics_score_hist", cfg_fp)
            if not store.committed("metrics_lineage", cfg_fp):
                store.write(
                    M.partition_lineage(scored, "scored"), "metrics_lineage", cfg_fp
                )

        links = snap("links", lambda: S.match_links(scored, cfg.tau))

        def compute_clusters() -> DataFrame:
            comp = CC.connected_components(links, checkpoint_dir=cfg.checkpoint_dir)
            # node ids come from the (cached/snapshotted, narrow) features
            # table — 1:1 with pages, avoids re-scanning the wide pages relation
            return CC.with_singletons(
                comp, features.select(F.col("url").alias("node"))
            )

        clusters = snap("clusters", compute_clusters)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
    return dict(zip(STAGES, (features, blocks, pairs, scored, links, clusters)))
