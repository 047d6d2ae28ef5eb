"""Operator catalog for the driver harness: every SURVEY.md §2 operator as
a (spark_query, duckdb_oracle_sql) pair over the shared testdata tables
(region nation customer supplier part orders lineitem events documents
embeddings).

Naming contract: every computed column is aliased IDENTICALLY in the Spark
plan and the oracle SQL (the driver hashes values under sorted column
names).  Hash-bearing queries use md5 (byte-identical in DuckDB); float
aggregates are rounded to fixed decimals to absorb summation-order noise.

Family rule: queries that share a decision build their Spark plans from
one helper and their oracles from one SQL fragment, so each decision is
written once per engine:
- tokens: `_WORDS_SQL` (the oracle of `X.tokens(X.normalize_text(...))`),
  `_hex8_sql` (of `H.hex_prefix_to_long(F.md5(...))`);
- blocks → pairs: `_cached` (the one relation cache), `_cached_blocks`,
  `_doc_pairs`; `_SHINGLE_SQL`, `_BLOCKS_SQL`, `_PAIRS_SQL`;
- near-dup verify: `_shingled_pairs` + `_jaccard`; `_SHINGLED_PAIRS_SQL`
  + `_JACCARD_SQL`; connected components: `_components_sql`;
- ranking (best first, ties to the lower id): `rank_by_score` from
  `operators/linking.py`, which the entity-linking top-k also uses;
  `_rank_sql`.  Each caller keeps its own rank range;
- ANN top-k, one filter-and-verify similarity join with five candidate
  filters: each query builds its (query_id, neighbor_id) candidates and
  `_top5` verifies them (exact cosine, top 5 by `rank_by_score`, ties
  to the lower neighbor_id); `_ann_sql` is its oracle, over `_cos_sql`.
  The IVF oracles share their cells/probes (`_ivf_sql`) and k-means
  writes each Lloyd iteration from one template (`_lloyd_sql`);
- BIO tag stream: `_bio_tags`; `_bio_tagged_sql`.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyarrow.dataset as pads
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions import hashing as H
from ..functions import text as X
from ..functions.embedder import hyperplane_bucket_sql, hyperplane_lsh_udf
from ..functions.similarity import cosine_expr, jaccard_expr, jaro_winkler_udf
from ..operators import blocking as B
from ..operators import pairs as P
from ..operators.cc import connected_components
from ..operators.linking import rank_by_score

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table `name` of the fixture at `sf_dir` (a parquet file or
    directory), read with the schema of its parquet footer, which the
    driver reads without a Spark job; `spark.read.parquet` alone infers
    it with a one-task job per call.  Timestamps written without a UTC
    adjustment map to timestamp_ntz, as Spark infers them."""
    path = f"{sf_dir}/{name}.parquet"
    schema = from_arrow_schema(
        pads.dataset(path, format="parquet").schema, prefer_timestamp_ntz=True
    )
    return spark.read.schema(schema).parquet(path)


def _fanout(df: DataFrame, *cols: str) -> DataFrame:
    """Spread CPU-heavy map-side work across the session's shuffle width
    (round-6 measurement; same pattern as run_linkage's feature-stage
    repartition) when the scan `df` plans fewer splits than
    defaultParallelism.  A small parquet fixture arrives as ONE scan split
    (single file, single row group), so everything before the first
    exchange — md5/shingle chains, per-pair cosine folds, token explodes
    — runs in a single task no matter how many cores the session has
    (measured: ann_cosine_topk 3.53 s single-task → 0.63 s fanned out at
    sf0.1/32 cores).  Hash-repartition by the row key: deterministic (no
    round-robin pre-sort), and a downstream groupBy/window on the same
    key reuses the exchange.  A scan that already plans
    defaultParallelism splits or more is returned as it is: there the
    exchange would only move its full payload once more.  The split
    count comes from planning alone (no Spark job).

    The partition count is EXPLICIT (defaultParallelism — scales with
    the cluster, never a constant): a bare repartition(col) is an
    AQE-coalescible exchange, and at fixture sizes the advisory
    partition size folds it straight back to one partition, re-serializing
    the very work this fans out (measured round 6: ann_cosine_topk 4.86 s
    with repartition(col) vs 0.63 s with the pinned width)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(c) for c in cols])


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# the oracle's tokenizer: X.tokens(X.normalize_text(text)) in DuckDB
_WORDS_SQL = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w != '')"


def _hex8_sql(x: str) -> str:
    """H.hex_prefix_to_long(F.md5(x)) in DuckDB: the first 8 hex digits
    of md5(x) as a bigint."""
    return f"CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"


# =====================================================================
# ER pipeline operators over `documents` (the pages stand-in)
# =====================================================================

@register(
    "er_exact_dedup",
    """
    SELECT md5(text) AS text_hash,
           count(*) AS n_dups,
           min(doc_id) AS canonical_doc_id
    FROM documents GROUP BY md5(text)
    """,
)
def er_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content (training-data pipeline op).
    Map-side partial agg; shuffle carries (hash, count, min) only."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_dups"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


# shared SQL fragment: tokenize + 3-shingles + md5 minhash (8 hashes)
_SHINGLE_SQL = f"""
        SELECT doc_id,
               CASE WHEN len(words) < 3
                    THEN [array_to_string(words, ' ')]
                    ELSE list_transform(range(1, len(words) - 1),
                                        i -> array_to_string(words[i:i+2], ' '))
               END AS sh
        FROM (SELECT doc_id, {_WORDS_SQL} AS words FROM documents)
"""

_MINHASH_SQL = f"""
        SELECT doc_id,
               list_transform(range(0, 8),
                   s -> list_min(list_transform(sh, x -> md5(s || ':' || x)))) AS sig
        FROM ({_SHINGLE_SQL})
"""

_BLOCKS_SQL = f"""
        SELECT doc_id,
               b || '|' || sig[2*b+1] || ',' || sig[2*b+2] AS block_key
        FROM ({_MINHASH_SQL}), (SELECT unnest(range(0, 4)) AS b)
"""


@register("er_minhash_blocks", f"SELECT doc_id, block_key FROM ({_BLOCKS_SQL})")
def er_minhash_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding (md5, 8 hashes × 4 bands) — stage-1
    blocking, oracle-checkable end to end."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    blk = B.shingle_blocks(
        docs, k_shingle=3, num_hashes=8, bands=4, rows_per_band=2, id_col="doc_id"
    )
    return blk.select(F.col("url").alias("doc_id"), "block_key")


_PAIRS_SQL = f"""
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ({_BLOCKS_SQL}) a JOIN ({_BLOCKS_SQL}) b USING (block_key)
        WHERE a.doc_id < b.doc_id
"""


# One cache for the relations the er_*/d_* family shares: SEVEN catalog
# queries re-derive identical shingle/minhash blocks (er_candidate/min2/
# capped re-run the whole md5 chain just to generate pairs differently);
# at bench scale that multiplies the md5-chain cost for no semantic
# reason.  Keyed by (applicationId, sf_dir, relation); persisted.  Entries
# from other applicationIds are evicted (unpersisted) on access so a
# long-lived process cycling sessions can't accumulate pinned relations,
# and `clear_pair_cache()` lets a driver sweeping many sf_dirs release
# storage between corpora.  (er_minhash_blocks itself still computes the
# chain fresh — it is the query that carries/measures the cold chain
# cost, per bench.py.)
_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _evict(key: tuple[str, str, str]) -> None:
    try:
        _CACHE.pop(key).unpersist()
    except Exception:
        pass  # its session is already stopped — nothing pinned anymore


def clear_pair_cache() -> None:
    """Unpersist and drop every cached blocks/pairs relation."""
    for key in list(_CACHE):
        _evict(key)


def _cached(spark: SparkSession, sf_dir: str, relation: str, build) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    for key in [k for k in _CACHE if k[0] != app_id]:
        _evict(key)
    key = (app_id, sf_dir, relation)
    if key not in _CACHE:
        _CACHE[key] = build().persist()
    return _CACHE[key]


def _cached_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (url, block_key) relation of er_minhash_blocks, persisted once
    per (session, sf_dir) — the shared upstream of every pair-generation
    variant (plain / min2-gated / capped-star)."""
    return _cached(
        spark, sf_dir, "blocks",
        lambda: er_minhash_blocks(spark, sf_dir).withColumnRenamed("doc_id", "url"),
    )


def _doc_pairs(spark: SparkSession, sf_dir: str, **variant) -> DataFrame:
    """(doc_a, doc_b) candidate pairs of the cached blocks; `variant` is
    the pair-generation variant's `candidate_pairs_grouped` arguments."""
    cand, _ = P.candidate_pairs_grouped(_cached_blocks(spark, sf_dir), **variant)
    return cand.select(F.col("url_a").alias("doc_a"), F.col("url_b").alias("doc_b"))


def _cached_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached(
        spark, sf_dir, "pairs",
        lambda: _doc_pairs(spark, sf_dir, max_block_size=None),
    )


@register("er_candidate_pairs", _PAIRS_SQL)
def er_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking → candidate pairs via the grouped generator (2 shuffles:
    groupBy collect + pair-distinct) — same output as the join-based
    4-shuffle plan (A/B-verified), ~2× faster.  Served from the shared
    per-session cache so the d_*/er_* family computes the chain once."""
    return _cached_pairs(spark, sf_dir)


@register(
    "er_min2_pairs",
    f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ({_BLOCKS_SQL}) a JOIN ({_BLOCKS_SQL}) b USING (block_key)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
)
def er_min2_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence-count gated pair generation (`min_matches=2`): a pair
    survives only if it collides in >= 2 distinct blocks.  The count
    rides the dedup exchange the plain generator already pays (see
    operators/pairs._dedup_pairs), so junk suppression is shuffle-free;
    measured at 1M/4M pages it holds junk pairs/page FLAT across a 4x
    size step where any-single-block pairs grow (BENCH.md).  Oracle:
    same band join GROUP BY pair HAVING count(*) >= 2."""
    return _doc_pairs(spark, sf_dir, max_block_size=None, min_matches=2)


@register(
    "er_capped_star_pairs",
    f"""
    WITH blocks AS ({_BLOCKS_SQL}),
    sized AS (
        SELECT block_key, count(*) AS bs, min(doc_id) AS hub
        FROM blocks GROUP BY block_key
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM blocks a JOIN blocks b USING (block_key) JOIN sized s USING (block_key)
    WHERE s.bs <= 2 AND a.doc_id < b.doc_id
    UNION
    SELECT DISTINCT s.hub AS doc_a, b.doc_id AS doc_b
    FROM blocks b JOIN sized s USING (block_key)
    WHERE s.bs > 2 AND b.doc_id != s.hub
    """,
)
def er_capped_star_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped pair generation with the star cap-escape: blocks over the
    cap emit (min-member hub, member) pairs — O(b) instead of C(b,2) —
    so hot duplicate blocks keep recall via transitive closure while
    pair cost stays bounded (reference candidate capping analogue:
    run_e2e_span.py:883 --num_candidates).  Cap=2 at this fixture splits
    the blocks 86 combo / 4 star, exercising both branches."""
    # single_exchange: physical-plan knob only (results identical,
    # re-verified round 6: exceptAll both ways == 0); A/B at sf0.1
    # 1.38 s -> 0.91 s (one shuffle of the block relation, not two)
    return _doc_pairs(
        spark, sf_dir, max_block_size=2, escape="star", single_exchange=True
    )


@register(
    "er_tfidf_blocks",
    f"""
    WITH doc_sh AS (
        SELECT DISTINCT doc_id, unnest(sh) AS sh FROM ({_SHINGLE_SQL})
    ), dfreq AS (
        SELECT sh, count(*) AS df FROM doc_sh GROUP BY sh HAVING count(*) >= 2
    )
    SELECT doc_id, sh AS block_key, df FROM (
        SELECT doc_id, sh, df,
               row_number() OVER (PARTITION BY doc_id ORDER BY df, sh) AS rnk
        FROM doc_sh JOIN dfreq USING (sh)
    ) WHERE rnk <= 2
    """,
)
def er_tfidf_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (rarest-shingle) blocking channel — the reference's third
    candidate-generation mode (utils_e2e_span.py:349-356,
    --use_tfidf_candidates) as document-frequency-weighted keys: each doc
    keyed by its 2 rarest 3-shingles."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    blk = B.tfidf_blocks(docs, k_shingle=3, top_w=2, id_col="doc_id")
    return blk.select(F.col("url").alias("doc_id"), "block_key", "df")


# the near-dup verify chain: candidate pairs hydrated with both docs'
# 3-shingle lists, scored by set Jaccard (`jaccard_expr`)
_SHINGLED_PAIRS_SQL = f"""({_PAIRS_SQL}) p
        JOIN ({_SHINGLE_SQL}) a ON p.doc_a = a.doc_id
        JOIN ({_SHINGLE_SQL}) b ON p.doc_b = b.doc_id"""

_JACCARD_SQL = """CASE WHEN len(list_distinct(a.sh)) + len(list_distinct(b.sh)) = 0 THEN 0
                 ELSE len(list_filter(list_distinct(a.sh), x -> list_contains(b.sh, x))) * 1.0
                      / (len(list_distinct(a.sh)) + len(list_distinct(b.sh))
                         - len(list_filter(list_distinct(a.sh), x -> list_contains(b.sh, x))))
                 END"""


def _shingled_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached candidate pairs with both docs' 3-shingle arrays
    (sh_a, sh_b): the input of every near-dup Jaccard check."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    # two-step: materialize tokens, then shingle (inlined tokenizer is
    # re-evaluated per shingle lambda element — measured 15x slower)
    sh = docs.select(
        "doc_id", X.tokens(X.normalize_text(F.col("text"))).alias("tk")
    ).select("doc_id", X.shingles(F.col("tk"), 3).alias("sh"))
    pairs = _cached_pairs(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return pairs.join(a, "doc_a").join(b, "doc_b")


def _jaccard() -> Column:
    return jaccard_expr(F.col("sh_a"), F.col("sh_b"))


@register(
    "er_ngram_jaccard",
    f"""
    SELECT doc_a, doc_b, round({_JACCARD_SQL}, 6) AS jaccard
    FROM {_SHINGLED_PAIRS_SQL}
    """,
)
def er_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise n-gram Jaccard verification of blocked candidates (the
    set-similarity leg of stage-2 scoring)."""
    return _shingled_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.round(_jaccard(), 6).alias("jaccard")
    )


@register(
    "er_jaro_winkler",
    f"""
    SELECT doc_a, doc_b,
           round(jaro_winkler_similarity(substr(a.text, 1, 64), substr(b.text, 1, 64)), 6) AS jw
    FROM ({_PAIRS_SQL}) p
    JOIN documents a ON p.doc_a = a.doc_id
    JOIN documents b ON p.doc_b = b.doc_id
    """,
)
def er_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Jaro-Winkler (batch numpy pandas UDF) vs DuckDB's
    built-in — the string leg of stage-2 scoring."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 64).alias("prefix")
    )
    pairs = _cached_pairs(spark, sf_dir)
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(jaro_winkler_udf(F.col("pa"), F.col("pb")), 6).alias("jw"),
        )
    )


@register(
    "er_simhash",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_WORDS_SQL}) AS t FROM documents
    ), votes AS (
        SELECT doc_id, k,
               sum(CASE WHEN substr(md5(t), k, 1) >= '8' THEN 1 ELSE -1 END) AS v
        FROM toks, (SELECT unnest(range(1, 17)) AS k)
        GROUP BY doc_id, k
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << (k - 1)) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def er_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document.  One explode to token rows, md5 once
    per token, then a SINGLE groupBy(doc_id) with 16 codegen'd ±1 vote
    sums (map-side partial agg; long buffers keep it a HashAggregate).
    The previous posexplode form pushed 16 rows per token through TWO
    aggregation exchanges (~8M rows at sf0.1); summing the votes as 16
    columns of the same integer additions shuffles one 5k-row relation
    and is bit-identical (exact integer arithmetic, order-free) —
    measured 2.39 s → ~0.5 s at sf0.1 (round 6)."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("t")
    ).select("doc_id", F.md5("t").alias("h"))
    vote = lambda k: F.when(F.substring(F.col("h"), k, 1) >= "8", 1).otherwise(-1)  # noqa: E731
    votes = toks.groupBy("doc_id").agg(
        *[F.sum(vote(k)).alias(f"v{k}") for k in range(1, 17)]
    )
    simhash = F.lit(0).cast("bigint")
    for k in range(1, 17):
        simhash = simhash + F.when(
            F.col(f"v{k}") > 0, F.lit(1 << (k - 1)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return votes.select("doc_id", simhash.alias("simhash"))


@register(
    "er_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(0::BIGINT,
                   list_transform({_WORDS_SQL}, t -> {_hex8_sql("t")})),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def er_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (text-analysis
    op; distinguishes permuted docs unlike set-based hashes)."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    tok = X.tokens(X.normalize_text(F.col("text")))
    return docs.select("doc_id", H.rolling_fingerprint(tok).alias("fingerprint"))


# =====================================================================
# Similarity search (ANN) over `embeddings`
# =====================================================================
#
# Every ANN query is one filter-and-verify top-k similarity join
# (Distributed Similarity Joins over Top-K Rankings, EDBT 2020): a
# candidate filter yields (query_id, neighbor_id) pairs, queries being
# the vectors with vec_id % 20 = 0, and one verify half scores them.
# Only the filters differ: all pairs, a hyperplane-LSH bucket, its
# one-bit-flip probes, or the 2 nearest IVF cells.


def _dbl() -> Column:
    return F.transform(F.col("embedding"), lambda x: x.cast("double"))


def _scored(cands: DataFrame, qv: str, nv: str, *keep: str) -> DataFrame:
    """Exact cosine of each (query_id, neighbor_id) candidate pair with
    vectors in columns `qv`/`nv`; a vector is never its own neighbor."""
    return cands.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", *keep,
        cosine_expr(F.col(qv), F.col(nv)).alias("cos"),
    )


def _top5(cands: DataFrame, qv: str, nv: str) -> DataFrame:
    """The ANN result rule: per query, the 5 candidates of highest cosine,
    ties to the lower neighbor_id.  `_ann_sql` is its oracle."""
    return (
        rank_by_score(_scored(cands, qv, nv), "query_id", "cos", "neighbor_id")
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank")
    )


def _brute_force(spark: SparkSession, sf_dir: str, *keep: Column) -> DataFrame:
    """All (query, vector) pairs, vectors as qv/cv: the query side is
    broadcast; the big side is fanned out across the session width
    (`_fanout` — the scan is one split at fixture size) and streams
    through one projection."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), _dbl().alias("qv")
    )
    c = _fanout(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), _dbl().alias("cv"), *keep
    )
    return F.broadcast(q).crossJoin(c)


def _dot_sql(a: str, b: str) -> str:
    return (
        "list_sum(list_transform(range(1, 65), "
        f"i -> ({a}.embedding[i]::DOUBLE) * ({b}.embedding[i]::DOUBLE)))"
    )


def _cos_sql(a: str, b: str) -> str:
    """`cosine_expr` of {a}.embedding and {b}.embedding in DuckDB: the
    double dot product over the product of the two norms."""
    return f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"


def _rank_sql(by: str, score: str, tie: str, name: str = "rank") -> str:
    """`rank_by_score`'s rank column in DuckDB: per `by` group, highest
    `score` first, ties to the lower `tie`."""
    return f"row_number() OVER (PARTITION BY {by} ORDER BY {score} DESC, {tie}) AS {name}"


_TOP5_SQL = f"""
    SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id, {_rank_sql("query_id", "cos", "neighbor_id")}
        FROM scored
    ) WHERE rank <= 5
"""


def _ann_sql(cands: str, ctes: str = "", result: str = _TOP5_SQL) -> str:
    """The oracle of the verify half: the `cands` SELECT yields
    (query_id, neighbor_id) pairs (after the `ctes`, each ending in a
    comma); `scored` hydrates both vectors by id, drops self pairs and
    adds the cosine and the neighbor's label (nl); `result` reads it."""
    return f"""
    WITH {ctes}
    cands AS ({cands}),
    scored AS (
        SELECT query_id, neighbor_id, b.label AS nl, {_cos_sql("a", "b")} AS cos
        FROM cands
        JOIN embeddings a ON a.vec_id = query_id
        JOIN embeddings b ON b.vec_id = neighbor_id
        WHERE query_id != neighbor_id
    )
    {result}"""


def _query_pairs_sql(on: str = "true") -> str:
    """Each query (vec_id % 20 = 0) paired with every vector b it joins
    ON `on`: all of them by default."""
    return f"""
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
        FROM embeddings a JOIN embeddings b ON {on}
        WHERE a.vec_id % 20 = 0"""


# the SAME seeded hyperplane literals in the SAME left-associated order as
# the Spark UDF, so bucket keys (double-precision dot-product signs) are
# bit-identical across engines — a full correctness gate for the LSH paths
_BUCKET_A = hyperplane_bucket_sql("a.embedding", num_planes=4, seed=7)
_BUCKET_B = _BUCKET_A.replace("a.embedding", "b.embedding")


@register("ann_cosine_topk", _ann_sql(_query_pairs_sql()))
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the ANN baseline (reference brute-force
    all-candidates scoring, utils_e2e_span.py:417-426 + torch.topk W1):
    every pair is a candidate (`_brute_force`); per-query top-k via
    window."""
    return _top5(_brute_force(spark, sf_dir), "qv", "cv")


def _lsh_keyed(emb: DataFrame) -> DataFrame:
    """(vec_id, v, bucket): the double vector and its 4-plane LSH bucket."""
    key = hyperplane_lsh_udf(num_planes=4, seed=7)(F.col("embedding"))
    return emb.select("vec_id", _dbl().alias("v"), key.alias("bucket"))


def _lsh_neighbors(keyed: DataFrame) -> DataFrame:
    return keyed.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), "bucket"
    )


@register("ann_lsh_topk", _ann_sql(_query_pairs_sql(f"{_BUCKET_A} = {_BUCKET_B}")))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN — the scale path: hyperplane bucket equi-join
    instead of cross join; brute-force rescoring only within buckets.
    Bucket keys come from the batched numpy UDF (`hyperplane_lsh_udf`,
    one matmul per Arrow batch); the DuckDB oracle renders the SAME
    seeded planes as literal SQL (`hyperplane_bucket_sql`), and
    tests/test_ann.py proves the two forms assign identical buckets —
    so the query stays fully oracle-checkable without paying for the
    256-term interpreted literal expression on the Spark side (which
    fell out of whole-stage codegen and ran 3.4× slower).
    Recall vs brute force is additionally floor-gated in
    tests/test_ann.py (single-probe recall@5)."""
    # no _fanout here: the in-bucket rescoring runs AFTER the bucket
    # equi-join, whose parallelism is bounded by the 2^4 bucket keys —
    # a pre-join fan-out is an extra exchange with nothing to feed
    # (A/B round 6: 0.88 s without vs 1.08 s with)
    keyed = _lsh_keyed(_t(spark, sf_dir, "embeddings"))
    q = keyed.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    return _top5(q.join(_lsh_neighbors(keyed), "bucket"), "qv", "cv")


# multi-probe candidates: the query's own bucket and its 4 one-bit flips
_PROBES_SQL = ", ".join([_BUCKET_A] + [f"xor({_BUCKET_A}, {1 << p})" for p in range(4)])


@register("ann_multiprobe_topk", _ann_sql(_query_pairs_sql(f"{_BUCKET_B} IN ({_PROBES_SQL})")))
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN — the production recall/cost point between
    single-probe LSH (recall@5 ≈ 0.13 on near-random vectors) and brute
    force (recall 1.0, quadratic; reference all-candidates scoring,
    utils_e2e_span.py:417-426).  The QUERY side explodes to its own
    bucket plus the `num_planes` buckets reachable by flipping one
    hyperplane sign — the classic multi-probe trick: probing neighbor
    buckets instead of building more hash tables, so the candidate join
    stays an equi-join (never all-pairs) and the index is built once.
    Each candidate vector lives in exactly one bucket and probe keys are
    distinct, so no (query, neighbor) dedup is needed.  Expected recall
    lift at cos≈0.3: p^4 → p^4 + 4p^3(1-p) ≈ 0.13 → ~0.47 (p = 1-θ/π);
    measured value is floor-gated in tests/test_ann.py and the
    recall-vs-cost curve is recorded in BENCH.md."""
    keyed = _lsh_keyed(_fanout(_t(spark, sf_dir, "embeddings"), "vec_id"))
    probe_set = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(4)]
    )
    q = keyed.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode(probe_set).alias("bucket"),
    )
    return _top5(q.join(_lsh_neighbors(keyed), "bucket"), "qv", "cv")


def _ivf_sql(ranked: str) -> str:
    """IVF oracle: the `ranked` CTEs end in ranked(vec_id, cid, rn), each
    vector's centroids by rank.  A vector's cell is its rank-1 centroid;
    a query probes its 2 nearest cells."""
    return _ann_sql(
        "SELECT p.query_id, s.vec_id AS neighbor_id "
        "FROM probes p JOIN cells s ON s.cell = p.cell",
        f"""{ranked},
    cells AS (SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, cid AS cell FROM ranked
        WHERE rn <= 2 AND vec_id % 20 = 0
    ),""",
    )


@register(
    "ann_ivf_topk",
    _ivf_sql(
        f"""
    cents AS (
        SELECT vec_id AS cid, embedding FROM embeddings
        WHERE vec_id % 97 = 3
    ),
    ranked AS (
        SELECT a.vec_id, c.cid, {_rank_sql("a.vec_id", _cos_sql("a", "c"), "c.cid", "rn")}
        FROM embeddings a, cents c
    )"""
    ),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN — the coarse-quantizer scale path (the reference's
    dead FAISS IndexIVFFlat path, utils_e2e_span.py:417-426 /
    modeling_e2e_span.py FAISS branch, as a Spark plan): assign every
    vector to its nearest coarse centroid (broadcast join + per-row
    argmax — the centroid list is tiny by construction), then answer a
    query by probing its `nprobe`=2 nearest cells with an equi-join on
    cell id and exact re-scoring inside.  Centroids here are a
    DETERMINISTIC sample of the corpus (vec_id % 97 = 3 ≈ 1% of
    vectors) rather than k-means — the construction FAISS calls a
    'flat' coarse quantizer seeded from samples; keeping it
    deterministic makes the whole index DuckDB-oracle-checkable at hash
    level (same cosine accumulation order, same tie-breaks).  At 100 TB:
    centroids broadcast (≤ a few MB), assignment is map-side, the only
    shuffle is the cell equi-join — never all-pairs; on a real corpus
    you'd run a few Lloyd iterations to place centroids and hydrate
    vectors from the features table instead of carrying them through
    the window."""
    emb = _t(spark, sf_dir, "embeddings")
    vecs = _fanout(emb, "vec_id").select("vec_id", _dbl().alias("v"))
    cents = vecs.filter(F.col("vec_id") % 97 == 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    ranked = rank_by_score(
        vecs.crossJoin(F.broadcast(cents)).select(
            "vec_id", "v", "centroid_id",
            cosine_expr(F.col("v"), F.col("cv")).alias("cos_c"),
        ),
        "vec_id", "cos_c", "centroid_id", "rn",
    )
    cells = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("centroid_id").alias("cell"),
    )
    probes = ranked.filter(
        (F.col("vec_id") % 20 == 0) & (F.col("rn") <= 2)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("centroid_id").alias("cell"),
    )
    return _top5(probes.join(cells, "cell"), "qv", "nv")


def _kmeans_rank_sql(n: int) -> str:
    """d{n} scores every quantized vector against centroids c{n-1} by
    exact integer dot product; r{n} ranks them per vector (ties → min
    cid)."""
    return f"""
    d{n} AS (
        SELECT v.vec_id, c.cid,
               list_sum(list_transform(range(1, 65), i -> v.q[i] * c.c[i])) AS d
        FROM qv v, c{n - 1} c
    ),
    r{n} AS (
        SELECT vec_id, cid, {_rank_sql("vec_id", "d", "cid", "rn")}
        FROM d{n}
    ),"""


def _lloyd_sql(n: int) -> str:
    """Lloyd iteration n of the k-means IVF oracle: assign each vector to
    its rank-1 centroid of c{n-1}, then c{n} is the floor of each cell's
    integer mean."""
    return _kmeans_rank_sql(n) + f"""
    c{n} AS (
        SELECT cid, list(cx ORDER BY i) AS c FROM (
            SELECT a.cid, i,
                   CAST(floor((sum(v.q[i]))::DOUBLE / count(*)) AS BIGINT) AS cx
            FROM r{n} a JOIN qv v USING (vec_id), (SELECT unnest(range(1, 65)) AS i)
            WHERE a.rn = 1
            GROUP BY a.cid, i
        ) GROUP BY cid
    ),"""


_IVF_KMEANS_SQL = _ivf_sql(
    """
    qv AS (
        SELECT vec_id,
               list_transform(range(1, 65),
                   i -> CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS q
        FROM embeddings
    ),
    c0 AS (
        SELECT vec_id AS cid, q AS c FROM qv
        WHERE vec_id % 13 = 2 ORDER BY vec_id LIMIT 20
    ),"""
    + _lloyd_sql(1)
    + _lloyd_sql(2)
    + _kmeans_rank_sql(3)
    + "\n    ranked AS (SELECT vec_id, cid, rn FROM r3)"
)


def _ivf_kmeans_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """IVF-flat with a PRODUCTION-SHAPE coarse quantizer: fixed nlist=20
    centroids placed by two seeded Lloyd iterations, assignment via a
    single struct-max aggregation — vectors NEVER ride a shuffle or a
    window (the sampled-centroid `ann_ivf_topk` carries vectors through
    row_number; fine for a fixture, wrong at 100 TB — this is the fix
    the round-3 verdict asked for, reference FAISS IndexIVFFlat path
    utils_e2e_span.py:8,417-426).

    Everything is DETERMINISTIC and DuckDB-hash-checkable because Lloyd
    runs in exact integer arithmetic: vectors quantized once to bigint
    (round(x*1e6)), centroid scores are exact integer dot products (ties
    → min centroid id), and centroid updates are floor(intsum/count) —
    no float summation-order nondeterminism anywhere in index
    construction.  Final candidate re-scoring inside probed cells uses
    exact double cosine over the ORIGINAL embeddings with row_number
    tie-breaks, as in every other ANN query here.

    100-TB shape: centroids are a tiny broadcast relation (nlist ≤ 2^16
    × 64 ints); per-iteration cost is one map-side broadcast join + one
    partial-aggregated groupBy(vec_id) carrying (bigint, cid) pairs; the
    search is probe→cell equi-join with id-keyed hydration — never
    all-pairs, no wide rows through exchanges.

    Returns (probes, cells, emb) so the recall/cost bench can count
    candidate pairs without duplicating the index construction."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _fanout(emb, "vec_id").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000).cast("bigint"),
        ).alias("q"),
        # localCheckpoint, not persist: repeated invocations (bench
        # best-of-2, recall sweeps) must not pin a fresh full-corpus
        # cache each call — checkpoint blocks are reaped by the
        # ContextCleaner once the relation is GC'd
    ).localCheckpoint()
    cents = (
        qv.filter(F.col("vec_id") % 13 == 2)
        .orderBy("vec_id")
        .limit(20)
        .select(F.col("vec_id").alias("cid"), F.col("q").alias("c"))
    )

    def int_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    def assign(centroids: DataFrame) -> DataFrame:
        # (vec_id, cid): argmax integer dot, tie -> min cid.  struct-max
        # keeps the agg state to (bigint, bigint) — no vectors shuffled.
        d = qv.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "cid", int_dot(F.col("q"), F.col("c")).alias("d")
        )
        return d.groupBy("vec_id").agg(
            F.max(F.struct(F.col("d"), (-F.col("cid")).alias("ncid"))).alias("b")
        ).select("vec_id", (-F.col("b.ncid")).alias("cid"))

    for _ in range(2):  # Lloyd: assign -> integer-mean update
        # (A 64-wide sum-per-component single-aggregation variant was
        # built and A/B'd in round 6: 1.3-1.8 s posexplode form vs
        # 2.8-3.9 s wide form in the same session — the 64-column agg
        # loses despite one fewer exchange; the explode form kept.)
        memb = assign(cents).join(qv, "vec_id")
        upd = (
            memb.select("cid", F.posexplode("q").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(
                F.floor(
                    F.sum("x").cast("double") / F.count("*")
                ).cast("bigint").alias("cx")
            )
        )
        cents = upd.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cx"))),
                lambda s: s["cx"],
            ).alias("c")
        )

    # final ranking vs converged centroids: cells (rn=1, all vectors) and
    # query probes (rn<=2) from ONE narrow (vec_id, cid, d) relation
    d3 = qv.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", int_dot(F.col("q"), F.col("c")).alias("d")
    )
    ranked = rank_by_score(d3, "vec_id", "d", "cid", "rn")
    cells = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("neighbor_id"), F.col("cid").alias("cell")
    )
    probes = ranked.filter((F.col("rn") <= 2) & (F.col("vec_id") % 20 == 0)).select(
        F.col("vec_id").alias("query_id"), F.col("cid").alias("cell")
    )
    return probes, cells, emb


@register("ann_ivf_kmeans_topk", _IVF_KMEANS_SQL)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 search over the production-shape IVF index (see
    _ivf_kmeans_parts for construction and the 100-TB plan shape)."""
    probes, cells, emb = _ivf_kmeans_parts(spark, sf_dir)
    # hydrate vectors by id AFTER candidate generation (narrow joins)
    vq = emb.select(F.col("vec_id").alias("query_id"), _dbl().alias("qvec"))
    vn = emb.select(F.col("vec_id").alias("neighbor_id"), _dbl().alias("nvec"))
    cands = probes.join(cells, "cell").join(vq, "query_id").join(vn, "neighbor_id")
    return _top5(cands, "qvec", "nvec")


@register(
    "ann_label_top1",
    _ann_sql(
        _query_pairs_sql(),
        result="SELECT query_id, arg_max(nl, cos) AS pred_label FROM scored GROUP BY query_id",
    ),
)
def ann_label_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 linking via max_by — the reference's argmax entity assignment
    (run_e2e_span.py:570-575, W2) as a single aggregate (no window)."""
    cands = _brute_force(spark, sf_dir, F.col("label").alias("nl"))
    return _scored(cands, "qv", "cv", "nl").groupBy("query_id").agg(
        F.max_by("nl", "cos").alias("pred_label")
    )


# =====================================================================
# Transitive clustering (connected components) with a recursive-CTE oracle
# =====================================================================

def _components_sql(edges: str) -> str:
    """Connected components of the `edges` SELECT's (src, dst) graph as a
    recursive CTE: each node labeled with the min node it reaches.

    A label only travels to a node larger than itself (`r.comp < s.src`).
    That prunes the closure without changing any `min(comp)`: the
    component's minimum is smaller than every other node in it, so it
    still reaches each of them along any path, and no node gains a label
    from outside its component.  `edges` is MATERIALIZED: inlined, DuckDB
    re-runs the edge query in every round of the recursion."""
    return f"""
    WITH RECURSIVE edges AS MATERIALIZED ({edges}
    ), sym AS (
        SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), reach(node, comp) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, r.comp FROM sym s JOIN reach r ON s.dst = r.node
        WHERE r.comp < s.src
    )
    SELECT node, min(comp) AS component FROM reach GROUP BY node
    """


@register(
    "cc_customer_nation_region",
    _components_sql("""
        SELECT c_custkey + 1000000 AS src, CAST(c_nationkey AS BIGINT) AS dst FROM customer
        UNION ALL
        SELECT CAST(n_nationkey AS BIGINT), n_regionkey + 5000000 FROM nation"""),
)
def cc_customer_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on the customer→nation→region graph (multi-
    hop transitivity) vs a recursive-CTE oracle.  The graph fits one
    task, so `connected_components` runs no star round: its hybrid
    finish computes it in one vectorized task."""
    cust = _t(spark, sf_dir, "customer").select(
        (F.col("c_custkey") + 1000000).alias("url_a"),
        F.col("c_nationkey").cast("bigint").alias("url_b"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("url_a"),
        (F.col("n_regionkey") + 5000000).alias("url_b"),
    )
    return connected_components(cust.unionByName(nat))


# =====================================================================
# Relational operators over the TPC-H-ish star (SURVEY.md §2.2-2.7)
# =====================================================================

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation (A4/A6 eval-counter semantics): filter
    pushed to the scan, map-side partial aggs, 2-key groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_order_revenue",
    """
    SELECT o.o_orderkey,
           CAST(sum(l.l_extendedprice::DECIMAL(14,2)
                    * (1 - l.l_discount::DECIMAL(4,2))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey
    """,
)
def q3_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 equi-join chain: small dim (customer) broadcast, fact-fact join
    on the shuffle key, single-key agg.

    Revenue accumulates in DECIMAL so the sum is EXACT and summation
    order (which differs between engines and between runs under AQE)
    cannot flip the last cent — round(sum(double),2) is not
    order-stable.  The prices/discounts are 2-dp values, so the decimal
    cast is lossless; final cast to double only for a stable output type."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "w_running_total",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 6) AS running
    FROM events
    """,
)
def w_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 prefix-sum window (the reference's cumulative span-score trick,
    modeling_e2e_span.py:71-78) as a classic running-total window."""
    ev = _t(spark, sf_dir, "events")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.sum("value").over(win), 6).alias("running")
    )


@register(
    "w_topk_per_user",
    f"""
    SELECT event_id, user_id, rnk FROM (
        SELECT event_id, user_id, {_rank_sql("user_id", "value", "event_id", "rnk")}
        FROM events
    ) WHERE rnk <= 3
    """,
)
def w_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 top-k per group (reference torch.topk, utils_e2e_span.py:426)."""
    ev = _t(spark, sf_dir, "events")
    return (
        rank_by_score(ev, "user_id", "value", "event_id", "rnk")
        .filter(F.col("rnk") <= 3)
        .select("event_id", "user_id", "rnk")
    )


@register(
    "j_interval_overlap",
    """
    SELECT o.o_orderkey, count(*) AS n_shipped_in_window
    FROM orders o JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderkey
    """,
)
def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 span-overlap/range join (reference gold↔pred interval matching,
    run_e2e_span.py:449-518): equi key + range predicates."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= o.o_orderdate)
            & (li.l_shipdate <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_shipped_in_window"))
    )


@register(
    "a_group_concat",
    """
    SELECT lang,
           string_agg(lpad(CAST(doc_id AS VARCHAR), 8, '0'), ',' ORDER BY doc_id) AS doc_ids,
           count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def a_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 order-stable group-concat (reference title+abstract concat,
    data_preprocessing.py:40-43): sort_array(collect_list) keeps the agg
    deterministic under any partitioning."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.lpad(F.col("doc_id").cast("string"), 8, "0"))),
            ",",
        ).alias("doc_ids"),
        F.count("*").alias("n_docs"),
    )


@register(
    "a_value_histogram",
    """
    SELECT CAST(floor(value) AS BIGINT) AS bucket, count(*) AS n
    FROM events GROUP BY 1
    """,
)
def a_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 score-distribution histogram (reference position_of_positive,
    utils_e2e_span.py:438-445)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor("value").cast("bigint").alias("bucket")
    ).agg(F.count("*").alias("n"))


# =====================================================================
# Filters / projections / string & scalar functions (P1-P5, F1-F8)
# =====================================================================

@register(
    "p_filter_project",
    """
    SELECT doc_id,
           lower(substr(text, 1, 32)) AS head,
           regexp_extract(source, '([0-9]+)', 1) AS src_num,
           n_chars
    FROM documents
    WHERE lang != 'en' AND n_chars >= 100 AND n_chars < 400
    """,
)
def p_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 concept-filter + P2 composite-id projection + P3 validity
    predicate + P4 lower-casing, composed; all pushed into the scan."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter((F.col("lang") != "en") & (F.col("n_chars") >= 100) & (F.col("n_chars") < 400))
        .select(
            "doc_id",
            F.lower(F.substring("text", 1, 32)).alias("head"),
            F.regexp_extract("source", r"([0-9]+)", 1).alias("src_num"),
            "n_chars",
        )
    )


@register(
    "f_string_scalar",
    """
    SELECT event_id,
           CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_val,
           round(1.0 / (1.0 + exp(-value)), 6) AS sigmoid_value,
           len(string_split_regex(trim(event_type), '_')) AS n_parts
    FROM events
    """,
)
def f_string_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 regex extraction, F8 sigmoid (run_e2e_span.py:536), F2 split —
    all JVM-side scalar expressions."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("bigint").alias("k_val"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("value"))), 6).alias("sigmoid_value"),
        F.size(F.split(F.trim("event_type"), "_")).alias("n_parts"),
    )


@register(
    "f_node_id128",
    """
    WITH m AS (
      SELECT doc_id, md5(source || '/' || CAST(doc_id AS VARCHAR)) AS x
      FROM documents
    ), c AS (
      SELECT doc_id,
        ('0x' || substr(x, 1, 8))::BIGINT AS c1,
        ('0x' || substr(x, 9, 8))::BIGINT AS c2,
        ('0x' || substr(x, 17, 8))::BIGINT AS c3,
        ('0x' || substr(x, 25, 8))::BIGINT AS c4
      FROM m
    )
    SELECT doc_id,
      CAST(CASE WHEN c1 >= 2147483648
                THEN c1::HUGEINT * 4294967296 + c2 - 18446744073709551616::HUGEINT
                ELSE c1::HUGEINT * 4294967296 + c2 END AS BIGINT) AS id_h,
      CAST(CASE WHEN c3 >= 2147483648
                THEN c3::HUGEINT * 4294967296 + c4 - 18446744073709551616::HUGEINT
                ELSE c3::HUGEINT * 4294967296 + c4 END AS BIGINT) AS id_l
    FROM c
    """,
)
def f_node_id128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit struct-packed node id (functions/hashing.node_id) applied
    to a synthesized document key — flattened to (id_h, id_l) so the
    driver gate hash-checks the exact signed-bigint packing against a
    DuckDB HUGEINT reconstruction of the same md5 halves.  The operator
    itself is the measured-off re-keying documented in node_id's
    docstring (kept out of run_linkage: lz4 makes prefix-sharing urls
    cheaper on the wire than incompressible md5 bits)."""
    docs = _t(spark, sf_dir, "documents")
    nid = H.node_id(F.concat_ws("/", F.col("source"), F.col("doc_id")))
    return docs.select(
        "doc_id",
        nid.getField("h").alias("id_h"),
        nid.getField("l").alias("id_l"),
    )


# =====================================================================
# Set operations (SO1-SO3)
# =====================================================================

@register(
    "so_never_ordered_parts",
    """
    SELECT p_partkey, p_brand FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
    """,
)
def so_never_ordered_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1 negative-pool difference (utils_e2e_span.py:344-345) as a
    left-anti join — the NOT EXISTS plan."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return part.join(li, "p_partkey", "left_anti").select("p_partkey", "p_brand")


@register(
    "so_dedup_first_event",
    """
    SELECT user_id, event_type, min(event_id) AS first_event_id
    FROM events GROUP BY user_id, event_type
    """,
)
def so_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO2 dedup (utils_e2e_span.py:446-449) done deterministically:
    groupBy+min instead of dropDuplicates (which is partition-order
    dependent — a correctness trap at scale)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id")
    )


@register(
    "so_distinct_pairs",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def so_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO3 distinct struct set (modeling_e2e_span.py:113-127)."""
    return _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


# =====================================================================
# Text analysis (training-data pipeline ops)
# =====================================================================

_STOPWORDS = ["the", "a", "of", "and", "to", "in"]


@register(
    "t_quality_score",
    f"""
    WITH toks AS (SELECT doc_id, n_chars, {_WORDS_SQL} AS w FROM documents)
    SELECT doc_id,
           len(w) AS n_tokens,
           round(CASE WHEN len(w) = 0 THEN 0
                 ELSE len(list_filter(w, x -> list_contains({_STOPWORDS!r}, x))) * 1.0 / len(w)
                 END, 6) AS stopword_ratio,
           round(CASE WHEN len(w) = 0 THEN 0 ELSE n_chars * 1.0 / len(w) END, 6) AS avg_token_len,
           CASE WHEN len(w) >= 20 AND len(w) <= 1000 THEN 1 ELSE 0 END AS len_ok
    FROM toks
    """,
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features: token count, stopword ratio, length
    gates — the standard pre-training corpus filters."""
    docs = _t(spark, sf_dir, "documents")
    tok = X.tokens(X.normalize_text(F.col("text")))
    d = docs.select("doc_id", "n_chars", tok.alias("w"))
    n = F.size("w")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(X.stopword_ratio(F.col("w"), _STOPWORDS), 6).alias("stopword_ratio"),
        F.round(
            F.when(n == 0, F.lit(0.0)).otherwise(F.col("n_chars") / n.cast("double")), 6
        ).alias("avg_token_len"),
        F.when((n >= 20) & (n <= 1000), 1).otherwise(0).alias("len_ok"),
    )


@register(
    "t_lang_id",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_WORDS_SQL} AS w FROM documents)
    SELECT doc_id, lang AS declared_lang,
           CASE WHEN len(list_filter(w, x -> list_contains(['the','a','of','and'], x))) * 10
                     >= len(w) THEN 'en' ELSE 'other' END AS guessed_lang
    FROM toks
    """,
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-density vote (n-gram heuristic
    family) — declared vs guessed for drift monitoring."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", X.tokens(X.normalize_text(F.col("text"))).alias("w"))
    en_hits = F.size(F.filter(F.col("w"), lambda x: x.isin("the", "a", "of", "and")))
    return d.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        F.when(en_hits * 10 >= F.size("w"), "en").otherwise("other").alias("guessed_lang"),
    )


# =====================================================================
# Multimodal plumbing (binary columns + typed metadata)
# =====================================================================

def binary_metadata(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Typed metadata over an opaque binary column — pure JVM exprs
    (length, content hash, routing tag).  No Python in this path."""
    n = F.length(F.col(bin_col))
    return df.select(
        F.col(id_col),
        n.alias("n_bytes"),
        F.md5(F.col(bin_col)).alias("content_hash"),
        F.when(n % 3 == 0, "image")
        .when(n % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
    )


@register(
    "mm_binary_meta",
    """
    SELECT doc_id,
           strlen(text) AS n_bytes,
           md5(text) AS content_hash,
           CASE WHEN strlen(text) % 3 = 0 THEN 'image'
                WHEN strlen(text) % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: document text treated as an opaque
    binary column and given typed metadata by `binary_metadata`, checked
    end-to-end against SQL.  No payload is decoded."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return binary_metadata(docs, id_col="doc_id", bin_col="payload")


# =====================================================================
# Near-dup end-to-end (dedup family headline)
# =====================================================================

@register(
    "d_near_dup_pairs",
    f"""
    SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b, {_JACCARD_SQL} AS j
        FROM {_SHINGLED_PAIRS_SQL}
    ) WHERE j >= 0.08
    """,
)
def d_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash blocking → Jaccard verify ≥ τ: the complete near-dup
    detection chain as one declarative plan."""
    return _shingled_pairs(spark, sf_dir).filter(_jaccard() >= 0.08).select(
        "doc_a", "doc_b"
    )


@register(
    "er_near_dup_clusters",
    _components_sql(
        f"SELECT doc_a AS src, doc_b AS dst FROM ({ORACLES['d_near_dup_pairs']})"
    ),
)
def er_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup chain as one oracle-checked query: MinHash blocking
    → Jaccard-verified near-dup edges → connected components (star rounds
    until the frontier fits one task, then the one-task hybrid finish),
    vs DuckDB's recursive-CTE transitive closure."""
    edges = d_near_dup_pairs(spark, sf_dir)
    return connected_components(edges, src_col="doc_a", dst_col="doc_b")


@register(
    "w_hard_negative_shape",
    f"""
    SELECT user_id, event_id, rnk - 1 AS neg_rank FROM (
        SELECT user_id, event_id, {_rank_sql("user_id", "value", "event_id", "rnk")}
        FROM events
    ) WHERE rnk BETWEEN 2 AND 4
    """,
)
def w_hard_negative_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 hard-negative mining shape on shared testdata: per group, the
    top-k items EXCLUDING the top-1 'gold' (utils_e2e_span.py:408-449)."""
    ev = _t(spark, sf_dir, "events")
    return (
        rank_by_score(ev, "user_id", "value", "event_id", "rnk")
        .filter((F.col("rnk") >= 2) & (F.col("rnk") <= 4))
        .select("user_id", "event_id", (F.col("rnk") - 1).alias("neg_rank"))
    )


@register(
    "a_cube_metrics",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a_cube_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets metrics rollup (SURVEY.md §2.4: 'cube as a free
    Spark win' for the per-partition metrics tables)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


@register(
    "s_deterministic_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_hex8_sql("CAST(doc_id AS VARCHAR)")} % 10 = 0
    """,
)
def s_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1 negative sampling done retry-safely: pmod(hash(key)) instead
    of rand() (utils_e2e_span.py:344-347 random.sample → deterministic
    1-in-10 keyed sample; SURVEY.md §7a determinism rule)."""
    docs = _t(spark, sf_dir, "documents")
    h = H.hex_prefix_to_long(F.md5(F.col("doc_id").cast("string")))
    return docs.filter(F.pmod(h, F.lit(10)) == 0).select("doc_id", "lang")


@register(
    "w_sessionize",
    """
    WITH gaps AS (
        SELECT event_id, user_id, ts,
               CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
    FROM gaps
    """,
)
def w_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap detection + running sum — the two-window
    composition (A7 family) every event pipeline needs.

    Gap comparison at FULL timestamp precision (cast to double seconds
    keeps microseconds): `unix_timestamp()` truncates to whole seconds
    and can split sessions differently from the >30min rule whenever a
    gap falls inside (1800.0, 1801.0)s."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("double")
    gap = F.when(secs - F.lag(secs).over(w) > 1800.0, 1).when(
        F.lag("ts").over(w).isNull(), 1
    ).otherwise(0)
    return (
        ev.withColumn("new_sess", gap)
        .withColumn(
            "session_no",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select("event_id", "user_id", "session_no")
    )


def _bio_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, tag) over the documents table's real token
    positions, tags a deterministic synthetic stream: md5(doc_id:pos)
    mod 5 is 2 → B (1), 3 or 4 → I (2), else O (0).  `_bio_tagged_sql`
    is its oracle."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    ntok = docs.select(
        "doc_id", F.size(X.tokens(X.normalize_text(F.col("text")))).alias("n")
    )
    toks = ntok.filter(F.col("n") > 0).select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("pos")
    )
    h = H.hex_prefix_to_long(
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("pos")))
    )
    tag = (
        F.when(F.pmod(h, F.lit(5)) == 2, 1)
        .when(F.pmod(h, F.lit(5)).isin(3, 4), 2)
        .otherwise(0)
    )
    return toks.withColumn("tag", tag)


def _bio_tagged_sql(extra: str = "") -> str:
    """The toks/tagged CTEs of the BIO oracles; `extra` adds columns to
    `tagged`."""
    return f"""
    toks AS (
        SELECT doc_id, unnest(range(0, len(words))) AS pos
        FROM (SELECT doc_id, {_WORDS_SQL} AS words FROM documents)
    ),
    tagged AS (
        SELECT doc_id, pos,
               CASE {_hex8_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")} % 5
                    WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 2
                    ELSE 0 END AS tag{extra}
        FROM toks
    )"""


@register(
    "w_bio_decode",
    f"""
    WITH {_bio_tagged_sql()},
    runs AS (
        SELECT doc_id, pos, tag,
               sum(CASE WHEN tag = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS span_no
        FROM tagged
    )
    SELECT doc_id, CAST(span_no AS BIGINT) AS span_no,
           CAST(coalesce(max(CASE WHEN tag = 1 THEN pos END), min(pos))
                AS BIGINT) AS span_start,
           CAST(max(pos) AS BIGINT) AS span_end,
           CAST(max(pos) - coalesce(max(CASE WHEN tag = 1 THEN pos END),
                                    min(pos)) + 1 AS BIGINT) AS n_tokens
    FROM runs WHERE tag != 0
    GROUP BY doc_id, span_no
    """,
)
def w_bio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 BIO span decode (reference get_mention_spans,
    run_e2e_span.py:383-447) — the sequential per-document tag walk
    restated as window + aggregate (see operators/bio.py for the closed
    form and its proof/exhaustive test).  Tags here are a deterministic
    synthetic stream (md5 of doc_id:pos → {O,B,I}) over the documents
    table's real token positions, so the decode semantics — including
    the reference's B-after-B discard and I-after-O open — are exercised
    end-to-end against the DuckDB oracle at hash level."""
    from ..operators.bio import bio_span_decode

    return bio_span_decode(_bio_tags(spark, sf_dir)).select(
        "doc_id", "span_no", "span_start", "span_end", "n_tokens"
    )


@register(
    "a_count_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def a_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase agg in Spark)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@register("stream_linkage_clusters", None)  # numpy feature kernels are not
# SQL-expressible, so no DuckDB oracle — but the query is SELF-VERIFYING:
# it also runs the BATCH pipeline (run_linkage) on the union corpus and
# returns only the inner join of the two (node, component) mappings,
# asserting all three counts agree.  A stream/batch divergence therefore
# fails the driver row (AssertionError), not just a silent count drift;
# reference semantics anchor: run_e2e_span.py:570-575.
def stream_linkage_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL STREAMING pipeline through the driver gate: documents
    split into two deterministic micro-batches, each run through
    process_linkage_batch (features store → incremental blocking →
    exactly-once pairs → fused scoring → τ links → incremental cluster
    maintenance), the final (node, component) mapping read back with
    singletons — then VERIFIED in-query against the batch pipeline on
    the union corpus (band channel, uncapped — the streaming path's
    channels) before any row is returned.  Deterministic: a fresh
    mkdtemp store per invocation (concurrent driver/bench runs over the
    same fixture can no longer race each other's rmtree), every batch
    op idempotent."""
    import shutil
    import tempfile

    from ..streaming.incremental import process_linkage_batch, read_clusters
    from .linkage import LinkageConfig, run_linkage

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    store = tempfile.mkdtemp(prefix="stream_catalog_")
    batch_stages: dict[str, DataFrame] = {}
    try:
        for i in range(2):
            batch = docs.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i)
            process_linkage_batch(batch, i, store, n_buckets=8)
        streamed = read_clusters(spark, store)
        batch_stages = run_linkage(
            spark,
            docs,
            cfg=LinkageConfig(use_embedding_blocks=False, max_block_size=None),
        )
        expected = batch_stages["clusters"].select("node", "component")
        # localCheckpoint cuts the file lineage so the returned rows
        # survive the store cleanup below (driver collects after return)
        verified = (
            streamed.join(expected, ["node", "component"], "inner")
            .localCheckpoint()
        )
        n_stream, n_batch, n_agree = (
            streamed.count(), expected.count(), verified.count()
        )
        assert n_stream == n_batch == n_agree, (
            f"stream/batch cluster divergence: stream={n_stream} "
            f"batch={n_batch} agree={n_agree}"
        )
        return verified
    finally:
        for df in batch_stages.values():
            try:
                df.unpersist()
            except Exception:
                pass
        shutil.rmtree(store, ignore_errors=True)


# the continuation flags of w_bio_decode_subword: md5('c:' doc_id:pos) mod 4 = 0
_SUBWORD_TAGS_SQL = f""",
               CASE WHEN {_hex8_sql("'c:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")} % 4 = 0
                    THEN 1 ELSE 0 END AS cont,
               max(pos) OVER (PARTITION BY doc_id) + 1 AS L"""


@register(
    "w_bio_decode_subword",
    f"""
    WITH {_bio_tagged_sql(_SUBWORD_TAGS_SQL)},
    isl AS (
        SELECT doc_id, pos,
               max(pos) OVER (PARTITION BY doc_id, grp) AS isl_end
        FROM (SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM tagged WHERE cont = 1 AND pos <= L - 2)
    ),
    rws AS (
        SELECT t.doc_id, t.pos, t.tag, t.L,
               coalesce(i.isl_end - t.pos, 0) AS c,
               sum(coalesce(i.isl_end - t.pos, 0))
                   OVER (PARTITION BY t.doc_id ORDER BY t.pos
                         ROWS UNBOUNDED PRECEDING) AS csum
        FROM tagged t LEFT JOIN isl i
          ON i.doc_id = t.doc_id AND i.pos = t.pos + 1
    ),
    interior AS (
        SELECT doc_id, pos, tag, c, csum,
               sum(CASE WHEN tag = 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS span_no
        FROM rws WHERE pos >= 1 AND pos <= L - 2
    ),
    bounds AS (
        SELECT doc_id, span_no, min(pos) AS p0, max(pos) AS pk,
               max(CASE WHEN tag = 1 THEN pos END) AS lastB
        FROM interior WHERE tag != 0
        GROUP BY doc_id, span_no
    ),
    t0 AS (SELECT doc_id, tag AS tag0 FROM tagged WHERE pos = 0)
    SELECT b.doc_id,
           CAST(b.span_no AS BIGINT) AS span_no,
           CAST(coalesce(b.lastB,
                         CASE WHEN b.p0 = 1 AND t0.tag0 != 0 THEN 0
                              ELSE b.p0 END) AS BIGINT) AS span_start,
           CAST(b.pk + (rk.csum - ra.csum + ra.c) AS BIGINT) AS span_end,
           CAST(b.pk + (rk.csum - ra.csum + ra.c)
                - coalesce(b.lastB,
                           CASE WHEN b.p0 = 1 AND t0.tag0 != 0 THEN 0
                                ELSE b.p0 END) + 1 AS BIGINT) AS n_tokens
    FROM bounds b
    JOIN t0 ON t0.doc_id = b.doc_id
    JOIN rws ra ON ra.doc_id = b.doc_id AND ra.pos = coalesce(b.lastB, b.p0)
    JOIN rws rk ON rk.doc_id = b.doc_id AND rk.pos = b.pk
    """,
)
def w_bio_decode_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 with the reference's WordPiece `##` continuation clause — the
    last previously-excluded clause of get_mention_spans
    (run_e2e_span.py:411-447), as the proved closed form in
    operators/bio.bio_span_decode_subword (exhaustively verified against
    the faithful sequential spec, including the reference's dead-loop
    double-counting and stale position-0 anchor).  Tags and continuation
    flags are deterministic synthetic streams (md5 of doc_id:pos, two
    salts) over the documents table's real token positions; the DuckDB
    oracle implements the same closed form end-to-end at hash level."""
    from ..operators.bio import bio_span_decode_subword

    hc = H.hex_prefix_to_long(
        F.md5(F.concat_ws(":", F.lit("c"), F.col("doc_id"), F.col("pos")))
    )
    tagged = _bio_tags(spark, sf_dir).withColumn(
        "cont", (F.pmod(hc, F.lit(4)) == 0).cast("int")
    )
    return bio_span_decode_subword(tagged).select(
        "doc_id", "span_no", "span_start", "span_end", "n_tokens"
    )
