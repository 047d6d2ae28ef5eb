"""Stage 1 — candidate blocking, as SQL column pipelines.

Replaces the reference's candidate generation (utils_e2e_span.py:340-461:
random sampling, TF-IDF, or brute-force dot-product top-k over all 29k
entities) with distributed blocking that never materializes the all-pairs
join (SURVEY.md J3):

  1. MinHash-LSH over k-shingled text (`shingle_blocks`)
  2. rarest-shingle TF-IDF keys (`tfidf_blocks`)

Both emit the narrow relation (url, block_key) — the equi-join key that
turns O(n²) similarity search into per-block joins.  At 10^12 docs the
explode output is wide but *narrow-schema*; Catalyst prunes every other
page column at the scan because these are pure column pipelines.  The
flagship derives its MinHash band keys and hyperplane buckets from the
features table instead (`features.band_keys_from_sig`, `plans/linkage.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as X


def shingle_blocks(
    pages: DataFrame,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """pages → (url, block_key): MinHash signature over k-shingles, banded.
    Hash i of a shingle s is md5("i:" + s), which DuckDB reproduces byte
    for byte, so the declared query built on it is oracle-checked.

    bands×rows_per_band must equal num_hashes.  With rows=2, two pages
    share a band key with prob s² per band (s = true Jaccard) — ≥0.99
    recall at s≥0.7 with 8 bands.
    """
    assert bands * rows_per_band == num_hashes
    tok = X.tokens(X.normalize_text(F.col(text_col)))
    # explode shingles → per-url min-agg per seed.  This shape matters at
    # scale: map-side partial aggregation collapses each url's shingles
    # BEFORE the shuffle, so the exchange carries only (url, 16 longs).
    # (A nested transform/array_min expression re-evaluates inner lambdas
    # per outer element — measured 70× slower than this plan.)
    # Tokens are MATERIALIZED into a column before shingling: `shingles`
    # references its argument in every lambda element, and an inlined
    # tokenize EXPRESSION is re-evaluated per shingle (measured 15× on
    # this projection; same family as the nested-HOF trap above).
    ex = pages.select(
        F.col(id_col).alias("url"), tok.alias("tk")
    ).select(
        "url",
        F.explode(X.shingles(F.col("tk"), k_shingle)).alias("s"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = ex.groupBy("url").agg(*aggs).select(
        "url", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )
    return sig.select(
        "url", F.explode(H.band_keys(F.col("sig"), bands, rows_per_band)).alias("block_key")
    )


def tfidf_blocks(
    pages: DataFrame,
    k_shingle: int = 3,
    top_w: int = 2,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """pages → (url, block_key:string, df:bigint): each page keyed by its
    `top_w` RAREST shingles (lowest document frequency = highest IDF).

    The third recall channel, mirroring the reference's TF-IDF candidate
    generation (utils_e2e_span.py:349-356, --use_tfidf_candidates): two
    pages sharing a *rare* distinctive shingle become candidates even when
    their overall Jaccard is far below what MinHash banding can catch.

    Shingles with df = 1 are dropped BEFORE ranking: a globally-unique
    shingle can never produce a candidate pair, and on web corpora the
    overwhelming majority of shingles are unique — the filter is provably
    lossless for pair generation and collapses the join/window input.
    (Without it, 'rarest' degenerates to picking useless singletons.)

    Plan shape at scale: explode distinct shingles (map-side), one
    groupBy(shingle) for document frequency (partial aggs — the exchange
    carries (shingle, count)), the df>=2 filter, an equi-join back on
    shingle (skew-free: one row per (url, shingle)), and a per-url top-w
    window.  No step materializes more than (url, shingle, df).
    Determinism: ties broken by (df, shingle) — total order, so
    retries/oracles agree."""
    from pyspark.sql import Window

    tok = X.tokens(X.normalize_text(F.col(text_col)))
    # two-step: materialize tokens, THEN shingle (see shingle_blocks note;
    # inlining the tokenizer into the shingle lambdas measured 15× slower)
    doc_sh = pages.select(
        F.col(id_col).alias("url"), tok.alias("tk")
    ).select(
        "url",
        F.explode(F.array_distinct(X.shingles(F.col("tk"), k_shingle))).alias("sh"),
    )
    dfreq = doc_sh.groupBy("sh").agg(F.count("*").alias("df")).filter(F.col("df") >= 2)
    win = Window.partitionBy("url").orderBy("df", "sh")
    return (
        doc_sh.join(dfreq, "sh")
        .withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= top_w)
        .select("url", F.col("sh").alias("block_key"), "df")
    )
