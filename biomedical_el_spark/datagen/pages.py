"""Deterministic synthetic Common-Crawl-style page corpus with known gold
clusters (FIXTURES.md §1; BASELINE.json input_hint shape).

Schema: (url string, warc_ts timestamp, html binary, text string,
lang string) + generator-truth column `entity_id` (the gold cluster — kept
in a side table, never consumed by the pipeline).

Construction: page i belongs to entity i // cluster_size; each page is a
near-duplicate rendering of its entity's canonical token sequence with
~1-in-17 deterministic token substitutions per variant, so intra-cluster
3-shingle Jaccard is high (≈0.7+) and inter-cluster similarity is noise.
Everything derives from arithmetic on the row id — distributed generation
via spark.range + mapInPandas (scales to any row count; no driver-side
data), deterministic under retries (no RNG state, pure f(id)).

The skew variant maps a fraction of ALL rows to entity 0 — the 'hot block'
fixture exercising the block-size cap + AQE skew handling (SURVEY.md §4.1).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LANGS = np.array(["en", "de", "es", "fr", "zh"])

# small word vocabulary; pages are token soup over it (no '<' or '>' so the
# html wrap/unwrap round-trip is byte-exact)
_VOCAB = np.array(
    [
        f"{a}{b}"
        for a in (
            "data spark merge join scan sort hash agg row col key val web page "
            "link text node graph block pair score match dedup shard batch "
            "stream query plan stage task core disk net mem cache index "
        ).split()
        for b in ("", "er", "ing", "ed", "s", "ix", "on", "al")
    ]
)

PAGE_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "entity_id bigint"
)


def _mix(x: np.ndarray) -> np.ndarray:
    """64-bit splitmix-style mixer — the only 'randomness' source."""
    x = x.astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _render(ids: np.ndarray, cluster_size: int, hot_fraction: float) -> pd.DataFrame:
    n = len(ids)
    ent = ids // cluster_size
    if hot_fraction > 0:
        # every ⌊1/hot_fraction⌋-th page collapses into hot entity 0
        step = max(int(round(1.0 / hot_fraction)), 1)
        ent = np.where(ids % step == 0, 0, ent)
    variant = _mix(ids) % np.uint64(1 << 16)

    eh = _mix(ent)
    doclen = (30 + (eh % np.uint64(50))).astype(np.int64)
    L = int(doclen.max()) if n else 0
    pos = np.arange(L, dtype=np.uint64)[None, :]
    base_idx = _mix(eh[:, None] * np.uint64(1315423911) + pos * np.uint64(2654435761))
    words = base_idx % np.uint64(len(_VOCAB))
    # variant-specific substitutions, ~1 token in 17
    sub_site = _mix(base_idx + variant[:, None].astype(np.uint64))
    is_sub = (_mix(base_idx * np.uint64(7) + variant[:, None].astype(np.uint64)) % np.uint64(17)) == 0
    words = np.where(is_sub, sub_site % np.uint64(len(_VOCAB)), words)

    mask = np.arange(L)[None, :] < doclen[:, None]
    tok = _VOCAB[words.astype(np.int64)]
    tok = np.where(mask, tok, "")
    texts = pd.Series([" ".join(row[row != ""]) for row in tok])

    urls = "https://site" + pd.Series(ids % 97).astype(str) + ".example/p/" + pd.Series(ids).astype(str)
    ts = pd.Timestamp("2025-01-01") + pd.to_timedelta(ids.astype(np.int64) * 7, unit="s")
    html = ("<html><body><p>" + texts + "</p></body></html>").str.encode("utf-8")
    lang = _LANGS[(eh % np.uint64(len(_LANGS))).astype(np.int64)]
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": html,
            "text": texts,
            "lang": lang,
            "entity_id": ent.astype(np.int64),
        }
    )


def generate_pages(
    spark: SparkSession,
    n_pages: int,
    cluster_size: int = 4,
    hot_fraction: float = 0.0,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic corpus: spark.range → mapInPandas."""
    rng = spark.range(n_pages, numPartitions=partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _render(pdf["id"].to_numpy(), cluster_size, hot_fraction)

    return rng.mapInPandas(gen, schema=PAGE_SCHEMA)


def gold_pairs(pages: DataFrame) -> DataFrame:
    """Generator-truth labeled pairs (FIXTURES.md §2): all intra-entity
    pairs (is_match=true).  Non-match pairs are added by the eval harness
    from blocking candidates that cross entities."""
    a = pages.select(F.col("url").alias("url_a"), F.col("entity_id"))
    b = pages.select(F.col("url").alias("url_b"), F.col("entity_id"))
    return (
        a.join(b, "entity_id")
        .filter(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b", F.lit(True).alias("is_match"))
    )
