"""Seeded page corpus with generator gold, written without Spark.

Each entity has one canonical token sequence; each of its pages is a
near-duplicate rendering with about one token in 17 substituted.  The
program under test receives only the page columns; the gold entity of
each url stays in a side table that only the correctness gates read.

Arrival order (`warc_ts`) is a seeded permutation of the pages, so the
copies of one entity are spread across stream micro-batches.  Shards are
cut in `warc_ts` order, never by a hash of `url`: a url hash correlates
with the store's `xxhash64(url)` buckets and would fake bucket pruning.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# token soup over a fixed vocabulary (no '<' or '>', so the html wrapper
# round-trips byte-exactly through the ingest path)
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
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_BASE_TS = pd.Timestamp("2025-01-01", tz="UTC")
SUBSTITUTION_RATE = 1 / 17


@dataclass(frozen=True)
class CorpusSpec:
    n_pages: int
    min_tokens: int
    max_tokens: int
    cluster_size: int
    hot_fraction: float = 0.0


def render_corpus(spec: CorpusSpec, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(pages, gold): pages(url, warc_ts, html, text, lang) in arrival
    order, gold(url, entity_id).  Same spec and seed give the same frames."""
    rng = np.random.default_rng(seed)
    n = spec.n_pages
    ent = np.arange(n) // spec.cluster_size
    n_hot = int(round(spec.hot_fraction * n))
    if n_hot:
        ent[rng.choice(n, n_hot, replace=False)] = 0  # the hot entity
    n_ent = int(ent.max()) + 1
    lengths = rng.integers(spec.min_tokens, spec.max_tokens + 1, n_ent)
    canon = [rng.integers(0, len(_VOCAB), k) for k in lengths]
    texts = []
    for e in ent:
        words = canon[e].copy()
        sub = rng.random(len(words)) < SUBSTITUTION_RATE
        words[sub] = rng.integers(0, len(_VOCAB), int(sub.sum()))
        texts.append(" ".join(_VOCAB[words]))
    # a seed-derived id offset keeps urls distinct across seeds
    ids = seed * 10_000_000 + np.arange(n)
    urls = [f"https://site{i % 97}.example/p/{i}" for i in ids]
    arrival = rng.permutation(n)
    order = np.argsort(arrival)
    pages = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": _BASE_TS + pd.to_timedelta(arrival * 7, unit="s"),
            "html": [f"<html><body><p>{t}</p></body></html>".encode() for t in texts],
            "text": texts,
            "lang": _LANGS[ent % len(_LANGS)],
        }
    ).iloc[order].reset_index(drop=True)
    gold = pd.DataFrame({"url": urls, "entity_id": ent})
    return pages, gold


def write_parquet(pages: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """Write pages as `n_files` parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pages)), n_files)):
        table = pa.Table.from_pandas(pages.iloc[part], preserve_index=False)
        pq.write_table(
            table, os.path.join(path, f"part-{i:05d}.parquet"), coerce_timestamps="us"
        )


def arrival_shards(pages: pd.DataFrame, n_batches: int) -> list[pd.DataFrame]:
    """Contiguous `warc_ts` ranges of (nearly) equal size."""
    ordered = pages.sort_values("warc_ts", kind="stable")
    return [ordered.iloc[ix] for ix in np.array_split(np.arange(len(ordered)), n_batches)]


def pairwise_f1(clusters: pd.DataFrame, gold: pd.DataFrame) -> float:
    """Pairwise F1 of predicted clusters (node, component) against gold
    entities, from the contingency table: a pair is predicted when both
    urls share a component and gold when they share an entity."""
    m = clusters.merge(gold, left_on="node", right_on="url", how="inner")
    if len(m) != len(gold):
        raise ValueError(f"clusters cover {len(m)} of {len(gold)} gold urls")

    def pairs(sizes: pd.Series) -> int:
        s = sizes.to_numpy(dtype=np.int64)
        return int((s * (s - 1) // 2).sum())

    tp = pairs(m.groupby(["component", "entity_id"]).size())
    pred = pairs(m.groupby("component").size())
    true = pairs(m.groupby("entity_id").size())
    if tp == 0:
        return 0.0
    precision, recall = tp / pred, tp / true
    return 2 * precision * recall / (precision + recall)
