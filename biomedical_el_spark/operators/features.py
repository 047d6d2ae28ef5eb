"""Stage 0.5 — per-page feature table: ONE batched Arrow pass computes the
embedding (dual-encoder stand-in, SURVEY.md U1) and the MinHash signature
together, so downstream blocking AND scoring read a narrow materialized
relation instead of recomputing text kernels.

    pages(url, text) → features(url, vec array<tinyint>,
                                sig array<int>, prefix string)

Storage dtypes (round-5 DRAM cut, ~600B/row → ~340B/row):
  vec — int8 quantization of the L2-normalized embedding
        (round(v·127)); cosine over the quantized vectors differs from
        float cosine by <1e-2, far inside the τ margin, and the scorer
        normalizes by the actual quantized norms so no scale leaks in.
  sig — low 32 bits of each 64-bit minhash value; equality of the full
        values implies equality of the truncations (band keys cannot be
        LOST), and a false 32-bit agreement adds 2^-32 per component to
        the Jaccard estimate — noise floor.

At 10^12 pages this is the stage worth snapshotting (Iceberg table
bucketed by url): blocking derives band keys from `sig` (pure projection,
no shuffle), scoring hydrates pairs from it (~340B/row instead of
multi-KB shingle arrays), and both the snapshot and every hydration
shuffle move ~45% fewer bytes than the float32/int64 encoding.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.embedder import DIM, _embed_batch
from ..functions.minhash_np import minhash_batch


def _quantize(vecs: np.ndarray) -> list:
    """[N, dim] float32 unit vectors → [N] int8 arrays (round(v·127))."""
    return list(np.rint(vecs * 127.0).astype(np.int8))


def _sig32(sigs: np.ndarray) -> list:
    """[N, k] uint64 minhash → [N] int32 arrays (low 32 bits)."""
    return list(sigs.astype(np.uint32).view(np.int32))


def page_features(
    pages: DataFrame,
    num_hashes: int,
    seed: int,
    prefix_len: int,
    id_col: str = "url",
    text_col: str = "text",
    normalize_accents: bool = False,
) -> DataFrame:
    """Compute (url, vec, sig, prefix) in one scalar-iterator pandas UDF
    over Arrow batches — model/config init once per worker.  The
    semantic arguments have no defaults: `LinkageConfig` declares them
    (`plans.linkage.featurize`).

    normalize_accents=True NFD-strips combining marks (reference
    BasicTokenizer semantics, tokenization_bert.py:345-356) INSIDE the
    same Arrow pass before embedding/minhash AND for the JW prefix, so
    'café' (NFC) and 'cafe\\u0301' (NFD) land in the same blocks and
    score identically.  Off by default: the stored page text stays
    byte-identical (input_hint invariant), and normalization is a
    key-derivation choice for non-English corpora, not an ingest mutation.
    """
    if normalize_accents:
        from ..functions.text import strip_accents_batch

        @F.pandas_udf("vec array<tinyint>, sig array<int>, prefix string")
        def feats_norm(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for texts in batches:
                texts = strip_accents_batch(texts)
                vecs = _embed_batch(texts, DIM)
                sigs = minhash_batch(texts, num_hashes, seed)
                yield pd.DataFrame({
                    "vec": _quantize(vecs),
                    "sig": _sig32(sigs),
                    "prefix": texts.str.slice(0, prefix_len),
                })

        return pages.select(
            F.col(id_col).alias("url"), feats_norm(F.col(text_col)).alias("f")
        ).select("url", "f.vec", "f.sig", "f.prefix")

    @F.pandas_udf("vec array<tinyint>, sig array<int>")
    def feats(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            vecs = _embed_batch(texts, DIM)
            sigs = minhash_batch(texts, num_hashes, seed)
            yield pd.DataFrame({"vec": _quantize(vecs), "sig": _sig32(sigs)})

    return pages.select(
        F.col(id_col).alias("url"),
        feats(F.col(text_col)).alias("f"),
        F.substring(F.col(text_col), 1, prefix_len).alias("prefix"),
    ).select("url", "f.vec", "f.sig", "prefix")


def band_keys_from_sig(
    features: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """features → (url, block_key:bigint): pure projection + explode; the
    only wide relation blocking ever shuffles is (url, key).

    The band key is xxhash64(band_idx, sig values in the band) — an
    8-byte key instead of a ~45-char string, which roughly halves the
    blocking shuffle and speeds the pair groupBy.  A 64-bit hash
    collision can only ADD a candidate pair (verified by scoring), never
    lose one.

    The key expression is a STATIC unrolled array (bands is a config
    constant) hashing the band's int components directly —
    xxhash64(band, sig[i], sig[i+1]) — instead of a `transform` lambda
    building a comma-joined string per band: higher-order functions are
    CodegenFallback (interpreted per element), and the string
    concat/slice allocated per key.  Same banding semantics (two docs
    share a band key iff that band of their signatures matches; direct
    int hashing cannot LOSE a collision pair the string form had, and
    any new 64-bit collision only adds a scored candidate).  Measured
    round 6 at 250k pages/32c: band-key projection 0.88 s → 0.20 s.
    The array is parsed from one SQL string, not built from ~200
    Column calls, each a Py4J round trip: ~35 ms of driver time per
    call instead of 150–220 ms (4-vCPU host), with identical keys.

    Scope of the no-loss claims: they compare keys made by ONE band-key
    formula.  Round 6 replaced the string form with this int hashing, so
    every key VALUE changed.  The streaming store persists block_key
    (streaming/incremental.py), and a store written before round 6 and
    resumed after it silently misses every pair that needs an old key to
    meet a new one.  So a change to this formula must bump the
    streaming store's `STORE_FORMAT`: a store written under the old
    formula then fails fast on its marker and is rebuilt from its
    pages."""
    band_args = (
        ", ".join([str(b)] + [f"sig[{b * rows_per_band + i}]" for i in range(rows_per_band)])
        for b in range(bands)
    )
    keys = F.expr("array(" + ", ".join(f"xxhash64({a})" for a in band_args) + ")")
    return features.select("url", F.explode(keys).alias("block_key"))
