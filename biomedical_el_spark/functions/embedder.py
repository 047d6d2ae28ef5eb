"""Deterministic hash-projection text embedder — the test stand-in for the
reference's dual-encoder BERT towers (modeling_e2e_span.py:17-29; forward at
modeling_bert.py:618-800).

Interface contract (SURVEY.md U1): a scalar-iterator pandas UDF
``embed(Iterator[pd.Series[str]]) -> Iterator[pd.Series[array<float>]]`` —
state (here: the projection config; in production: the torch model) is
initialized ONCE per executor python worker, then applied to Arrow batches.
Swapping in a real encoder means changing only `_embed_batch`.

The embedding itself: byte-trigram feature hashing with ±1 signs, L2
normalized — fully vectorized over the concatenated batch buffer (one
frombuffer + one np.add.at for the whole batch; no per-row Python).
Mirrors the mean-pool span embedding semantics (utils_e2e_span.py:408-413)
in the degenerate 'span = whole page' case.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

DIM = 64
_P1, _P2, _P3 = np.uint64(1000003), np.uint64(10007), np.uint64(1)


def _embed_batch(texts: pd.Series, dim: int = DIM) -> np.ndarray:
    """[N] strings → [N, dim] float32, L2-normalized, deterministic."""
    enc = texts.fillna("").astype(str).str.lower().str.encode("utf-8")
    lens = np.fromiter((len(x) for x in enc), dtype=np.int64, count=len(enc))
    n = len(enc)
    out = np.zeros((n, dim), dtype=np.float64)
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.uint64)
    if len(buf) >= 3:
        seg = np.repeat(np.arange(n, dtype=np.int64), lens)
        tri = buf[:-2] * _P1 + buf[1:-1] * _P2 + buf[2:] * _P3
        # multiplicative mix so low bytes reach high bits
        tri = tri * np.uint64(0x9E3779B97F4A7C15)
        valid = seg[:-2] == seg[2:]  # trigram must not span two documents
        tri, seg3 = tri[valid], seg[:-2][valid]
        idx = (tri % np.uint64(dim)).astype(np.int64)
        sign = 1.0 - 2.0 * ((tri >> np.uint64(32)) & np.uint64(1)).astype(np.float64)
        # np.add.at, NOT bincount(weights=...): A/B'd (r5) — numpy 1.26+
        # vectorized ufunc.at (3x faster here); weighted bincount is the
        # non-SIMD legacy path
        np.add.at(out, (seg3, idx), sign)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out.astype(np.float32)


@F.pandas_udf(T.ArrayType(T.FloatType()))
def embed_text(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Scalar-iterator pandas UDF: one-time per-worker init happens here
    (for the real encoder: load weights); then stream Arrow batches."""
    dim = DIM  # per-worker init point
    for texts in batches:
        vecs = _embed_batch(texts, dim)
        yield pd.Series(list(vecs))


def seeded_planes(num_planes: int, seed: int, dim: int = DIM) -> np.ndarray:
    """The shared random-hyperplane matrix [dim, num_planes]: one seeded
    draw used by BOTH the batched UDF (scale path) and its DuckDB
    rendering (`hyperplane_bucket_sql`), so bucket keys agree."""
    return np.random.RandomState(seed).randn(dim, num_planes)


def hyperplane_bucket_sql(col: str, num_planes: int = 4, seed: int = 7, dim: int = DIM) -> str:
    """Hyperplane LSH bucket as DuckDB SQL — the oracle form of
    `hyperplane_lsh_udf`: for each plane, a left-associated literal dot
    product; bucket = packed sign bits.  Same seeded planes, so the
    buckets equal the UDF's (tests/test_ann.py checks every fixture
    embedding)."""
    planes = seeded_planes(num_planes, seed, dim)
    parts = []
    for p in range(num_planes):
        # float() before !r: numpy>=2 reprs np.float64 as 'np.float64(x)',
        # which is not SQL; Python float repr is shortest-round-trip, so
        # the literal parses back to the bit-identical double either way.
        dot = " + ".join(
            f"{col}[{d + 1}]::DOUBLE * {float(planes[d, p])!r}" for d in range(dim)
        )
        parts.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def hyperplane_lsh_udf(num_planes: int = 8, seed: int = 42, dim: int = DIM):
    """Random-hyperplane LSH bucket key for numeric array embeddings
    (north_star: 'vectors bucketed by random-hyperplane LSH keys').

    Planes are drawn once per worker from a seeded RNG — deterministic
    across retries and executors.  Returns int key in [0, 2^num_planes).
    Replaces the reference's (dead) FAISS index (utils_e2e_span.py:8,
    265-270) with the idiomatic distributed analogue.

    Input dtype note (r5 advice): the flagship passes the features
    table's int8-QUANTIZED `vec` (round(v·127)), not the float
    embedding.  Bucket assignment only reads projection signs, and
    sign(q·p) can differ from sign(v·p) when the float projection is
    within quantization noise of zero — a deterministic bucket-boundary
    shift on near-plane vectors, equivalent to drawing slightly
    different planes.  This is recall-channel drift only (the band
    channel and τ-scoring still gate every pair); both the batch and
    streaming paths quantize identically, so their buckets agree.
    """

    @F.pandas_udf(T.IntegerType())
    def lsh_key(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        planes = seeded_planes(num_planes, seed, dim)
        weights = 1 << np.arange(num_planes)
        for vecs in batches:
            mat = np.stack(vecs.to_numpy())
            bits = (mat @ planes) > 0
            yield pd.Series((bits @ weights).astype(np.int32))

    return lsh_key
