"""Vectorized similarity kernels: cosine, Jaro-Winkler, Jaccard.

The reference scores mention↔entity pairs with a dense dot product
(modeling_e2e_span.py:161-162,227-232; utils_e2e_span.py:422-424).  Our
pairwise scorer reproduces that as batched numpy inside Arrow pandas UDFs
(north_star: 'batched cosine/Jaro-Winkler hybrid scores'), with zero
per-row Python: the Jaro-Winkler inner loop runs over *string positions*
(≤64 iterations) with [batch, L] numpy ops, never over rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ------------------------------------------------------------------ cosine


def dot_expr(a: Column, b: Column) -> Column:
    """Pure-SQL double dot product of two numeric array columns — the
    reference's scoring function (utils_e2e_span.py:422-424), JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Pure-SQL cosine over two array<float> columns (JVM-side; exactly
    mirrored by DuckDB's list ops for oracle checks).

    Zero-norm guard: all-zero vectors are reachable by design (the
    embedder emits zero vecs for empty/whitespace pages, and empty pages
    share sentinel minhash signatures so they DO block together into
    scored pairs) — under Spark 4's default ANSI mode an unguarded
    dot/(na*nb) would throw DIVIDE_BY_ZERO and kill the scoring stage.
    Convention: 0.0, matching the flagship scorer's numpy cosine
    (`scoring._score_kernels_udf`)."""
    dot = dot_expr(a, b)
    na = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    return F.when(na * nb == 0, F.lit(0.0)).otherwise(dot / (na * nb))


# ------------------------------------------------------- jaro-winkler

# Safety bound on compared length, in utf-8 BYTES.  Callers pass short
# prefixes (flagship: 32 codepoints ≤ 128 bytes); 256 covers 64 codepoints
# of any script, so the bound never bites for our inputs — and the working
# matrices shrink to the batch's true max length anyway (dynamic L below).
_JW_MAXLEN = 256
_JW_PREFIX_WEIGHT = 0.1
_JW_BOOST_THRESHOLD = 0.7


def _to_char_matrix(s: pd.Series, L: int) -> tuple[np.ndarray, np.ndarray]:
    """Series[str] → (uint8 matrix [N, L] zero-padded, lengths [N]).

    BYTE-wise over utf-8 code units — deliberately: DuckDB's
    jaro_winkler_similarity also operates on utf-8 bytes (verified by
    property test: 'À' counts as 2 units there), so byte-wise is the
    oracle-parity semantics.  Property-tested on multi-byte alphabets in
    tests/test_property_similarity.py.  One big frombuffer, no per-row
    loop."""
    enc = s.fillna("").astype(str).str.slice(0, L).str.encode("utf-8").str.slice(0, L)
    lens = np.fromiter((len(x) for x in enc), dtype=np.int64, count=len(enc))
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    mat = np.zeros((len(enc), L), dtype=np.uint8)
    ends = np.cumsum(lens)
    starts = ends - lens
    pos_in_row = np.arange(len(buf)) - np.repeat(starts, lens)
    rows = np.repeat(np.arange(len(enc)), lens)
    mat[rows, pos_in_row] = buf
    return mat, lens


def jaro_winkler_batch(sa: pd.Series, sb: pd.Series) -> np.ndarray:
    """Standard Jaro-Winkler over a batch of string pairs, byte-wise on
    utf-8 (see _to_char_matrix — DuckDB's semantics).

    Fully vectorized across the batch: the only Python loop is over the
    byte positions of the batch's longest string (O(L) iterations of
    [N, L] numpy ops; L shrinks to the true batch max).  Matches DuckDB's
    jaro_winkler_similarity (boost threshold 0.7, prefix weight 0.1,
    prefix cap 4) for oracle parity — property-tested on ASCII and
    multi-byte alphabets.
    """
    A, la = _to_char_matrix(sa, _JW_MAXLEN)
    B, lb = _to_char_matrix(sb, _JW_MAXLEN)
    N = len(la)
    if N == 0:
        return np.empty(0)
    # shrink the working matrices to the batch's real max length — the
    # [N, L, L] intermediates are memory-bandwidth-bound, so L matters
    L = max(int(la.max()), int(lb.max()), 4)
    if L < _JW_MAXLEN:
        A, B = A[:, :L], B[:, :L]

    w = np.maximum(np.maximum(la, lb) // 2 - 1, 0)  # match window
    ii = np.arange(L)
    # M[n,i,j] = chars equal & within window & in-bounds
    M = (
        (A[:, :, None] == B[:, None, :])
        & (np.abs(ii[:, None] - ii[None, :])[None, :, :] <= w[:, None, None])
        & (ii[None, :, None] < la[:, None, None])
        & (ii[None, None, :] < lb[:, None, None])
    )

    avail = np.ones((N, L), dtype=bool)
    a_match_j = np.full((N, L), -1, dtype=np.int64)
    rows = np.arange(N)
    for i in range(L):
        cand = M[:, i, :] & avail
        has = cand.any(axis=1)
        j = cand.argmax(axis=1)
        avail[rows[has], j[has]] = False
        a_match_j[has, i] = j[has]

    matched_a = a_match_j >= 0
    m = matched_a.sum(axis=1)

    # compact matched chars of a (in i order) and of b (in j order)
    order_a = np.argsort(~matched_a, axis=1, kind="stable")
    a_seq = np.take_along_axis(A, order_a, axis=1)
    used_b = ~avail
    order_b = np.argsort(~used_b, axis=1, kind="stable")
    b_seq = np.take_along_axis(B, order_b, axis=1)
    in_m = ii[None, :] < m[:, None]
    t = ((a_seq != b_seq) & in_m).sum(axis=1) // 2

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = np.where(
            m > 0,
            (
                m / np.maximum(la, 1)
                + m / np.maximum(lb, 1)
                + (m - t) / np.maximum(m, 1)
            )
            / 3.0,
            0.0,
        )
    # both-empty → 0.0 (DuckDB jaro_winkler_similarity convention)

    # common prefix (≤4)
    pref_eq = (A[:, :4] == B[:, :4]) & (ii[None, :4] < np.minimum(la, lb)[:, None])
    p = np.cumprod(pref_eq, axis=1).sum(axis=1)
    boosted = jaro + _JW_PREFIX_WEIGHT * p * (1.0 - jaro)
    return np.where(jaro > _JW_BOOST_THRESHOLD, boosted, jaro)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(jaro_winkler_batch(a, b))


# ------------------------------------------------------------- jaccard


def jaccard_expr(a: Column, b: Column) -> Column:
    """Set Jaccard over two array<string> columns, JVM-side
    (array_intersect/array_union on distinct arrays)."""
    ad, bd = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(ad, bd)).cast("double")
    union = F.size(F.array_union(ad, bd)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
