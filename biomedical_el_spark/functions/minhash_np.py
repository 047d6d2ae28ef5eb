"""Batched numpy MinHash: token-3-shingle signatures for a whole Arrow
batch in one pass — no per-row Python, no explode/shuffle.

This is the scale path for stage-1 blocking (the md5/xxhash64 SQL modes in
functions/hashing.py remain for DuckDB-oracle parity): tokenization,
token hashing, shingling, and the 32 seeded minima are all [batch]-wide
numpy ops over one concatenated byte buffer.  At 10^12 pages this turns
the signature computation into a narrow per-row projection: the only
shuffle left in blocking is the band-key explode (url, key) relation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_P = np.uint64(1099511628211)  # FNV-1a prime for byte folding
_Q1 = np.uint64(0x9E3779B97F4A7C15)
_Q2 = np.uint64(0xC2B2AE3D27D4EB4F)
_SENTINEL = np.uint64(0xFFFFFFFFFFFFFFFF)
_WS = frozenset((9, 10, 13, 32))


def _mix(x: np.ndarray) -> np.ndarray:
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix_inplace(x: np.ndarray, t: np.ndarray) -> None:
    """`_mix` with zero allocations: one reused scratch buffer, all ops
    out=.  Bit-identical to `_mix` (same splitmix64 finalizer)."""
    np.right_shift(x, np.uint64(30), out=t)
    np.bitwise_xor(x, t, out=x)
    np.multiply(x, _M1, out=x)
    np.right_shift(x, np.uint64(27), out=t)
    np.bitwise_xor(x, t, out=x)
    np.multiply(x, _M2, out=x)
    np.right_shift(x, np.uint64(31), out=t)
    np.bitwise_xor(x, t, out=x)


# shingle-chunk length for the seeded-minima loop: 2 uint64 buffers of
# 16Ki stay ~256KB — L2-resident on any current core
_CHUNK = 16384


def minhash_batch(
    texts: pd.Series, num_hashes: int = 32, seed: int = 42
) -> np.ndarray:
    """[N] strings → [N, num_hashes] uint64 minhash signature over token
    3-shingles.  Docs with <3 tokens fall back to token-level hashes;
    empty docs get the sentinel signature (all-identical ⇒ they block
    together, which is semantically right: empty pages ARE duplicates)."""
    enc = texts.fillna("").astype(str).str.lower().str.encode("utf-8")
    lens = np.fromiter((len(x) for x in enc), np.int64, count=len(enc))
    n = len(enc)
    out = np.full((n, num_hashes), _SENTINEL, dtype=np.uint64)
    total = int(lens.sum())
    if n == 0 or total == 0:
        return out

    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    seg = np.repeat(np.arange(n, dtype=np.int64), lens)
    ws = (buf == 32) | (buf == 9) | (buf == 10) | (buf == 13)
    is_tok = ~ws
    prev_is_tok = np.concatenate(([False], is_tok[:-1]))
    prev_seg = np.concatenate(([-1], seg[:-1]))
    tok_start = is_tok & (~prev_is_tok | (prev_seg != seg))
    T = int(tok_start.sum())
    if T == 0:
        return out

    tid = np.cumsum(tok_start) - 1  # token id per byte (valid where is_tok)
    tok_seg = seg[tok_start]
    tlen = np.bincount(tid[is_tok], minlength=T)
    Lmax = int(tlen.max())

    # token byte matrix [T, Lmax] + column-fold polynomial hash
    mat = np.zeros((T, Lmax), dtype=np.uint8)
    byte_idx = np.flatnonzero(is_tok)
    bt = tid[is_tok]
    starts = np.flatnonzero(tok_start)
    mat[bt, byte_idx - starts[bt]] = buf[byte_idx]
    h = np.zeros(T, dtype=np.uint64)
    valid = np.arange(Lmax)[None, :] < tlen[:, None]
    for j in range(Lmax):  # loop over CHAR positions, not rows
        h = np.where(valid[:, j], h * _P + mat[:, j], h)
    h = _mix(h)

    # 3-shingles of consecutive token hashes within one document
    if T >= 3:
        same = tok_seg[:-2] == tok_seg[2:]
        sh = (h[:-2] * _Q1 + h[1:-1] * _Q2 + h[2:])[same]
        sh_seg = tok_seg[:-2][same]
    else:
        sh = np.zeros(0, dtype=np.uint64)
        sh_seg = np.zeros(0, dtype=np.int64)

    # fallback for docs with tokens but no complete shingle
    has_sh = np.zeros(n, dtype=bool)
    has_sh[sh_seg] = True
    fb = ~has_sh[tok_seg]
    if fb.any():
        sh = np.concatenate([sh, h[fb]])
        sh_seg = np.concatenate([sh_seg, tok_seg[fb]])
        order = np.argsort(sh_seg, kind="stable")
        sh, sh_seg = sh[order], sh_seg[order]

    counts = np.bincount(sh_seg, minlength=n)
    starts_per_doc = np.searchsorted(sh_seg, np.arange(n))
    with np.errstate(over="ignore"):
        seeds = np.uint64(seed) + np.arange(num_hashes, dtype=np.uint64) * _Q1
    # Seeded-minima loop, chunked and allocation-free (round-5 DRAM cut):
    # the old form streamed the full shingle array plus ~6 `_mix`
    # temporaries through DRAM once per hash — ~200KB of memory traffic
    # per KB of text at 32 hashes, which is exactly the bandwidth
    # pressure the weak-scaling probes measured.  Doc-aligned chunks of
    # ≤16Ki shingles keep all 32 seeded mixes L2-resident (two reused
    # scratch buffers, every op out=); results are bit-identical.
    S = len(sh)
    t1 = np.empty(_CHUNK + 1, dtype=np.uint64)
    t2 = np.empty(_CHUNK + 1, dtype=np.uint64)
    pos, d0 = 0, 0
    while pos < S:
        end = min(pos + _CHUNK, S)
        # extend to the end of the doc containing element end-1 (a doc
        # larger than _CHUNK simply becomes its own oversized chunk)
        end = int(np.searchsorted(sh_seg, sh_seg[end - 1], side="right"))
        clen = end - pos
        if clen + 1 > len(t1):
            t1 = np.empty(clen + 1, dtype=np.uint64)
            t2 = np.empty(clen + 1, dtype=np.uint64)
        d1 = int(sh_seg[end - 1])
        rel = starts_per_doc[d0 : d1 + 1] - pos  # ≤ clen (guard slot ok)
        cc = counts[d0 : d1 + 1] > 0
        chunk = sh[pos:end]
        v1, v2 = t1[: clen + 1], t2[: clen + 1]
        for i in range(num_hashes):
            np.bitwise_xor(chunk, seeds[i], out=v1[:clen])
            _mix_inplace(v1, v2)
            v1[clen] = _SENTINEL  # zero-shingle docs reduceat at clen
            mins = np.minimum.reduceat(v1, rel)
            out[d0 : d1 + 1, i] = np.where(cc, mins, _SENTINEL)
        pos, d0 = end, d1 + 1
    return out
