"""Deterministic hashing primitives: LSH band keys, rolling-hash document
fingerprints, md5-packed node ids.

All pure `pyspark.sql.functions` expressions — JVM-side, no Python in the
hot path, fully deterministic under task retries (BASELINE invariant: never
`rand()` — every pseudo-random choice derives from `hash(stable key)`).

Reference mapping: the reference generates per-mention candidates either
randomly, by TF-IDF, or by brute-force dot-product top-k over all 29k
entities (utils_e2e_span.py:340-461, FAISS declared but dead at :8,:265-270).
MinHash-LSH banding is the horizontally-scalable analogue: two records
sharing any band key become a candidate pair without an all-pairs join.

The SQL MinHash signature itself lives in `blocking.shingle_blocks`; it
hashes with md5, byte-identical in DuckDB, so oracle-checked queries use it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def band_keys(sig_col: Column, bands: int, rows: int) -> Column:
    """LSH banding: split a signature of length bands*rows into `bands`
    keys, each 'band_idx|v1,v2,...'.  Two docs collide on a band key iff
    that band of their signatures matches exactly — the standard
    probability amplification (s^rows per band)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            "|",
            b.cast("string"),
            F.concat_ws(",", F.slice(sig_col, b * rows + 1, rows)),
        ),
    )


def hex_prefix_to_long(hex_col: Column, chars: int = 8) -> Column:
    """First `chars` hex chars of a digest → bigint (portable: DuckDB
    mirrors with CAST('0x'||substr(...) AS BIGINT))."""
    return F.conv(F.substring(hex_col, 1, chars), 16, 10).cast("bigint")


def rolling_fingerprint(token_col: Column, modulus: int = 1_000_000_007) -> Column:
    """Order-sensitive polynomial rolling hash over tokens (document
    fingerprint):  h = fold(tokens, 0, acc*31 + tokhash mod M) where
    tokhash = first 8 hex chars of md5(token).  Portable to DuckDB via
    list_reduce.  Distinguishes permuted documents (unlike set-based
    minhash)."""
    return F.aggregate(
        token_col,
        F.lit(0).cast("bigint"),
        lambda acc, t: F.pmod(
            acc * 31 + hex_prefix_to_long(F.md5(t)), F.lit(modulus)
        ),
    )


def _md5_chunk32(hex_col: Column, pos: int) -> Column:
    """8 hex digits of an md5 string → bigint in [0, 2^32) (safe under
    ANSI mode — a 16-digit conv would overflow the signed cast)."""
    return F.conv(F.substring(hex_col, pos, 8), 16, 10).cast("bigint")


def node_id(url_col: Column) -> Column:
    """128-bit deterministic node id — md5(url) packed as a FIXED
    16-byte `struct<h:bigint,l:bigint>` — an AVAILABLE re-keying for
    shuffle-heavy id traffic (blocking → pairs → scoring → CC), kept
    out of `run_linkage` by measurement (below).

    Design notes (all verified in this repo):
    - 128 bits, not xxhash64: at the 10^12-document design scale a
      64-bit id expects ~n²/2^65 ≈ 27k silent collisions (each an
      incorrect cluster merge); 128 bits puts the expectation at
      ~1.5e-15.
    - struct of longs, NOT `unhex(md5(url))` binary: Catalyst's
      BinaryType.defaultSize is 100 bytes, so binary-keyed relations'
      size ESTIMATES inflate ~6× and flip the scoring joins from
      broadcast to sort-merge (measured +117% shuffle bytes at 1M
      pages); LongType estimates are exact, so plan shapes survive
      re-keying.  Everything is JVM codegen (md5/conv/shiftleft), and
      struct keys support groupBy, equi-join, `<`/min/least/greatest
      (lexicographic on (h,l)), window partitioning, xxhash64 salting.

    Why run_linkage does NOT use it (tools/traffic.json `node_id_ab`,
    1M and 4M pages, bytes are run-deterministic): shuffle files are lz4-
    compressed, and url strings — synthetic fixtures AND real web urls
    — share long prefixes that compress to ~8-10 B/row on the wire,
    while md5 bits are incompressible 16 B.  Re-keying the pipeline
    measured shuffle_write 1357→2314 B/page at 1M (binary variant:
    2950) and 2432→3162 at 4M, plus an n-row map-back join.  Use this
    id only where key ENTROPY is already high (opaque ids, mixed-domain
    corpora with no shared prefixes) or where a fixed-width key is a
    hard requirement (e.g. byte-budgeted state stores)."""
    h = F.md5(url_col.cast("binary"))
    return F.struct(
        F.shiftleft(_md5_chunk32(h, 1), 32).bitwiseOR(_md5_chunk32(h, 9)).alias("h"),
        F.shiftleft(_md5_chunk32(h, 17), 32).bitwiseOR(_md5_chunk32(h, 25)).alias("l"),
    )
