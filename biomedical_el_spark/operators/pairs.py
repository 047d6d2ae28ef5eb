"""Stage 1.5 — candidate pair generation from blocks, skew-aware.

A block of size b yields b·(b−1)/2 pairs, so one boilerplate-heavy hot
block can dominate the whole job (web-scale reality: empty pages, parked
domains).  Controls, all deterministic:

  - `max_block_size` cap: blocks larger than the cap never generate
    C(b,2) pairs and are REPORTED (never silently — `oversized` output).
    With `escape="star"` they still contribute b−1 hub pairs (linear
    cost) so genuinely-duplicate hot blocks keep their recall via
    transitive closure; with escape=None they are excluded outright.
  - AQE skew-join splitting (session.py) splits hot urls in the
    url→features hydration joins at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dedup_pairs(pairs: DataFrame, min_matches: int) -> DataFrame:
    """Collapse multi-block pair emissions, optionally gating on evidence
    count.  min_matches=1 is plain distinct().  min_matches>=2 keeps only
    pairs emitted by >= that many DISTINCT blocks (a pair appears at most
    once per block, so emission multiplicity == shared-block count) — the
    count rides the exact groupBy(url_a,url_b) exchange that distinct()
    already pays, so the gate costs zero extra shuffle.  Versus making
    every band stricter (rows_per_band+1), requiring two independent
    band collisions suppresses low-similarity junk multiplicatively
    while high-similarity true pairs (which match many bands) keep
    near-full survival; see BENCH.md for the measured tradeoff."""
    if min_matches <= 1:
        return pairs.distinct()
    return (
        pairs.groupBy("url_a", "url_b")
        .agg(F.count("*").alias("n_blocks"))
        .filter(F.col("n_blocks") >= min_matches)
        .select("url_a", "url_b")
    )


def _combo_pairs(grouped: DataFrame) -> DataFrame:
    """(block_key, members array) → exploded C(b,2) member combinations."""
    m = F.col("members")
    combos = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda y: F.struct(x.alias("url_a"), y.alias("url_b")),
            ),
        )
    )
    return grouped.select(F.explode(combos).alias("p")).select("p.url_a", "p.url_b")


def candidate_pairs_grouped(
    blocks: DataFrame,
    max_block_size: int | None = 64,
    escape: str | None = None,
    single_exchange: bool = False,
    min_matches: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Pair generation via groupBy(block_key).collect_list(url) + a nested
    array transform emitting each block's C(b,2) combinations, and ONE
    distinct at pair granularity.  Versus the join-based plan it replaced
    this removes the size-annotation join and the self-join shuffle;
    measured ~2× on the pairs stage.

    With a cap, sizes are computed FIRST (a partial-aggregated
    count/min — the exchange carries one tiny row per key) and oversized
    keys are anti-joined out BEFORE collect_list, so no aggregation
    state ever holds an uncapped member array — a 10^6-member junk block
    costs one counter, not a 10^6-element list in one reducer.  (The cap
    is what makes single-pass collection safe at all; uncapped
    `max_block_size=None` keeps the single-shuffle single-pass plan and
    is only for bounded fixtures.)

    single_exchange=True changes the PHYSICAL plan only: block sizes are
    computed as a count-over-window on ONE hash exchange of the block
    relation (WindowExec spills, so a hot key is bounded memory), and the
    collect_list aggregation consumes the SAME sorted run with oversized
    AND singleton blocks filtered out first — the block relation is
    scanned once and shuffled once instead of twice, and the majority
    singleton keys (p50 block size is 1 on web corpora) never enter the
    collect agg's hash table.  The oversized report derives from the
    same exchange via ReusedExchange.  Trade-offs: a per-partition sort
    by key, and the single exchange carries full (url, key) rows where
    the two-pass sizes exchange carried one tiny row per key.  Execution
    knob, not semantics — results are identical; default decided by
    measurement (see BENCH.md).

    min_matches: evidence-count gate at the dedup step — keep only pairs
    sharing >= min_matches distinct blocks (see _dedup_pairs; free on
    the shuffle distinct() already pays).  Star-escape hub pairs are
    EXEMPT (a hub pair's evidence is one oversized block by
    construction, so the gate would void the escape).

    escape=None: oversized blocks are EXCLUDED from pair generation and
    reported (round-3 behavior — standard ER practice for junk keys).
    escape="star": each oversized block also emits (hub=min url, member)
    pairs — b−1 pairs instead of C(b,2), bounded linear cost.  For hot
    blocks of genuinely duplicate pages (the recall-loss case the cap
    used to create) every hub edge passes τ-scoring and the transitive
    closure recovers the full cluster; for junk collisions the hub edges
    simply fail scoring.  Scoring stays the gate either way.
    """
    if escape not in (None, "star"):
        raise ValueError(f"unknown oversized-block escape: {escape!r}")
    if max_block_size is None:
        grouped = blocks.groupBy("block_key").agg(
            F.sort_array(F.collect_list("url")).alias("members"),
            F.count("*").alias("block_size"),
        )
        oversized = grouped.filter(F.lit(False)).select("block_key", "block_size")
        pairs = _dedup_pairs(
            _combo_pairs(grouped.filter(F.col("block_size") >= 2)), min_matches
        )
        return pairs, oversized

    if single_exchange:
        from pyspark.sql.window import Window

        w = Window.partitionBy("block_key")
        sized = blocks.withColumn("block_size", F.count("*").over(w))
        # no hub agg here (r5 advice): the star escape below recomputes
        # its hub via a window over the same exchange, and the oversized
        # report only carries (block_key, block_size) — a min(url) string
        # aggregate would plan as a SortAggregate for nothing
        oversized = (
            sized.filter(F.col("block_size") > max_block_size)
            .groupBy("block_key")
            .agg(F.first("block_size").alias("block_size"))
        )
        grouped = (
            # 2 <= size <= cap BEFORE the agg: bounded collect state AND
            # no hash-table entries for the singleton majority
            sized.filter(
                (F.col("block_size") >= 2)
                & (F.col("block_size") <= max_block_size)
            )
            .groupBy("block_key")
            .agg(F.sort_array(F.collect_list("url")).alias("members"))
        )
        pairs = _combo_pairs(grouped)
        if escape == "star":
            star = (
                sized.filter(F.col("block_size") > max_block_size)
                .withColumn("hub", F.min("url").over(w))
                .filter(F.col("url") != F.col("hub"))
                .select(F.col("hub").alias("url_a"), F.col("url").alias("url_b"))
            )
            if min_matches > 1:
                # gate combos first, then union the exempt hub pairs
                return (
                    _dedup_pairs(pairs, min_matches)
                    .unionByName(star)
                    .distinct(),
                    oversized,
                )
            pairs = pairs.unionByName(star)
        return _dedup_pairs(pairs, min_matches), oversized

    sizes = blocks.groupBy("block_key").agg(
        F.count("*").alias("block_size"), F.min("url").alias("hub")
    )
    oversized_full = sizes.filter(F.col("block_size") > max_block_size)
    oversized = oversized_full.select("block_key", "block_size")
    grouped = (
        blocks.join(oversized_full.select("block_key"), "block_key", "left_anti")
        .groupBy("block_key")
        .agg(
            F.sort_array(F.collect_list("url")).alias("members"),
            F.count("*").alias("block_size"),
        )
        .filter(F.col("block_size") >= 2)
    )
    pairs = _combo_pairs(grouped)
    if escape == "star":
        # hub < member by construction (hub = min url of the block)
        star = (
            blocks.join(
                oversized_full.select("block_key", "hub"), "block_key"
            )
            .filter(F.col("url") != F.col("hub"))
            .select(F.col("hub").alias("url_a"), F.col("url").alias("url_b"))
        )
        if min_matches > 1:
            # gate combos first, then union the exempt hub pairs
            return (
                _dedup_pairs(pairs, min_matches).unionByName(star).distinct(),
                oversized,
            )
        pairs = pairs.unionByName(star)
    return _dedup_pairs(pairs, min_matches), oversized
