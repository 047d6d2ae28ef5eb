"""Stage 3 — transitive clustering: large-star / small-star connected
components over the match-edge table.

Generalizes the reference's mention→entity assignment (each mention linked
to its argmax entity, run_e2e_span.py:570-575) to full entity-resolution
clusters: the transitive closure of pairwise matches.

Algorithm (Kiveris et al., 'Connected Components in MapReduce and
Beyond'): alternate
  large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u})
  small-star(u): connect every neighbor v ≤ u (v ≠ m) to m
until the edge set is a set of min-rooted stars — O(log n) rounds even on
chains.  Convergence is detected by a STAR CERTIFICATE instead of the
usual edge-set-hash comparison: the hash test needs one extra full round
(6 shuffles) to observe "nothing changed", while the certificate reads
the just-checkpointed edges twice (2 cheap jobs).  Certificate: the edge
set is exactly a forest of min-rooted stars iff
  (a) every src has out-degree 1, and
  (b) no dst has any out-edge (all round outputs point strictly
      downward, src > dst, so an out-edge from a dst would have to go
      even lower — i.e. the dst is not a root).
Stars are a fixpoint of both star operations (large star on a star maps
every leaf back to the root; small star is the identity on it), so
stopping at the certificate yields the same output as hash-stability, one
round earlier.

Each round checkpoints to truncate lineage (SURVEY.md §7b: iterative CC
lineage blowup MUST checkpoint).  `checkpoint_dir=None` uses
`localCheckpoint` (executor-local blocks — fine in local mode, NOT safe
under executor loss); pass a reliable `checkpoint_dir` (HDFS/object
store) on a real cluster.

Hybrid finish: one task finishes a graph faster than star rounds do at
every size measured (tools/cc_crossover.py: 13-24x from 0.5M to 2M
edges), because the rounds are distributed work paid in Spark jobs (~6
shuffles plus checkpoints per round).  What one task cannot do is hold
a graph of any size.  So the edge set is counted after the initial
checkpoint and after every round, and once it fits one round partition
(≤ _EDGES_PER_PARTITION edges, sized to one task's memory) the rest of
the graph is finished in ONE task — `coalesce(1).mapInArrow`, no
exchange — by min-label hooking with pointer jumping over sorted
dictionary codes (_min_label_components).  Star rounds run only while
the frontier is too big for that task; they preserve the node set and
the connectivity of the edge set, so the finish may start from any
round's output.  The output is the same (node, component = min node id)
rows either way.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Edge rows one task handles, in two roles.  (1) Target edge rows per
# shuffle partition inside the CC round loop: each round is ~6 tiny
# shuffles over the (usually small) frontier; running them at the
# session-wide shuffle width (sized for the big Arrow stages) makes the
# loop pure task-scheduling overhead — measured 8.2s → 3.3s at bench
# scale by sizing partitions to the edge count instead.  (2) The largest
# frontier the hybrid finish takes into its one task (module docstring).
# That bound is memory, not speed: the local finish beat the star rounds
# at 0.5M, 1M and 2M edges (1.6 vs 21-26 s, 3.1 vs 64-71 s, 7-10 vs
# 145-155 s; 16-node random trees, url-like ids, local[4] on a 4-vCPU
# host, tools/cc_crossover.json).  Its Python worker holds the Arrow
# input (~95 B/edge at ~44-byte ids) plus a peak working set of 95 MB at
# 0.5M, 235 MB at 1M and 347 MB at 2M edges: ~145 MB at 500k edges fits
# Spark's smallest default executor memoryOverhead (384 MiB, where
# Python workers live unless spark.executor.pyspark.memory is set) with
# room for the executor's idle workers; ~330 MB at 1M leaves almost
# none.
_EDGES_PER_PARTITION = 500_000
# Floor of the round loop's shuffle width.
_MIN_ROUND_PARTITIONS = 8
# Star-round budget: O(log n) rounds converge far inside it even on
# chains (tests/test_cc.py::test_long_chain).
_MAX_ROUNDS = 20


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of every edge.  No distinct: the min aggregation
    inside _star is duplicate-insensitive and each round ends in its own
    distinct, so deduping here would just add a shuffle."""
    fwd = edges.select(F.col("src"), F.col("dst"))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.union(rev).filter(F.col("src") != F.col("dst"))


def _star(edges: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
    """One large- or small-star step.  Symmetrizes first: every node must
    see its full undirected neighborhood, including the parent pointers
    produced by the previous step.

    Physical shape (round-6 rewrite, guide §2.4): ONE hash exchange of
    the symmetrized edges + one sort, with m = least(src, min(dst)) as a
    window over src and the per-src (src, m) parent row emitted at
    row_number()==1 — then both output kinds produced in a single
    explode pass.  The previous groupBy(src).min + self-join form paid
    two exchanges of the edge relation per star step, and — node ids
    being strings (urls) — every min(string) aggregate planned as a
    SortAggregate and the join as a SortMergeJoin: four extra sorts of
    the edge set per step.  Results are identical row-for-row (same
    emissions, same duplicate behavior under dedup=False); measured on
    the 250k-page flagship link graph (729k sym edges): CC total
    8.4 s → 4.7 s warm.

    dedup=False skips the output distinct — used after the large-star
    step, whose duplicates are harmless to the following small-star
    (min/neighborhood aggregations are duplicate-insensitive) and whose
    distinct would cost a full extra shuffle per round; the small-star
    step always dedups so the round output (and the per-round growth) is
    bounded."""
    edges = _symmetrize(edges)
    wo = Window.partitionBy("src").orderBy("dst")
    mn = F.min("dst").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    moved = F.col("dst") > F.col("src") if large else F.col("dst") <= F.col("src")
    ann = edges.select(
        "src", "dst",
        F.least(F.col("src"), mn).alias("m"),
        F.row_number().over(wo).alias("rn"),
    )
    emitted = F.array_compact(
        F.array(
            F.when(moved, F.struct(F.col("dst").alias("src"), F.col("m").alias("dst"))),
            F.when(
                F.col("rn") == 1,
                F.struct(F.col("src").alias("src"), F.col("m").alias("dst")),
            ),
        )
    )
    out = (
        ann.select(F.explode(emitted).alias("e"))
        .select("e.src", "e.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    return out.distinct() if dedup else out


def _is_star_forest(edges: DataFrame) -> bool:
    """Star certificate (see module docstring).  Two small jobs over the
    just-checkpointed edge set; every round output points strictly
    downward (src > dst), so condition (b) reduces to src∩dst = ∅.

    Deliberately NOT fused into one union+groupBy job: that variant was
    built and micro-benched (round 4, 16c, 100k-page link graph) —
    ~300 ms/round on the converged round (vs ~520 for both jobs here)
    but ~750 ms on every NON-converged round, because this form's first
    job short-circuits False the moment any src has out-degree > 1 and
    the fused aggregation always pays the doubled union input.  Over a
    multi-round run the short-circuit wins; the fusion was reverted on
    measurement."""
    deg = edges.groupBy("src").agg(F.count("*").alias("c"))
    if deg.filter(F.col("c") > 1).limit(1).count() > 0:
        return False
    srcs = edges.select(F.col("src").alias("dst")).distinct()
    return edges.join(srcs, "dst", "left_semi").limit(1).count() == 0


def _min_label_components(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """(src, dst) Arrow batches of ONE partition → (node, component =
    min node id) for every node on an edge; all numpy/Arrow, no per-row
    Python.

    Ids are dictionary-encoded in sorted order (unique → sort → index_in),
    so code order is id order and the minimum code of a component is its
    minimum id.  Arrow sorts strings by bytes, which is Spark's binary
    string order (UTF-8 byte order = code point order).  Then min-label
    hooking: every edge whose endpoints sit in different trees hooks the
    larger root under the smaller one (np.minimum.at keeps the smallest
    of several hooks), and pointer jumping flattens every tree back to a
    star.  Labels only decrease and point to a smaller code, so there is
    no cycle, and every round with a split edge removes a root: this
    terminates.  An edge whose endpoints share a label keeps sharing it,
    so only split edges go into the next round."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    ends = pa.chunked_array(tbl.column("src").chunks + tbl.column("dst").chunks)
    ids = pc.unique(ends)
    ids = ids.take(pc.sort_indices(ids))
    code = pc.index_in(ends, value_set=ids).to_numpy().astype(np.int64)
    src, dst = code[: tbl.num_rows], code[tbl.num_rows :]
    label = np.arange(len(ids), dtype=np.int64)
    while True:
        ls, ld = label[src], label[dst]
        split = ls != ld
        if not split.any():
            break
        src, dst, ls, ld = src[split], dst[split], ls[split], ld[split]
        np.minimum.at(label, np.maximum(ls, ld), np.minimum(ls, ld))
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
    yield pa.RecordBatch.from_arrays(
        [ids, ids.take(pa.array(label))], names=["node", "component"]
    )


def _finish_locally(edges: DataFrame) -> DataFrame:
    """Components of `edges` computed in one task: coalesce(1) merges the
    (checkpointed) partitions without an exchange."""
    t = edges.schema["src"].dataType
    schema = StructType([StructField("node", t), StructField("component", t)])
    return edges.coalesce(1).mapInArrow(_min_label_components, schema)


def connected_components(
    links: DataFrame,
    src_col: str = "url_a",
    dst_col: str = "url_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Edge table → (node, component) with component = min node id of the
    cluster.  Nodes absent from `links` are not emitted (callers union
    singletons back with `with_singletons`).

    checkpoint_dir: if given, rounds use RELIABLE `checkpoint()` into it
    (survives executor loss — required on a real cluster); default is
    `localCheckpoint` (local-mode / test speed).

    The round loop runs at most _MAX_ROUNDS rounds, at a shuffle width
    sized from the ACTUAL edge count (counted on the just-checkpointed
    edge set — a cheap block scan): one partition per
    _EDGES_PER_PARTITION edges, at least _MIN_ROUND_PARTITIONS, capped
    at the session's shuffle setting.  The frontier is usually far
    smaller than the corpus the session width was tuned for, and ~6
    shuffles/round × oversized task counts turn the loop into scheduler
    overhead.  The session conf is restored on exit.

    The same count decides, before every round, whether the frontier
    fits one partition (≤ _EDGES_PER_PARTITION edges); from then on the
    graph is finished in one task (module docstring, hybrid finish)."""
    spark = links.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    # No _symmetrize here: _star symmetrizes its input itself, so a
    # pre-symmetrized edge set would enter round 1 with every edge
    # duplicated (sym of sym) — the round-1 window would sort twice the
    # rows for identical output (min/neighborhood ops are
    # duplicate-insensitive).  Only the self-loop filter is kept.
    edges = ckpt(
        links.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    sess_sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_edges = edges.count()  # materialized by ckpt() — cheap block scan
    round_sp = max(
        _MIN_ROUND_PARTITIONS,
        min(sess_sp, math.ceil(n_edges / _EDGES_PER_PARTITION)),
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(round_sp))
    converged = False
    try:
        for r in range(_MAX_ROUNDS):
            if n_edges <= _EDGES_PER_PARTITION:
                break  # the frontier fits one task: hybrid finish below
            # Checkpoint BETWEEN the two star steps: small-star
            # symmetrizes its input (union of both directions), so an
            # unmaterialized large-star subtree is otherwise computed
            # twice — once per union branch (ReusedExchange shares the
            # exchange, but the window/explode above it re-runs).
            # Measured (round 6): 250k-page flagship graph (729k sym
            # edges) CC 7.2 s → 5.2 s warm with the checkpoint.
            large = ckpt(_star(edges, large=True, dedup=False))
            edges = ckpt(_star(large, large=False))  # cut lineage every round
            n_edges = edges.count()  # materialized by ckpt() — cheap block scan
            # skip the certificate after round 1: on multi-round graphs —
            # every real link graph — the round-1 certificate can only
            # confirm non-convergence, two wasted jobs per run.  Inputs
            # that converge in ONE round (already-star forests, but also
            # diameter-1 components such as a triangle) pay one extra
            # round instead, which is idempotent (stars are a fixpoint
            # of both star ops); measurement found that cheaper than
            # certifying every round.  A frontier that now fits one task
            # skips the certificate too: the local finish is one task,
            # the certificate two jobs.
            if r >= 1 and n_edges > _EDGES_PER_PARTITION and _is_star_forest(edges):
                converged = True
                break
        if n_edges <= _EDGES_PER_PARTITION:
            # checkpointed: callers read the result more than once
            # (with_singletons' anti-join and union), and with no
            # exchange in the plan for Spark to reuse, each read would
            # rerun the one-task finish
            return ckpt(_finish_locally(edges))
        comp = edges.select(F.col("src").alias("node"), F.col("dst").alias("component"))
        roots = comp.select(F.col("component").alias("node"), F.col("component"))
        if converged:
            # the certificate just PROVED out-degree == 1 for every src
            # and that no dst ever appears as a src — so comp is already
            # one row per member node and the root set is disjoint from
            # it.  A distinct on the roots is the only dedup needed; the
            # general groupBy-min below would re-aggregate 2x the rows
            # with a string min (SortAggregate) for the same result.
            return comp.union(roots.distinct())
        return (
            comp.union(roots)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(sess_sp))


def with_singletons(comp: DataFrame, nodes: DataFrame) -> DataFrame:
    """The clusters output: `comp` (node, component) plus every `node` of
    `nodes` absent from it, as its own component."""
    singles = nodes.join(comp, "node", "left_anti")
    singles = singles.withColumn("component", F.col("node"))
    return comp.unionByName(singles)
