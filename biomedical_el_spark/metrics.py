"""Per-partition lineage + score-distribution metrics (north_star
requirement) and the pairwise-F1 evaluation harness.

Reference mapping: the position-of-positive histogram
(utils_e2e_span.py:282,438-445,614-615) and the commented-out eval
counters (run_e2e_span.py:617-663) become real metric tables:

  - `partition_lineage(df)`: rows per spark partition — written alongside
    every stage snapshot so a resumed run can audit exactly what each
    partition contributed.
  - `score_histogram(scored)`: per-partition score-bucket counts — the
    score-distribution metric per partition demanded by north_rule.
  - `pairwise_f1(pred, gold)`: the north metric (target ≥ 0.99).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_lineage(df: DataFrame, stage: str) -> DataFrame:
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"))
        .withColumn("stage", F.lit(stage))
    )


def score_histogram(scored: DataFrame, score_col: str = "score", buckets: int = 20) -> DataFrame:
    # clamp BOTH ends: hybrid scores can dip below 0 (cosine term spans
    # [-1, 1]), and an uncapped floor would scatter them into negative
    # stray buckets instead of bucket 0
    b = F.greatest(
        F.lit(0),
        F.least(F.floor(F.col(score_col) * buckets).cast("int"), F.lit(buckets - 1)),
    )
    return (
        scored.groupBy(
            F.spark_partition_id().alias("partition_id"), b.alias("bucket")
        )
        .agg(F.count("*").alias("n"))
    )


def pairwise_f1_at_blocks(
    pred_pairs: DataFrame, gold_pairs: DataFrame, blocks: DataFrame
) -> dict[str, float]:
    """The conditioned north metric ('pairwise F1 ≥ 0.99 on labeled pairs
    AT FIXED BLOCKING KEYS', BASELINE.json): BOTH pred and gold restricted
    to pairs sharing ≥1 blocking key, then pairwise F1 — blocking recall
    is scored separately from pairwise-decision quality."""
    a = blocks.select(F.col("url").alias("url_a"), "block_key")
    b = blocks.select(F.col("url").alias("url_b"), "block_key")
    shared = a.join(b, "block_key").select("url_a", "url_b").distinct()
    return pairwise_f1(
        pred_pairs.join(shared, ["url_a", "url_b"], "left_semi"),
        gold_pairs.join(shared, ["url_a", "url_b"], "left_semi"),
    )


def pairwise_f1(pred_pairs: DataFrame, gold_pairs: DataFrame) -> dict[str, float]:
    """Pairwise precision/recall/F1 of predicted match pairs vs labeled
    pairs.  Both inputs: (url_a, url_b) with url_a < url_b; gold carries
    is_match.  One aggregation pass over a full outer join."""
    p = pred_pairs.select("url_a", "url_b").distinct().withColumn("pred", F.lit(True))
    g = gold_pairs.filter(F.col("is_match")).select("url_a", "url_b").withColumn(
        "gold", F.lit(True)
    )
    j = p.join(g, ["url_a", "url_b"], "full_outer")
    row = j.agg(
        F.count(F.when(F.col("pred") & F.col("gold"), 1)).alias("tp"),
        F.count(F.when(F.col("pred") & F.col("gold").isNull(), 1)).alias("fp"),
        F.count(F.when(F.col("pred").isNull() & F.col("gold"), 1)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = row["tp"], row["fp"], row["fn"]
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec, "f1": f1}
