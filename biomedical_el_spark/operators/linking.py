"""Entity linking — the reference's core task as Spark operators:
mention × entity-dictionary scoring (J3/J4), top-k candidates (W1),
argmax linking (W2), hard-negative mining (J5), gold/pred sinks (S8) and
the span-overlap evaluation join (J6).  `rank_by_score` is the one
top-k rule of the package: the catalog's ANN and top-k queries rank
with it too.

Reference path (SURVEY.md §3.3): embed all ~29k entities
(run_e2e_span.py:343-366), embed mentions (mean-pool,
utils_e2e_span.py:408-413), dense dot product (modeling_e2e_span.py:
227-232), argmax (run_e2e_span.py:570-575).  Spark-first: the entity
dictionary is a SMALL dimension (29k × 64 floats ≈ 8MB) → broadcast
hash join; mention embeddings stream through the batched encoder UDF;
no all-pairs shuffle ever materializes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.embedder import embed_text
from ..functions.similarity import dot_expr


def embed_entities(entities: DataFrame) -> DataFrame:
    """(entity_id, name) → (entity_id, evec).  Batched encoder UDF —
    the reference's entity-tower loop (run_e2e_span.py:343-366) in one
    distributed pass."""
    return entities.select("entity_id", embed_text(F.col("name")).alias("evec"))


def score_mentions_against_entities(
    mentions: DataFrame,
    entity_vecs: DataFrame,
    mention_text_col: str = "text",
    id_cols: tuple[str, ...] = ("segment_id", "start_index", "end_index"),
) -> DataFrame:
    """Mention × ALL entities, scored by dot product (J3).  The entity
    side is broadcast; Catalyst turns the cross join into a broadcast
    nested loop that never shuffles the mention side."""
    mvec = mentions.select(
        *id_cols, embed_text(F.col(mention_text_col)).alias("mvec")
    )
    return mvec.join(F.broadcast(entity_vecs)).select(
        *id_cols,
        "entity_id",
        dot_expr(F.col("mvec"), F.col("evec")).alias("score"),
    )


def rank_by_score(
    df: DataFrame,
    by: str | Sequence[str],
    score: str,
    tie: str,
    name: str = "rank",
) -> DataFrame:
    """`df` plus a `name` column numbering each `by` group's rows from 1:
    highest `score` first, ties to the lower `tie`.  Callers keep the
    rank range they need."""
    win = Window.partitionBy(*([by] if isinstance(by, str) else by)).orderBy(
        F.desc(score), F.asc(tie)
    )
    return df.withColumn(name, F.row_number().over(win))


def topk_candidates(
    scored: DataFrame,
    k: int = 10,
    id_cols: tuple[str, ...] = ("segment_id", "start_index", "end_index"),
) -> DataFrame:
    """W1: per-mention top-k candidate entities (reference torch.topk
    k=10, utils_e2e_span.py:426; --num_candidates run_e2e_span.py:883),
    ties to the lower entity_id."""
    ranked = rank_by_score(scored, id_cols, "score", "entity_id")
    return ranked.filter(F.col("rank") <= k)


def link_top1(
    scored: DataFrame,
    id_cols: tuple[str, ...] = ("segment_id", "start_index", "end_index"),
) -> DataFrame:
    """W2: argmax entity per mention (run_e2e_span.py:570-575) with a
    sigmoid'd probability column (F8, :536)."""
    return scored.groupBy(*id_cols).agg(
        F.max_by("entity_id", "score").alias("entity_id"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.max("score"))), 6).alias("prob"),
    )


def hard_negatives(
    scored: DataFrame,
    gold: DataFrame,
    k: int = 10,
    id_cols: tuple[str, ...] = ("segment_id", "start_index", "end_index"),
) -> DataFrame:
    """J5: per-mention top-k entities EXCLUDING the gold label — the
    reference's hard-negative mining (utils_e2e_span.py:408-449) as the
    gold anti-join + `topk_candidates` instead of an accumulator dict.  Deduped across
    epochs by construction (SO2: distinct)."""
    g = gold.select(*id_cols, F.col("label_candidate_id").alias("entity_id"))
    negs = scored.join(g, [*id_cols, "entity_id"], "left_anti")
    return topk_candidates(negs, k, id_cols).drop("rank").distinct()


def write_gold_pred_csv(
    pred: DataFrame, gold: DataFrame, out_dir: str
) -> None:
    """S8 sink: neleval-consumable TSVs (run_e2e_span.py:521-522,
    584-613): rows (doc_id, start, end, entity_id, score, 'NA')."""
    for name, df, score_col in (("pred", pred, "prob"), ("gold", gold, None)):
        cols = [
            F.col("segment_id").alias("doc_id"),
            F.col("start_index"),
            F.col("end_index"),
            F.col("entity_id") if "entity_id" in df.columns
            else F.col("label_candidate_id").alias("entity_id"),
            (F.col(score_col) if score_col and score_col in df.columns else F.lit(1.0)).alias("score"),
            F.lit("NA").alias("tail"),
        ]
        df.select(*cols).write.mode("overwrite").option("sep", "\t").csv(
            f"{out_dir}/{name}"
        )


def span_overlap_eval(pred: DataFrame, gold: DataFrame) -> dict[str, float]:
    """J6: neleval 'overlap-maxmax::span+kbid'-style scoring
    (README.md:131; in-code variant run_e2e_span.py:449-518): a pred
    mention matches a gold mention iff the spans overlap AND the kb id
    agrees; P/R/F1 over matched mentions."""
    p = pred.select(
        F.col("segment_id"), F.col("start_index").alias("ps"),
        F.col("end_index").alias("pe"), F.col("entity_id").alias("pid"),
    )
    g = gold.select(
        F.col("segment_id"), F.col("start_index").alias("gs"),
        F.col("end_index").alias("ge"),
        F.col("label_candidate_id").alias("gid"),
    )
    matched = p.join(
        g,
        (p["segment_id"] == g["segment_id"])
        & (F.col("ps") <= F.col("ge"))
        & (F.col("pe") >= F.col("gs"))
        & (F.col("pid") == F.col("gid")),
    )
    tp = matched.select("ps", "pe", p["segment_id"]).distinct().count()
    n_pred = p.count()
    n_gold = g.count()
    prec = tp / n_pred if n_pred else 0.0
    rec = tp / n_gold if n_gold else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "n_pred": n_pred, "n_gold": n_gold,
            "precision": prec, "recall": rec, "f1": f1}
