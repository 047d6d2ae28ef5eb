"""Stage 2 — pairwise scoring over blocked candidate pairs.

Reproduces the reference's bi-encoder scoring semantics (dot product over
dual-tower embeddings, modeling_e2e_span.py:147-173,227-232) as a batched
hybrid score (north_star):

    score = w_cos·cosine(emb_a, emb_b) + w_jac·jaccard(shingles) +
            w_jw·jaro_winkler(prefix_a, prefix_b)

The Jaccard term is the MinHash signature-agreement estimate, so no
shingle arrays are shuffled.  All three kernels run as one fused Arrow
pandas UDF over [batch] numpy (`_score_kernels_udf`).  The γ-threshold
semantics of the reference's span pruning (run_e2e_span.py:538-540)
survive as the τ match threshold (`match_links`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.similarity import jaro_winkler_batch

DEFAULT_WEIGHTS = {"cos": 0.5, "jac": 0.35, "jw": 0.15}


def match_links(scored: DataFrame, tau: float = 0.62) -> DataFrame:
    """τ-threshold → match edges (reference γ-prune semantics,
    run_e2e_span.py:538)."""
    return scored.filter(F.col("score") >= tau).select("url_a", "url_b", "score")


_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("cos_sim", T.DoubleType()),
        T.StructField("jac_sim", T.DoubleType()),
        T.StructField("jw_sim", T.DoubleType()),
    ]
)


@F.pandas_udf(_SCORE_SCHEMA)
def _score_kernels_udf(
    va: pd.Series, vb: pd.Series, sa: pd.Series, sb: pd.Series,
    pa: pd.Series, pb: pd.Series,
) -> pd.DataFrame:
    """All three pairwise kernels in ONE Arrow pass over the hydrated
    batch: cosine (float64 einsum, normalized by the actual vector norms
    — exact for the int8-quantized storage encoding, and a no-op for
    already-unit float vectors; 0.0 when either side is a zero vec),
    signature-agreement Jaccard estimate (dtype-agnostic: int32
    truncated or full int64 signatures), and the batched Jaro-Winkler.
    A/B-measured ~2× over the previous split plan (JVM
    higher-order-function cosine/jaccard + separate JW UDF): the
    zip_with/aggregate HOFs allocate a per-row array and fold per element,
    which made the kernel stage GC-bound and core-count-insensitive;
    numpy does the same math allocation-free outside the JVM heap."""
    A = np.stack(va.to_numpy()).astype(np.float64)
    B = np.stack(vb.to_numpy()).astype(np.float64)
    dot = np.einsum("ij,ij->i", A, B)
    denom = np.sqrt(
        np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B)
    )
    cos = np.divide(dot, denom, out=np.zeros_like(dot), where=denom > 0)
    SA = np.stack(sa.to_numpy())
    SB = np.stack(sb.to_numpy())
    jac = (SA == SB).mean(axis=1)
    jw = jaro_winkler_batch(pa, pb)
    return pd.DataFrame({"cos_sim": cos, "jac_sim": jac, "jw_sim": jw})


def score_pairs_from_features(
    pairs: DataFrame,
    features: DataFrame,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Scale-path scorer: hydrate (url_a, url_b) from the narrow features
    table (vec + minhash sig + prefix, ~600B/row) with plain equi-joins —
    AQE skew-join splitting handles residual hot urls.  Jaccard comes from the
    signature estimate (no shingle arrays shuffled); all three kernels run
    in one fused Arrow pandas UDF (`_score_kernels_udf`)."""
    w = weights or DEFAULT_WEIGHTS
    fa = features.select(
        F.col("url").alias("url_a"), F.col("vec").alias("vec_a"),
        F.col("sig").alias("sig_a"), F.col("prefix").alias("prefix_a"),
    )
    fb = features.select(
        F.col("url").alias("url_b"), F.col("vec").alias("vec_b"),
        F.col("sig").alias("sig_b"), F.col("prefix").alias("prefix_b"),
    )
    hydrated = pairs.join(fa, "url_a").join(fb, "url_b")
    return hydrated.select(
        "url_a",
        "url_b",
        _score_kernels_udf(
            F.col("vec_a"), F.col("vec_b"),
            F.col("sig_a"), F.col("sig_b"),
            F.col("prefix_a"), F.col("prefix_b"),
        ).alias("s"),
    ).select(
        "url_a", "url_b", "s.cos_sim", "s.jac_sim", "s.jw_sim",
    ).withColumn(
        "score",
        w["cos"] * F.col("cos_sim")
        + w["jac"] * F.col("jac_sim")
        + w["jw"] * F.col("jw_sim"),
    )
