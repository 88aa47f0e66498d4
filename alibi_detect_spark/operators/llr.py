"""Likelihood-ratio outlier detection — the LLR detector of
``alibi_detect/od/llr.py:46-377`` (Ren et al., "Likelihood Ratios for
Out-of-Distribution Detection", NeurIPS 2019) recast for Spark.

The reference trains two generative models: a *semantic* model on the raw
data and a *background* model on perturbed data
(``mutate_categorical``, ``utils/tensorflow/perturbation.py``: each feature
is replaced with probability ``rate`` by a uniform draw over the feature
range), then scores instances by the NEGATIVE likelihood ratio
``-(log p_s(x) - log p_b(x))`` (``od/llr.py:289-318``) — feature-level
ratios averaged into the instance score.

The reference's generative family is PixelCNN/TF distributions (out of this
environment). The analog keeps every contract — two models, perturbed
background fit, negative-LLR scoring, feature→instance mean — with the
generative model instantiated as a per-feature independent Gaussian whose
MLE fit is CLOSED FORM from exact DECIMAL moments, and the mutation made
DETERMINISTIC via md5: per (row, feature), ``md5(id||':f')`` decides both
whether to mutate (first 4 hex digits, rate = 20%) and the uniform position
in ``[min, max]`` (next 8 hex digits / 16^8 quantized to 1e-6). Both engines
(Spark and the DuckDB oracle) derive bit-identical mutations, moments and
scores, so the whole detector is value-hash-checkable.

Plan shape at scale: one partial+final DECIMAL moment aggregate over the
raw columns, one over the mutated columns (map-side column math, no
shuffle beyond the 1-row aggregate), one broadcast join of the 1-row
parameter relation, whole-stage-codegen scoring, and a
``TakeOrderedAndProject`` top-k. No UDF, no collect, no global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .closed_form import TWO_PI, ranked_top_k


def _mutate(id_col: str, tag: str, col, vmin, vmax, rate_pct: int, quant: float = 1e6):
    """md5-derived fit-time mutation of one feature column (closed form,
    identical in DuckDB): mutate iff ``h4 % 100 < rate_pct``; mutated value =
    ``round(vmin + (h8 % 1e6)/1e6 * (vmax - vmin), 4)``."""
    key = F.concat(F.col(id_col).cast("string"), F.lit(":" + tag))
    h4 = F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("long")
    h8 = F.conv(F.substring(F.md5(key), 5, 8), 16, 10).cast("long")
    u01 = (h8 % F.lit(int(quant))).cast("double") / F.lit(quant)
    mutated = F.round(vmin + u01 * (vmax - vmin), 4)
    return F.when(h4 % 100 < rate_pct, mutated).otherwise(F.round(col, 4))


def llr_outlier_2feat(
    df: DataFrame,
    cols: tuple[str, str],
    id_col: str,
    rate_pct: int = 20,
    var_eps: float = 1e-9,
    top_k: int = 100,
) -> DataFrame:
    """Negative-LLR outlier scores over two features; returns the top-k rows
    ``(id, llr_score, rank)`` ordered by score (desc, ties by id).

    ``llr_score = -(log p_s(x) - log p_b(x))`` averaged over features, with
    ``p_s`` fitted on the raw columns and ``p_b`` on the md5-mutated columns
    (mutation at fit time only — scoring always evaluates the RAW x under
    both models, ``od/llr.py:306-309``)."""
    x, y = cols
    base = df.select(
        F.col(id_col),
        F.col(x).cast("double").alias("v"),
        F.col(y).cast("double").alias("u"),
    )
    rng = base.agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.min("u").alias("umin"),
        F.max("u").alias("umax"),
    )
    wide = base.crossJoin(F.broadcast(rng)).select(
        id_col,
        "v",
        "u",
        _mutate(id_col, "f0", F.col("v"), F.col("vmin"), F.col("vmax"), rate_pct).alias("vb"),
        _mutate(id_col, "f1", F.col("u"), F.col("umin"), F.col("umax"), rate_pct).alias("ub"),
    )
    dec = lambda c: F.sum(F.col(c).cast("decimal(18,4)"))  # noqa: E731
    dec2 = lambda c: F.sum(  # noqa: E731
        F.col(c).cast("decimal(18,4)") * F.col(c).cast("decimal(18,4)")
    )
    mom = wide.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        *[dec(c).cast("double").alias(f"s_{c}") for c in ("v", "u", "vb", "ub")],
        *[dec2(c).cast("double").alias(f"ss_{c}") for c in ("v", "u", "vb", "ub")],
    )
    j = wide.crossJoin(F.broadcast(mom))

    def neg_ll(raw: str, fit: str):
        """-log N(raw; mean(fit), var(fit)+eps) — mirrored term-for-term in
        the oracle SQL."""
        m = F.col(f"s_{fit}") / F.col("n")
        var = (F.col(f"ss_{fit}") / F.col("n") - m * m) + var_eps
        d = F.col(raw) - m
        return F.lit(0.5) * F.log(F.lit(TWO_PI) * var) + d * d / (F.lit(2.0) * var)

    # -(log p_s - log p_b) per feature = neg_ll(semantic) - neg_ll(background)
    f0 = neg_ll("v", "v") - neg_ll("v", "vb")
    f1 = neg_ll("u", "u") - neg_ll("u", "ub")
    score = (f0 + f1) / F.lit(2.0)
    scored = j.select(id_col, (F.round(score, 6) + F.lit(0.0)).alias("llr_score"))
    return ranked_top_k(scored, "llr_score", [id_col], top_k)
