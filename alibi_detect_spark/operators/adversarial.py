"""Adversarial-instance detectors — the ``alibi_detect/ad`` package recast
for Spark in closed form.

- :func:`adversarial_ae_2feat` — AdversarialAE (``ad/adversarialae.py:
  56-277``): score = KL(model(x) ‖ model(AE(x))) with temperature-sharpened
  model predictions (``ad/adversarialae.py:243-263``). The TF classifier
  becomes a closed-form Gaussian naive-Bayes head (exact DECIMAL moments, the
  proven ``classifier_drift_nb`` machinery) and the autoencoder becomes the
  linear-AE optimum — the rank-1 PCA reconstruction from a closed-form 2×2
  eigendecomposition (the ``pca_outlier_2feat`` recipe). Adversarial
  instances sit off the data manifold, so reconstruction moves them and the
  classifier's prediction flips — exactly the reference's detection signal.
- :func:`model_distillation_2feat` — ModelDistillation (``ad/
  model_distillation.py:17-194``): score = KL(model(x) ‖ distilled(x)). The
  distilled student is a closed-form RIDGE fit (quantized integer moments →
  exact 2×2 solve, the ``spot_the_diff_drift`` recipe) from a REDUCED input
  (first feature only) to the teacher's probability — a weaker student whose
  disagreement with the teacher spikes exactly where the reference's
  distilled model does.

Both are pure column math end to end: one partial+final DECIMAL moment
aggregate per fitted head, broadcast 1-row parameter relations, whole-stage
codegen scoring, ``TakeOrderedAndProject`` top-k — no UDF, no collect, and
every expression tree is mirrored term-for-term in the DuckDB oracle. The NB
head is :func:`.closed_form.nb2_loglik` and the student's solve
:func:`.closed_form.solve_2x2`, the blocks the drift classifiers use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .closed_form import dec_sum, nb2_loglik, ranked_top_k, recon_par, solve_2x2
_PLO = 1e-12
_PHI = 1.0 - 1e-12


def _nb2_wide(base: DataFrame) -> DataFrame:
    """1-row wide relation of per-class Gaussian-NB moments over (v, u) with
    binary class column ``y`` — exact DECIMAL sums, order-free."""
    dv = F.col("v").cast("decimal(18,4)")
    du = F.col("u").cast("decimal(18,4)")
    per = base.groupBy("y").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(dv).alias("sv"),
        F.sum(dv * dv).alias("svv"),
        F.sum(du).alias("su"),
        F.sum(du * du).alias("suu"),
    )
    pick = lambda k, c: F.max(F.when(F.col("y") == k, F.col(c))).cast("double").alias(f"{c}_{k}")  # noqa: E731
    return per.agg(*[pick(k, c) for k in (0, 1) for c in ("cnt", "sv", "svv", "su", "suu")])


def _nb2_loglik(vc, uc, k: int, var_eps: float = 1e-9):
    """log P(x, y=k) under the fitted NB head, evaluated at (vc, uc)."""
    sums = [F.col(f"{c}_{k}") for c in ("cnt", "sv", "svv", "su", "suu")]
    return nb2_loglik(vc, uc, *sums, F.col("cnt_0") + F.col("cnt_1"), var_eps)


def _p1(vc, uc):
    """Clamped P(y=1 | x): sigmoid of the NB loglik difference. The clamp
    ([1e-12, 1−1e-12], identical literals in the oracle) absorbs the
    exp-overflow→0 edge so the KL terms stay finite."""
    raw = F.lit(1.0) / (F.lit(1.0) + F.exp(_nb2_loglik(vc, uc, 0) - _nb2_loglik(vc, uc, 1)))
    return F.least(F.greatest(raw, F.lit(_PLO)), F.lit(_PHI))


def adversarial_ae_2feat(
    df: DataFrame,
    cols: tuple[str, str],
    label_col: str,
    id_col: str,
    top_k: int = 100,
) -> DataFrame:
    """AdversarialAE score over two features: KL between the NB head's
    temperature-sharpened prediction on x and its prediction on the rank-1
    PCA reconstruction of x (temperature = 1/2, i.e. squared-prob
    sharpening, ``ad/adversarialae.py:258-260``). Returns the top-k
    ``(id, adv_score, rank)`` by score (desc, ties by id)."""
    x, y = cols
    base = df.select(
        F.col(id_col),
        F.col(x).cast("double").alias("v"),
        F.col(y).cast("double").alias("u"),
        F.col(label_col).cast("long").alias("y"),
    )
    j = (
        base.crossJoin(F.broadcast(_nb2_wide(base)))
        .crossJoin(F.broadcast(recon_par(base, "v", "u")))
    )
    # rank-1 reconstruction: x_rec = mean + (w·(x−mean)/|w|²)·w
    proj = (F.col("v") - F.col("mx")) * F.col("w1") + (F.col("u") - F.col("my")) * F.col("w2")
    rv = F.col("mx") + proj * F.col("w1") / F.col("nrm2")
    ru = F.col("my") + proj * F.col("w2") / F.col("nrm2")
    p1 = _p1(F.col("v"), F.col("u"))
    p0 = F.lit(1.0) - p1
    # temperature 1/2: y ← y^(1/T) renormalized = squared probs
    t1 = (p1 * p1) / (p1 * p1 + p0 * p0)
    t0 = F.lit(1.0) - t1
    r1 = _p1(rv, ru)
    r0 = F.lit(1.0) - r1
    score = t0 * F.log(t0 / r0) + t1 * F.log(t1 / r1)
    scored = j.select(id_col, (F.round(score, 6) + F.lit(0.0)).alias("adv_score"))
    return ranked_top_k(scored, "adv_score", [id_col], top_k)


def model_distillation_2feat(
    df: DataFrame,
    cols: tuple[str, str],
    label_col: str,
    id_col: str,
    lam: float = 1.0,
    top_k: int = 100,
) -> DataFrame:
    """ModelDistillation score: KL between the NB teacher's prediction and a
    ridge-distilled student that sees only the FIRST feature
    (``loss_type='kld'``, temperature 1, ``ad/model_distillation.py:
    171-190``). The student fit is exact: the teacher probability and the
    feature are quantized to integers (1e9 / 1e4), every normal-equation
    moment is an exact integer sum, and the 2×2 ridge system is solved in
    closed form. Returns the top-k ``(id, distill_score, rank)``."""
    x, y = cols
    base = df.select(
        F.col(id_col),
        F.col(x).cast("double").alias("v"),
        F.col(y).cast("double").alias("u"),
        F.col(label_col).cast("long").alias("y"),
    )
    withp = base.crossJoin(F.broadcast(_nb2_wide(base))).select(
        id_col, "v", _p1(F.col("v"), F.col("u")).alias("p1")
    )
    q = withp.select(
        id_col,
        "v",
        "p1",
        F.round(F.col("v") * 10000).cast("long").alias("vq"),
        F.round(F.col("p1") * 1000000000).cast("long").alias("pq"),
    )
    mom = q.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec_sum(F.col("vq")).alias("sv_r"),
        dec_sum(F.col("vq") * F.col("vq")).alias("svv_r"),
        dec_sum(F.col("pq")).alias("sp_r"),
        dec_sum(F.col("vq") * F.col("pq")).alias("svp_r"),
    ).select(
        "n",
        (F.col("sv_r") / F.lit(1e4)).alias("sv"),
        (F.col("svv_r") / F.lit(1e8)).alias("svv"),
        (F.col("sp_r") / F.lit(1e9)).alias("sp"),
        (F.col("svp_r") / F.lit(1e13)).alias("svp"),
    )
    n, sv, svv, sp, svp = map(F.col, ("n", "sv", "svv", "sp", "svp"))
    b0, b1 = solve_2x2(n + lam, svv + lam, sv, sp, svp)
    coef = mom.select(b0.alias("b0"), b1.alias("b1"))
    sj = q.crossJoin(F.broadcast(coef))
    yhat = F.least(F.greatest(F.col("b0") + F.col("b1") * F.col("v"), F.lit(1e-6)), F.lit(0.999999))
    p1 = F.col("p1")
    p0 = F.lit(1.0) - p1
    score = p0 * F.log(p0 / (F.lit(1.0) - yhat)) + p1 * F.log(p1 / yhat)
    scored = sj.select(id_col, (F.round(score, 6) + F.lit(0.0)).alias("distill_score"))
    return ranked_top_k(scored, "distill_score", [id_col], top_k)
