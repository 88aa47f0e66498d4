"""Classifier-based drift detection (``alibi_detect/cd/classifier.py:20-217``,
base machinery ``cd/base.py:22-310``): train a classifier to distinguish
reference from test instances; drift is significant out-of-fold
discrimination. Deterministic K-fold splits (``cd/base.py:158 get_splits``)
become a closed-form fold assignment (``id % n_folds``) so the whole
pipeline is partitioning-invariant; out-of-fold probabilities
(``cd/base.py:203 test_probs``) feed the KS two-sample test between the ref
and test probability samples (``preds_type='probs'`` path).

Two classifiers:

- :func:`classifier_drift_nb` — Gaussian naive Bayes. The fold-wise
  class-conditional moments are CLOSED FORM (exact DECIMAL aggregates), so
  out-of-fold probabilities — and the final KS stat — are expressible in
  ANSI SQL and hash-checked against the DuckDB oracle. Plan shape: one
  partial+final aggregate for the per-(fold, class) moments, one broadcast
  join of the (n_folds)-row moment table back onto the stream, column math,
  then the relational KS. Nothing iterative, nothing driver-side.
- :func:`classifier_drift_lr` — ``pyspark.ml`` LogisticRegression with
  explicit K-fold out-of-fold scoring (the reference's default classifier
  family). Training is iterative (L-BFGS) so there is no SQL oracle; the
  driver records a rows-only check and the behavioral pytest mirrors
  ``cd/tests/test_classifier.py`` (H0 p-value large, H1 p-value ~0).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .closed_form import dec_sum, nb2_loglik, ridge_2x2
from .drift import ks_2samp


def _hash_fold(id_col: str, n_folds: int):
    """Deterministic md5-derived fold (closed form, identical in DuckDB:
    ``CAST(('0x'||substr(md5(id),1,4)) AS BIGINT) % n``): decorrelated from
    any id-arithmetic labeling scheme — ``id % n`` folds would confound with
    an ``id % 2`` ref/test split and leave empty training cells."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10).cast("long")
    return (h % n_folds).cast("int").alias("fold")


def classifier_drift_nb(
    df: DataFrame,
    num_cols: tuple[str, str],
    id_col: str,
    sample: str = "sample",
    n_folds: int = 4,
    var_eps: float = 1e-9,
) -> DataFrame:
    """Gaussian-NB ClassifierDrift: returns one row
    ``(feature, n_ref, n_test, ks_stat, p_value)`` — the KS test between the
    out-of-fold P(test | x) of reference vs test instances."""
    v_col, u_col = num_cols
    lab = df.select(
        F.col(sample).alias("s"),
        _hash_fold(id_col, n_folds),
        F.col(v_col).cast("double").alias("v"),
        F.col(u_col).cast("double").alias("u"),
    )
    dv = F.col("v").cast("decimal(18,4)")
    du = F.col("u").cast("decimal(18,4)")
    per_fold = lab.groupBy("fold", "s").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(dv).alias("sv"),
        F.sum(dv * dv).alias("svv"),
        F.sum(du).alias("su"),
        F.sum(du * du).alias("suu"),
    )
    totals = per_fold.groupBy("s").agg(
        F.sum("cnt").alias("t_cnt"),
        F.sum("sv").alias("t_sv"),
        F.sum("svv").alias("t_svv"),
        F.sum("su").alias("t_su"),
        F.sum("suu").alias("t_suu"),
    )
    # leave-fold-out training moments = totals − fold (exact decimal math)
    train = per_fold.join(totals, "s").select(
        "fold",
        "s",
        (F.col("t_cnt") - F.col("cnt")).cast("double").alias("n"),
        (F.col("t_sv") - F.col("sv")).cast("double").alias("sv"),
        (F.col("t_svv") - F.col("svv")).cast("double").alias("svv"),
        (F.col("t_su") - F.col("su")).cast("double").alias("su"),
        (F.col("t_suu") - F.col("suu")).cast("double").alias("suu"),
    )
    pick = lambda y, c: F.max(F.when(F.col("s") == y, F.col(c))).alias(f"{c}_{y}")  # noqa: E731
    wide = train.groupBy("fold").agg(
        *[pick(y, c) for y in ("ref", "test") for c in ("n", "sv", "svv", "su", "suu")]
    )
    j = lab.join(F.broadcast(wide), "fold")

    def loglik(y: str):
        sums = [F.col(f"{c}_{y}") for c in ("n", "sv", "svv", "su", "suu")]
        n_all = F.col("n_ref") + F.col("n_test")
        return nb2_loglik(F.col("v"), F.col("u"), *sums, n_all, var_eps)

    p_test = F.lit(1.0) / (F.lit(1.0) + F.exp(loglik("ref") - loglik("test")))
    probs = j.select(
        F.lit("clf_prob").alias("feature"),
        F.round(p_test, 9).alias("value"),
        F.col("s").alias(sample),
    )
    return ks_2samp(probs, "feature", "value", sample)


def _solve3_sym(a00, a01, a02, a11, a12, a22, c0, c1, c2):
    """Closed-form solve of a symmetric 3x3 system via the adjugate — the
    SAME textual expression chain the SQL twin evaluates (term-for-term
    association), so driver-side Python floats equal the oracle's doubles."""
    m00 = a11 * a22 - a12 * a12
    m01 = a02 * a12 - a01 * a22
    m02 = a01 * a12 - a02 * a11
    m11 = a00 * a22 - a02 * a02
    m12 = a02 * a01 - a00 * a12
    m22 = a00 * a11 - a01 * a01
    det = a00 * m00 + a01 * m01 + a02 * m02
    b0 = (m00 * c0 + m01 * c1 + m02 * c2) / det
    b1 = (m01 * c0 + m11 * c1 + m12 * c2) / det
    b2 = (m02 * c0 + m12 * c1 + m22 * c2) / det
    return b0, b1, b2


def classifier_drift_logit(
    df: DataFrame,
    num_cols: tuple[str, str],
    id_col: str,
    sample: str = "sample",
    lam: float = 0.1,
    scale: float = 100.0,
) -> DataFrame:
    """ClassifierDrift with a LOGISTIC head in closed, oracle-checkable form
    (``alibi_detect/cd/classifier.py:22-217`` semantics: fit a classifier to
    distinguish ref from test, KS-test the out-of-fold P(test|x)). The
    pyspark.ml L-BFGS variant (:func:`classifier_drift_lr`) is the
    reference-faithful iterative fit and stays rows-only; THIS operator
    replaces the optimizer with TWO FIXED IRLS STEPS — each step is a
    weighted ridge solve whose working weights are QUANTIZED to integers, so
    every moment is an exact DECIMAL sum and both engines derive
    bit-identical coefficients (the quantized-EM recipe applied to logistic
    regression; IRLS *is* Newton's method for the logistic loss, so two
    steps from beta = 0 are a well-defined deterministic classifier spec).

    Spec constants: md5 2-fold split (train = the OTHER fold, score
    out-of-fold), features scaled by ``scale`` then quantized at 1e-4,
    ridge ``lam`` on the full diagonal, working weights/responses quantized
    at 1e-9. Step 1 from beta=0 has constant weights w=1/4 and exact
    response z=4y-2, so its moments are plain exact sums; step 2's per-row
    weights come from step 1's per-fold coefficients.

    Plan: two scans with tiny per-fold moment aggregates (driver solves the
    3x3 systems), one scoring scan feeding the relational KS — no Python
    stages, no joins wider than a broadcast."""
    v_col, u_col = num_cols
    xq, wqk = 10000.0, 1e9
    lab = df.select(
        F.col(sample).alias("s"),
        _hash_fold(id_col, 2),
        F.round(F.col(v_col).cast("double") / scale * xq).cast("long").alias("vq"),
        F.round(F.col(u_col).cast("double") / scale * xq).cast("long").alias("uq"),
        F.when(F.col(sample) == "ref", F.lit(-1)).otherwise(F.lit(1)).cast("long").alias("t"),
    )
    m1 = (
        lab.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            dec_sum(F.col("vq")).alias("sv"),
            dec_sum(F.col("uq")).alias("su"),
            dec_sum(F.col("vq") * F.col("vq")).alias("svv"),
            dec_sum(F.col("vq") * F.col("uq")).alias("svu"),
            dec_sum(F.col("uq") * F.col("uq")).alias("suu"),
            dec_sum(F.col("t")).alias("st"),
            dec_sum(F.col("t") * F.col("vq")).alias("stv"),
            dec_sum(F.col("t") * F.col("uq")).alias("stu"),
        )
        .collect()
    )
    g1 = {int(r["fold"]): r for r in m1}
    if set(g1) != {0, 1}:
        raise ValueError("md5 2-fold split produced an empty fold")

    def beta1(model_f: int):
        r = g1[1 - model_f]  # train on the OTHER fold
        a00 = 0.25 * r["n"] + lam
        a01 = 0.25 * (r["sv"] / 1e4)
        a02 = 0.25 * (r["su"] / 1e4)
        a11 = 0.25 * (r["svv"] / 1e8) + lam
        a12 = 0.25 * (r["svu"] / 1e8)
        a22 = 0.25 * (r["suu"] / 1e8) + lam
        c0 = 0.5 * r["st"]
        c1 = 0.5 * (r["stv"] / 1e4)
        c2 = 0.5 * (r["stu"] / 1e4)
        return _solve3_sym(a00, a01, a02, a11, a12, a22, c0, c1, c2)

    b1f = {f: beta1(f) for f in (0, 1)}

    # step-2 per-row working terms under the model the row TRAINS (= the
    # model of the opposite fold index)
    def eta_of(bmap):
        return F.when(
            F.col("fold") == 0,
            F.lit(bmap[1][0]) + F.lit(bmap[1][1]) * (F.col("vq") / F.lit(xq))
            + F.lit(bmap[1][2]) * (F.col("uq") / F.lit(xq)),
        ).otherwise(
            F.lit(bmap[0][0]) + F.lit(bmap[0][1]) * (F.col("vq") / F.lit(xq))
            + F.lit(bmap[0][2]) * (F.col("uq") / F.lit(xq)),
        )

    eta = eta_of(b1f)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    wcol = p * (F.lit(1.0) - p)
    y = (F.col("t") + F.lit(1)) / F.lit(2)
    it2 = lab.select(
        "fold", "vq", "uq", "t",
        F.round(wcol * F.lit(wqk)).cast("long").alias("wq"),
        F.round((wcol * eta + (y.cast("double") - p)) * F.lit(wqk)).cast("long").alias("rzq"),
    )
    m2 = (
        it2.groupBy("fold")
        .agg(
            dec_sum(F.col("wq")).alias("sw"),
            dec_sum(F.col("wq") * F.col("vq")).alias("swv"),
            dec_sum(F.col("wq") * F.col("uq")).alias("swu"),
            dec_sum((F.col("wq") * F.col("vq")) * F.col("vq")).alias("swvv"),
            dec_sum((F.col("wq") * F.col("vq")) * F.col("uq")).alias("swvu"),
            dec_sum((F.col("wq") * F.col("uq")) * F.col("uq")).alias("swuu"),
            dec_sum(F.col("rzq")).alias("sz"),
            dec_sum(F.col("rzq") * F.col("vq")).alias("szv"),
            dec_sum(F.col("rzq") * F.col("uq")).alias("szu"),
        )
        .collect()
    )
    g2 = {int(r["fold"]): r for r in m2}

    def beta2(model_f: int):
        r = g2[1 - model_f]
        a00 = r["sw"] / 1e9 + lam
        a01 = r["swv"] / 1e13
        a02 = r["swu"] / 1e13
        a11 = r["swvv"] / 1e17 + lam
        a12 = r["swvu"] / 1e17
        a22 = r["swuu"] / 1e17 + lam
        c0 = r["sz"] / 1e9
        c1 = r["szv"] / 1e13
        c2 = r["szu"] / 1e13
        return _solve3_sym(a00, a01, a02, a11, a12, a22, c0, c1, c2)

    b2f = {f: beta2(f) for f in (0, 1)}

    # out-of-fold score: each row is scored by ITS OWN fold's model (which
    # never saw it); eta_of maps fold g -> bmap[1-g], so pass a swapped map
    eta_oof = eta_of({0: b2f[1], 1: b2f[0]})
    p_oof = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta_oof))
    probs = lab.select(
        F.lit("clf_prob").alias("feature"),
        F.round(p_oof, 9).alias("value"),
        F.when(F.col("t") < 0, F.lit("ref")).otherwise(F.lit("test")).alias(sample),
    )
    return ks_2samp(probs, "feature", "value", sample)


def _ridge_head(
    feat: DataFrame,
    gstats: DataFrame,
    diffs: list[Column],
    feature: str,
    sample: str,
    n_folds: int,
    lam: float,
    fscale: int,
) -> DataFrame:
    """Leave-fold-out ridge head of both SpotTheDiff operators: fits
    ``y ≈ a0 + b1·f1 + b2·f2`` on the quantized kernel features
    ``f1q, f2q`` (scale ``fscale``) of ``feat`` (``s, fold, y, f1q, f2q``), scores
    each row with the model that did not see its fold, KS-tests ref vs test
    scores under ``feature``, and appends the final fold's coefficients and
    the caller's ``diffs`` (columns over the 1-row ``gstats``).

    Per-fold moments are exact DECIMAL(38,0) sums; the leave-fold-out
    training moments are totals minus the fold, so the fit is order-free
    under any partitioning and the 2×2 ridge system is solved as column
    math by :func:`.closed_form.ridge_2x2`."""
    fs = float(fscale)
    f1, f2, yy = F.col("f1q"), F.col("f2q"), F.col("y")
    sums = {
        "s1": f1, "s2": f2, "s11": f1 * f1, "s22": f2 * f2, "s12": f1 * f2,
        "sy": yy, "s1y": f1 * yy, "s2y": f2 * yy,
    }
    per_fold = feat.groupBy("fold").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[F.sum(e.cast("decimal(38,0)")).alias(c) for c, e in sums.items()],
    )
    # n_folds-row relation consumed by three branches (totals, coef,
    # final_coef) — materialize once so each branch does not re-derive the
    # full feature scan (lazy: no separate build job, first action computes)
    per_fold = per_fold.localCheckpoint(eager=False)
    tot_cols = ["cnt", *sums]
    totals = per_fold.agg(*[F.sum(c).alias(f"t_{c}") for c in tot_cols])
    # leave-fold-out training moments = totals − own fold (exact int math)
    train = per_fold.crossJoin(F.broadcast(totals)).select(
        "fold",
        *[((F.col(f"t_{c}") - F.col(c)).cast("double")).alias(c) for c in tot_cols],
    )
    n = F.col("cnt")
    m1, m2, my = F.col("s1") / (n * fs), F.col("s2") / (n * fs), F.col("sy") / n
    cov = lambda c, a, b: F.col(c) / (n * fs * fs) - a * b  # noqa: E731
    mom = train.select(
        "fold",
        m1.alias("m1"),
        m2.alias("m2"),
        my.alias("my"),
        cov("s11", m1, m1).alias("c11"),
        cov("s22", m2, m2).alias("c22"),
        cov("s12", m1, m2).alias("c12"),
        (F.col("s1y") / (n * fs) - m1 * my).alias("c1y"),
        (F.col("s2y") / (n * fs) - m2 * my).alias("c2y"),
    )
    mcols = map(F.col, ("m1", "m2", "my", "c11", "c22", "c12", "c1y", "c2y"))
    a0, b1, b2 = ridge_2x2(*mcols, lam)
    coef = mom.select("fold", b1.alias("b1"), b2.alias("b2"), a0.alias("a0"))
    scored = feat.join(F.broadcast(coef), "fold").select(
        F.lit(feature).alias("feature"),
        F.round(
            F.col("a0")
            + F.col("b1") * (F.col("f1q") / F.lit(fs))
            + F.col("b2") * (F.col("f2q") / F.lit(fs)),
            9,
        ).alias("value"),
        F.col("s").alias(sample),
    )
    ks = ks_2samp(scored, "feature", "value", sample)
    # interpretable outputs: the final fold's model (the reference returns
    # the final fold's diffs, cd/pytorch/spot_the_diff.py:124) + the frozen
    # probe offsets
    final_coef = coef.where(F.col("fold") == n_folds - 1).crossJoin(F.broadcast(gstats)).select(
        (F.round("b1", 6) + F.lit(0.0)).alias("coef_hi"),
        (F.round("b2", 6) + F.lit(0.0)).alias("coef_lo"),
        *diffs,
    )
    return ks.crossJoin(F.broadcast(final_coef))


def spot_the_diff_drift(
    df: DataFrame,
    value: str,
    id_col: str,
    sample: str = "sample",
    n_folds: int = 2,
    lam: float = 0.1,
    var_eps: float = 1e-9,
    fscale: int = 1_000_000_000,
) -> DataFrame:
    """SpotTheDiffDrift (``alibi_detect/cd/spot_the_diff.py:17-189``; torch
    classifier ``cd/pytorch/spot_the_diff.py:181-199`` ``InterpretableClf``:
    ``y = a + Σ_j b_j·k(x, w_j)`` with learnable test locations ``w_j``)
    recast in CLOSED FORM.

    The reference learns the test locations by SGD (L1-regularized, torch —
    out of this environment); this analog freezes them at deterministic
    data-derived probes ``w = mean ± std`` — the same scale as the
    reference's Gaussian ``initial_diffs`` (``cd/pytorch/spot_the_diff.py:
    138-139``, ``initial_diffs ~ N(0,1)·x_ref.std(0)``) — and fits the
    linear head by closed-form RIDGE regression, preserving the contract:

    - classifier form ``a + b₁·k(x,w₁) + b₂·k(x,w₂)`` (RBF k, bandwidth =
      data std);
    - leave-fold-out training, out-of-fold scores → KS two-sample test
      between ref and test scores (the ClassifierDrift machinery,
      ``cd/base.py:203``);
    - interpretable output: ``diff_j = w_j − mean`` (the probe offsets) and
      the fitted coefficients ``b_j`` of the final fold's model — sign says
      test instances are MORE (+) / LESS (−) similar to probe ``w_j`` than
      reference instances (``spot_the_diff.py:50-55`` semantics).

    Exactness: kernel features are quantized (``round(k·10⁹)``) so every
    ridge moment is an exact integer sum (DECIMAL(38,0) — order-free under
    any partitioning); the 2×2 ridge system is solved in closed form as
    column math. One partial+final aggregate, one broadcast join of the
    (n_folds)-row coefficient table, then the relational KS — nothing
    iterative, nothing driver-side, hash-checkable in ANSI SQL."""
    lab = df.select(
        F.col(sample).alias("s"),
        _hash_fold(id_col, n_folds),
        F.col(value).cast("double").alias("v"),
        (F.col(sample) != "ref").cast("long").alias("y"),
    )
    dv = F.col("v").cast("decimal(18,4)")
    gstats = lab.agg(
        F.count(F.lit(1)).cast("double").alias("gn"),
        F.sum(dv).cast("double").alias("gsv"),
        F.sum(dv * dv).cast("double").alias("gsvv"),
    ).select(
        (F.col("gsv") / F.col("gn")).alias("gm"),
        F.sqrt(
            F.col("gsvv") / F.col("gn")
            - (F.col("gsv") / F.col("gn")) * (F.col("gsv") / F.col("gn"))
            + F.lit(var_eps)
        ).alias("gsd"),
    )
    base = lab.crossJoin(F.broadcast(gstats))
    kern = lambda w: F.exp(  # noqa: E731
        -((F.col("v") - w) * (F.col("v") - w)) / (F.lit(2.0) * F.col("gsd") * F.col("gsd"))
    )
    feat = base.select(
        "s",
        "fold",
        "y",
        F.round(kern(F.col("gm") + F.col("gsd")) * fscale).cast("long").alias("f1q"),
        F.round(kern(F.col("gm") - F.col("gsd")) * fscale).cast("long").alias("f2q"),
        (F.col("gsd") + F.lit(0.0)).alias("gsd"),
    )
    return _ridge_head(
        feat,
        gstats,
        [
            (F.round("gsd", 6) + F.lit(0.0)).alias("diff_hi"),
            (-F.round("gsd", 6) + F.lit(0.0)).alias("diff_lo"),
        ],
        "spot_diff",
        sample,
        n_folds,
        lam,
        fscale,
    )


def spot_the_diff_drift_2d(
    df: DataFrame,
    values: tuple[str, str],
    id_col: str,
    sample: str = "sample",
    n_folds: int = 2,
    lam: float = 0.1,
    var_eps: float = 1e-9,
    fscale: int = 1_000_000_000,
) -> DataFrame:
    """Multi-feature SpotTheDiffDrift — the d>1 shape of
    :func:`spot_the_diff_drift` (``cd/spot_the_diff.py:17-189``): probes are
    now POINTS in feature space (``w_hi = mean + std``, ``w_lo = mean − std``
    per dimension — the d-dimensional analog of the reference's
    ``initial_diffs ~ N(0,1)·x_ref.std(0)``, ``cd/pytorch/spot_the_diff.py:
    138-139``), the RBF kernel runs on the 2-d distance with bandwidth
    ``σ² = Σ_d var_d``, and the interpretable diffs come back PER FEATURE
    (``diff_hi_v, diff_hi_u, …`` — the reference's per-dimension diff maps,
    ``spot_the_diff.py:50-55``). Ridge head, leave-fold-out scoring and the
    KS test are the same exact-integer-moment machinery."""
    v_col, u_col = values
    lab = df.select(
        F.col(sample).alias("s"),
        _hash_fold(id_col, n_folds),
        F.col(v_col).cast("double").alias("v"),
        F.col(u_col).cast("double").alias("u"),
        (F.col(sample) != "ref").cast("long").alias("y"),
    )
    dv = F.col("v").cast("decimal(18,4)")
    du = F.col("u").cast("decimal(18,4)")
    gstats = lab.agg(
        F.count(F.lit(1)).cast("double").alias("gn"),
        F.sum(dv).cast("double").alias("gsv"),
        F.sum(dv * dv).cast("double").alias("gsvv"),
        F.sum(du).cast("double").alias("gsu"),
        F.sum(du * du).cast("double").alias("gsuu"),
    ).select(
        (F.col("gsv") / F.col("gn")).alias("gm_v"),
        F.sqrt(
            F.col("gsvv") / F.col("gn")
            - (F.col("gsv") / F.col("gn")) * (F.col("gsv") / F.col("gn"))
            + F.lit(var_eps)
        ).alias("gsd_v"),
        (F.col("gsu") / F.col("gn")).alias("gm_u"),
        F.sqrt(
            F.col("gsuu") / F.col("gn")
            - (F.col("gsu") / F.col("gn")) * (F.col("gsu") / F.col("gn"))
            + F.lit(var_eps)
        ).alias("gsd_u"),
    )
    base = lab.crossJoin(F.broadcast(gstats))
    s2 = F.col("gsd_v") * F.col("gsd_v") + F.col("gsd_u") * F.col("gsd_u")
    kern = lambda wv, wu: F.exp(  # noqa: E731
        -((F.col("v") - wv) * (F.col("v") - wv) + (F.col("u") - wu) * (F.col("u") - wu))
        / (F.lit(2.0) * s2)
    )
    feat = base.select(
        "s",
        "fold",
        "y",
        F.round(
            kern(F.col("gm_v") + F.col("gsd_v"), F.col("gm_u") + F.col("gsd_u")) * fscale
        ).cast("long").alias("f1q"),
        F.round(
            kern(F.col("gm_v") - F.col("gsd_v"), F.col("gm_u") - F.col("gsd_u")) * fscale
        ).cast("long").alias("f2q"),
        (F.col("gsd_v") + F.lit(0.0)).alias("gsd_v"),
        (F.col("gsd_u") + F.lit(0.0)).alias("gsd_u"),
    )
    return _ridge_head(
        feat,
        gstats,
        [
            (F.round("gsd_v", 6) + F.lit(0.0)).alias("diff_hi_v"),
            (F.round("gsd_u", 6) + F.lit(0.0)).alias("diff_hi_u"),
            (-F.round("gsd_v", 6) + F.lit(0.0)).alias("diff_lo_v"),
            (-F.round("gsd_u", 6) + F.lit(0.0)).alias("diff_lo_u"),
        ],
        "spot_diff_2d",
        sample,
        n_folds,
        lam,
        fscale,
    )


def classifier_drift_lr(
    df: DataFrame,
    num_cols: list[str],
    id_col: str,
    sample: str = "sample",
    n_folds: int = 3,
    max_iter: int = 10,
    reg_param: float = 0.01,
) -> DataFrame:
    """LogisticRegression ClassifierDrift (the reference's default classifier
    family) with explicit leave-fold-out scoring. Deterministic given the
    data (L-BFGS from a fixed init, closed-form fold assignment), but not
    SQL-expressible — rows-only driver check + behavioral pytest.

    The K fold fits are independent Spark jobs and run CONCURRENTLY from a
    driver thread pool (the FAIR-scheduler pattern for independent actions);
    the assembled relation is localCheckpoint-ed, not cache()d, so the
    materialized blocks are released when the result is dropped instead of
    leaking in a long-lived session."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    lab = df.select(
        F.col(sample).alias("s"),
        _hash_fold(id_col, n_folds),
        (F.col(sample) != "ref").cast("double").alias("y"),
        *[F.col(c).cast("double").alias(c) for c in num_cols],
    )
    asm = VectorAssembler(inputCols=list(num_cols), outputCol="features")
    assembled = asm.transform(lab).localCheckpoint()

    def fit_fold(f: int):
        lr = LogisticRegression(
            featuresCol="features", labelCol="y", maxIter=max_iter, regParam=reg_param
        )
        return lr.fit(assembled.where(F.col("fold") != f))

    with ThreadPoolExecutor(max_workers=n_folds) as pool:
        models = list(pool.map(fit_fold, range(n_folds)))
    parts = []
    for f, model in enumerate(models):
        scored = model.transform(assembled.where(F.col("fold") == f))
        parts.append(
            scored.select(
                F.lit("clf_prob").alias("feature"),
                F.round(vector_to_array("probability")[1], 9).alias("value"),
                F.col("s").alias(sample),
            )
        )
    pooled = parts[0]
    for p in parts[1:]:
        pooled = pooled.unionByName(p)
    return ks_2samp(pooled, "feature", "value", sample)
