"""Drift/outlier scoring as continuous aggregates over rollup series.

Each source's gap-filled, ordered rollup series is scored inside ONE grouped
``applyInPandas`` call per source, running the exact NumPy kernels from
:mod:`alibi_detect_spark.functions` — the same code the oracle runs, so score
trajectories are bit-identical.

Determinism at scale: per-source randomized configuration (the online-MMD
bootstrap) is seeded by a stable hash of the source name, NOT by task order,
so results are invariant to partitioning, retries, and executor count. A
batch pass scores each whole series from its start, so it keeps no detector
state; the resumable per-source carries live with the kernels
(``ewma(carry=)``, ``OnlineMMD.score_stream(state)``) and the streaming
twins keep them in their checkpoint state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.ewma import ewma
from ..functions.mmd import OnlineMMD
from ..functions.sr import sr_score
from ..schemas import SCORE_SCHEMA
from ..synth import mix64
from .closed_form import dec_sum, lsdd2_hinv, lsdd2_stat, online_mahalanobis_2x2, rank1_2x2


def source_seed(source: str, base_seed: int) -> int:
    """Stable per-source seed — function of (source, job seed) only."""
    h = np.frombuffer(source.encode("utf-8").ljust(8, b"\0")[:8], dtype=np.uint64)
    return int(mix64(h ^ np.uint64(base_seed))[0])


def _ordered_over(df: DataFrame, key: str, order_col: str, cols, replay, out_ddl: str) -> DataFrame:
    """Per-key ordered replay: one ``applyInPandas`` group per key over
    ``(key, order_col, *cols)``, stable-sorted by ``order_col``. ``replay(pdf,
    out)`` gets the sorted group and ``out``, its (key, order_col) columns,
    and returns ``out`` (or a row slice of it) with the ``out_ddl`` columns
    added."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        return replay(pdf, pd.DataFrame({key: pdf[key].to_numpy(), order_col: pdf[order_col].to_numpy()}))

    schema = f"{key} string, {order_col} long, {out_ddl}"
    return df.select(key, order_col, *cols).groupBy(key).applyInPandas(fn, schema=schema)


def _head_fit_over(
    df: DataFrame, key: str, order_col: str, cols, prefix: str, window_sizes, fit_score
) -> DataFrame:
    """Ordered replay of a head-fitted online detector: ``fit_score(k, pdf)``
    fits on the reference head and scores the rest, returning ``(stats
    [n_scored, len(window_sizes)], thresholds, is_drift)``, or ``None`` when
    the series is too short to fit. Unscored rows (the head, or the whole
    series when too short) get NaN stats and thresholds and ``is_drift`` 0.
    Stat columns: ``{prefix}_stat`` for a single window (back-compat),
    ``{prefix}_stat_w{ws}`` each for multiple windows."""
    stat_cols = [f"{prefix}_stat_w{w}" for w in window_sizes] if len(window_sizes) > 1 else [f"{prefix}_stat"]

    def replay(pdf: pd.DataFrame, out: pd.DataFrame) -> pd.DataFrame:
        res = fit_score(pdf[key].iloc[0], pdf)
        if res is None:
            res = np.zeros((0, len(stat_cols))), np.zeros(0), np.zeros(0, dtype=np.int32)
        stats, thr, drift = res
        head = len(pdf) - len(thr)
        pad = np.full(head, np.nan)
        for j, c in enumerate(stat_cols):
            out[c] = np.concatenate([pad, stats[:, j]])
        out[f"{prefix}_threshold"] = np.concatenate([pad, thr])
        out[f"{prefix}_is_drift"] = np.concatenate([np.zeros(head, dtype=np.int32), drift]).astype(np.int32)
        return out

    ddl = "".join(f"{c} double, " for c in stat_cols) + f"{prefix}_threshold double, {prefix}_is_drift int"
    return _ordered_over(df, key, order_col, cols, replay, ddl)


def score_series(
    pdf: pd.DataFrame,
    value_col: str = "sum_n_tok",
    sr_params: dict | None = None,
    sr_threshold: float = 3.0,
    mmd_params: dict | None = None,
    ewma_lam: float = 0.1,
    base_seed: int = 42,
) -> pd.DataFrame:
    """Shared kernel: score ONE source's whole ordered series (SR, online
    MMD with the series head as reference, EWMA)."""
    pdf = pdf.sort_values("bucket_ts", kind="mergesort")
    source = pdf["source"].iloc[0]
    # a NULL value (e.g. a gap-filled cell's mean) scores as 0
    x = np.nan_to_num(pdf[value_col].to_numpy(dtype=np.float64), nan=0.0)
    n = len(x)
    out = pd.DataFrame(
        {
            "source": source,
            "bucket_ts": pdf["bucket_ts"].to_numpy(dtype=np.int64),
            "value": x,
        }
    )

    # --- Spectral Residual (stateless per chunk; chunk = whole series here) ---
    srp = dict(window_amp=20, window_local=20, n_est_points=10, n_grad_points=5)
    srp.update(sr_params or {})
    if n > max(srp["window_amp"], srp["window_local"]):
        scores = sr_score(x, **srp)
        out["sr_score"] = scores
        out["is_outlier"] = (scores > sr_threshold).astype(np.int32)
    else:
        out["sr_score"] = np.nan
        out["is_outlier"] = np.int32(0)

    # --- online MMD over (value) instances, ref = head of the series ---
    mp = dict(n_ref=64, ert=50.0, window_size=10, n_bootstraps=200)
    mp.update(mmd_params or {})
    n_ref = mp.pop("n_ref")
    if n > n_ref + 2 * mp["window_size"]:
        det = OnlineMMD.fit(
            x[:n_ref, None], seed=source_seed(source, base_seed), **mp
        )
        stats, thr, drift, _ = det.score_stream(x[n_ref:, None])
        pad = np.full(n_ref, np.nan)
        out["mmd_stat"] = np.concatenate([pad, stats])
        out["mmd_threshold"] = np.concatenate([pad, thr])
        out["mmd_is_drift"] = np.concatenate(
            [np.zeros(n_ref, dtype=np.int32), drift]
        ).astype(np.int32)
    else:
        out["mmd_stat"] = np.nan
        out["mmd_threshold"] = np.nan
        out["mmd_is_drift"] = np.int32(0)

    # --- EWMA smoothing of the value series (fet_online.py:225-233 recursion) ---
    out["ewma_stat"] = ewma(x, ewma_lam)
    return out


def ewma_over(
    df: DataFrame, key: str, order_col: str, value: str, lam: float = 0.1
) -> DataFrame:
    """EWMA-smoothed metric per key as a standalone continuous aggregate
    (``alibi_detect/cd/fet_online.py:225-233`` recursion). Non-associative →
    one sorted Arrow batch per key; at scale keys are sources/types whose
    series length is bounded by the time range, not the raw row count."""

    def replay(pdf: pd.DataFrame, out: pd.DataFrame) -> pd.DataFrame:
        out["ewma"] = np.round(ewma(pdf[value].to_numpy(dtype=np.float64), lam), 6)
        return out

    return _ordered_over(df, key, order_col, [value], replay, "ewma double")


def _quantile_bands(rel: DataFrame, key: str, y: str, q_lo: float, q_hi: float):
    """Per-(key, phase) exact quantile band of ``y`` joined back onto
    ``rel``, plus the distance-outside-band score ``greatest(y − band_hi,
    band_lo − y)`` (positive = outside). Returns ``(scored, score)``.

    The percentile runs over exact MICRO-UNIT INTEGERS (``y`` is 6dp by
    contract): an interpolation midpoint of two ints is an exactly
    representable x.5, so the band's 6dp rounding tie-breaks identically in
    both engines — percentile over raw doubles left a 1-ulp interpolation
    difference that flipped a half-boundary at small SF."""
    bands = rel.withColumn("yq", F.round(F.col(y) * 1000000).cast("long")).groupBy(
        key, "phase"
    ).agg(
        (F.round(F.expr(f"percentile(yq, {q_lo})")) / F.lit(1e6) + F.lit(0.0)).alias("band_lo"),
        (F.round(F.expr(f"percentile(yq, {q_hi})")) / F.lit(1e6) + F.lit(0.0)).alias("band_hi"),
    )
    score = F.greatest(F.col(y) - F.col("band_hi"), F.col("band_lo") - F.col(y))
    return rel.join(bands, [key, "phase"]), score


def seasonal_band_outliers(
    rollup: DataFrame,
    key: str,
    value: str,
    period_buckets: int = 24,
    bucket_seconds: int = 3600,
    q_lo: float = 0.05,
    q_hi: float = 0.95,
) -> DataFrame:
    """Seasonal quantile-band outlier scoring — the engine's analog of
    ``OutlierProphet`` (``alibi_detect/od/prophet.py:131-152``: score =
    distance outside the forecast's ``[yhat_lower, yhat_upper]`` band).
    The "forecast" is the per-(key, phase-of-period) exact quantile band of
    the rollup history — a relational seasonal baseline over tier data
    (SURVEY §2.1's stated Prophet recast). One groupBy for the bands, one
    broadcast-able join back; everything whole-stage codegen."""
    phase = (F.col("bucket_ts") / bucket_seconds).cast("long") % period_buckets
    # the rollup relation is tier-bounded (one row per (key, bucket)) —
    # materialize it so the bands branch and the scoring branch do not each
    # re-derive the upstream aggregation
    vals = rollup.select(
        key, "bucket_ts", F.col(value).alias("y"), phase.alias("phase")
    ).localCheckpoint()
    scored, score = _quantile_bands(vals, key, "y", q_lo, q_hi)
    return scored.select(
        key,
        "bucket_ts",
        F.col("y").alias(value),
        "band_lo",
        "band_hi",
        (F.round(score, 6) + F.lit(0.0)).alias("season_score"),
        (score > 0).cast("int").alias("is_outlier"),
    )


def ssa_outlier_over(
    df: DataFrame,
    key: str,
    order_col: str,
    value: str,
    window: int = 24,
    rank: int = 3,
    threshold_perc: float = 95.0,
) -> DataFrame:
    """OutlierSeq2Seq analog (``alibi_detect/od/seq2seq.py:15-330``): the
    reference scores a series by sequence-to-sequence RECONSTRUCTION error
    over fixed-length windows (shingles) with per-series thresholds
    (``feature_score :199``, ``score :244``, threshold percentile
    ``infer_threshold :91``). The Bi-LSTM is out of this environment; the
    closed-form linear optimum of a windowed reconstruction autoencoder is
    singular-spectrum analysis: embed the series in lag-``window`` space,
    project onto the top-``rank`` principal directions of the trajectory
    matrix, Hankelize (average the anti-diagonals) back to a reconstruction
    x̂, and score ``(x − x̂)²`` per timestep; outlier = error above the
    per-key ``threshold_perc`` percentile (the reference's
    ``infer_threshold`` on the same batch).

    Scale shape: one ordered ``applyInPandas`` per key (the series for one
    source fits an executor by the rollup-tier contract); O(n·w) embedding +
    one w×w eigendecomposition per key. Keys shorter than ``window+1``
    points emit NaN scores (warm-up semantics, like the online detectors)."""
    w = window

    def replay(pdf: pd.DataFrame, out: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value].to_numpy(dtype=np.float64)
        n = len(x)
        if n < w + 1:
            out["recon"] = np.nan
            out["ssa_score"] = np.nan
            out["is_outlier"] = np.int32(0)
            return out
        h = np.lib.stride_tricks.sliding_window_view(x, w)  # [n-w+1, w]
        mu = h.mean(axis=0)
        hc = h - mu
        cov = (hc.T @ hc) / len(hc)
        _, v = np.linalg.eigh(cov)
        p = v[:, -rank:]
        r = mu + (hc @ p) @ p.T
        xhat = np.zeros(n)
        cnt = np.zeros(n)
        idx = (np.arange(len(h))[:, None] + np.arange(w)[None, :]).ravel()
        np.add.at(xhat, idx, r.ravel())
        np.add.at(cnt, idx, 1.0)
        xhat /= cnt
        e = (x - xhat) ** 2
        thr = float(np.percentile(e, threshold_perc))
        out["recon"] = np.round(xhat, 6)
        out["ssa_score"] = np.round(e, 6)
        out["is_outlier"] = (e > thr).astype(np.int32)
        return out

    ddl = "recon double, ssa_score double, is_outlier int"
    return _ordered_over(df, key, order_col, [value], replay, ddl)


def trend_band_outliers(
    rollup: DataFrame,
    key: str,
    value: str,
    period_buckets: int = 24,
    bucket_seconds: int = 3600,
    q_lo: float = 0.05,
    q_hi: float = 0.95,
) -> DataFrame:
    """Prophet-style forecast bands WITH trend + changepoint — the missing
    trend component of :func:`seasonal_band_outliers`'s ``OutlierProphet``
    analog (``alibi_detect/od/prophet.py:118-152``: Prophet = piecewise-
    linear trend with changepoints + seasonality + uncertainty interval;
    score = distance outside ``[yhat_lower, yhat_upper]``).

    (1) Per-key TWO-SEGMENT OLS trend with one changepoint at the series
    midpoint (Prophet's uniform changepoint grid at k=1); the regression
    moments are exact integer/DECIMAL sums (x = bucket rank, an integer), so
    both engines derive bit-identical slopes/intercepts under any
    partitioning. (2) Seasonal quantile bands on the DETRENDED residuals per
    (key, phase-of-period). (3) score = distance outside
    ``trend + [band_lo, band_hi]``.

    Plan: one rank window per key, two tiny aggregates (per-key counts,
    per-(key,segment) moments — broadcast back), one percentile groupBy —
    all whole-stage codegen, no UDF, nothing driver-side."""
    w = Window.partitionBy(key).orderBy("bucket_ts")
    # tier-bounded relation consumed by four branches (per-key counts,
    # segment moments, residual phase rows, scoring) — materialize once
    base = (
        rollup.select(key, "bucket_ts", F.col(value).alias("y"))
        .withColumn("rn", F.row_number().over(w))
        .localCheckpoint()
    )
    nper = base.groupBy(key).agg(F.count(F.lit(1)).alias("nk"))
    base = base.join(F.broadcast(nper), key).withColumn(
        "seg", (F.col("rn") * 2 > F.col("nk")).cast("int")
    )
    # DECIMAL(38,0) moments end-to-end: int64 products (ns*sxx, sx*sx) wrap
    # silently past ~2M buckets per key while the DuckDB twin's HUGEINT stays
    # exact — the dec_sum() recipe keeps both engines exact at any series length
    rl = F.col("rn").cast("decimal(38,0)")
    yq = F.col("y").cast("decimal(18,6)")
    mom = base.groupBy(key, "seg").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("ns"),
        F.sum(rl).alias("sx"),
        F.sum(rl * rl).alias("sxx"),
        F.sum(yq).alias("sy"),
        F.sum(rl * yq).alias("sxy"),
    )
    den = F.col("ns") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("ns") * F.col("sxy") - F.col("sx") * F.col("sy")
    cf = mom.select(
        key,
        "seg",
        F.when(den == 0, F.lit(0.0)).otherwise(num.cast("double") / den.cast("double")).alias("b"),
        "ns",
        "sx",
        "sy",
    ).select(
        key,
        "seg",
        "b",
        ((F.col("sy").cast("double") - F.col("b") * F.col("sx").cast("double")) / F.col("ns")).alias("a"),
    )
    trend = F.col("a") + F.col("b") * F.col("rn")
    dt = base.join(F.broadcast(cf), [key, "seg"]).select(
        key,
        "bucket_ts",
        "y",
        "rn",
        trend.alias("trend"),
        F.round(F.col("y") - (F.col("a") + F.col("b") * F.col("rn")), 6).alias("resid"),
        ((F.col("bucket_ts") / bucket_seconds).cast("long") % period_buckets).alias("phase"),
    )
    # resid is already rounded to 6dp, as the micro-unit bands need
    scored, score = _quantile_bands(dt, key, "resid", q_lo, q_hi)
    return scored.select(
        key,
        "bucket_ts",
        F.col("y").alias(value),
        (F.round("trend", 6) + F.lit(0.0)).alias("trend"),
        "band_lo",
        "band_hi",
        (F.round(score, 6) + F.lit(0.0)).alias("trend_score"),
        (score > 0).cast("int").alias("is_outlier"),
    )


def lsdd_online_over(
    df: DataFrame,
    key: str,
    order_col: str,
    value_cols: list[str],
    ert: float = 100.0,
    window_size: int = 10,
    n_ref: int = 200,
    n_bootstraps: int = 500,
    base_seed: int = 42,
) -> DataFrame:
    """Online LSDD drift per key (``cd/pytorch/lsdd_online.py``): seeded
    per-key fit (kernel centers, λ-regularized H inverse, bootstrap
    thresholds) on the executor, FIFO kernel-row window scoring over the
    ordered stream."""
    from ..functions.lsdd import OnlineLSDD

    def fit_score(k, pdf: pd.DataFrame):
        x = pdf[value_cols].to_numpy(dtype=np.float64)
        if len(x) <= n_ref + 2 * window_size:
            return None
        det = OnlineLSDD.fit(
            x[:n_ref], ert=ert, window_size=window_size,
            n_bootstraps=n_bootstraps, seed=source_seed(str(k), base_seed),
        )
        stats, thr, drift, _ = det.score_stream(x[n_ref:])
        return np.round(stats, 9)[:, None], np.round(thr, 9), drift

    return _head_fit_over(df, key, order_col, value_cols, "lsdd", (window_size,), fit_score)


def ssa_outlier_hash_over(
    df: DataFrame,
    key: str,
    order_col: str,
    value: str,
) -> DataFrame:
    """Window-2 SSA reconstruction scoring — the SQL-oracle-checkable
    instance of the OutlierSeq2Seq analog (``alibi_detect/od/seq2seq.py:
    15-330``; general-window seeded variant :func:`ssa_outlier_over`). With
    lag window L=2 the trajectory Gram matrix is 2×2, so the principal
    direction is CLOSED FORM (:func:`.closed_form.rank1_2x2` on uncentered
    moments), the rank-1 window reconstruction is column math,
    and the Hankel diagonal average of each timestep's ≤2 window
    reconstructions is a ``lag`` window expression. Score = ``(x − x̂)²``
    per timestep (``od/seq2seq.py:199 feature_score``).

    Plan: per-key lead/lag windows (the one semantic shuffle), exact DECIMAL
    pair moments broadcast back per key, whole-stage-codegen scoring — zero
    Python stages."""
    w0 = Window.partitionBy(key).orderBy(order_col)
    base = df.select(
        F.col(key), F.col(order_col), F.col(value).cast("double").alias("x")
    ).withColumn("xn", F.lead("x").over(w0))
    # lag-2 pair moments per key (uncentered Gram — SSA does not center)
    da = F.col("x").cast("decimal(18,4)")
    db = F.col("xn").cast("decimal(18,4)")
    mo = base.where(F.col("xn").isNotNull()).groupBy(key).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(da * da).cast("double").alias("saa"),
        F.sum(db * db).cast("double").alias("sbb"),
        F.sum(da * db).cast("double").alias("sab"),
    ).select(
        key,
        (F.col("saa") / F.col("n")).alias("a"),
        (F.col("sbb") / F.col("n")).alias("b"),
        (F.col("sab") / F.col("n")).alias("c"),
    )
    w1, w2, nrm2 = rank1_2x2()
    par = mo.select(key, w1.alias("w1"), w2.alias("w2"), nrm2.alias("nrm2"))
    j = base.join(F.broadcast(par), key)
    # rank-1 reconstruction of window t = (x_t, x_{t+1}); Hankelize: element
    # t averages its own window's first component and the previous window's
    # second component (edges take the single available contribution)
    proj = F.col("x") * F.col("w1") + F.col("xn") * F.col("w2")
    own = (proj * F.col("w1") / F.col("nrm2")).alias("own")  # window t, comp 1
    prv_src = (proj * F.col("w2") / F.col("nrm2")).alias("prv_src")  # window t, comp 2
    h = j.select(key, order_col, "x", own, prv_src).withColumn(
        "prv", F.lag("prv_src").over(w0)
    )
    recon = (
        F.when(F.col("own").isNotNull() & F.col("prv").isNotNull(),
               (F.col("own") + F.col("prv")) / F.lit(2.0))
        .when(F.col("own").isNotNull(), F.col("own"))
        .otherwise(F.col("prv"))
    )
    d = F.col("x") - recon
    return h.select(
        key, order_col, (F.round(d * d, 6) + F.lit(0.0)).alias("ssa2_score")
    ).where(F.col("ssa2_score").isNotNull())


def lsdd_online_stats_over(
    df: DataFrame,
    key: str,
    order_col: str,
    value: str,
    n_ref: int = 64,
    window_size: int = 10,
    sigma: float = 5.0,
    lam: float = 0.25,
    quant: int = 1_000_000_000,
) -> DataFrame:
    """Online-LSDD stat trajectory with the closed-form 2-center kernel — the
    SQL-oracle-checkable variant of ``cd/pytorch/lsdd_online.py:12-243``
    (per-step LSDD between the reference and a FIFO test window), built from
    the same pinned-fit choices as :func:`~.drift.lsdd_perm_test_hash`:
    centers = first two reference rows per key, fixed σ and λ, closed-form
    2×2 ``H_λ⁻¹ = 2B − BHB`` (:func:`.closed_form.lsdd2_hinv`, shared with
    the streaming twin and the perm test). The per-step statistic is
    ``h' H_λ⁻¹ h`` with ``h = mean_ref(φ) − mean_window(φ)``, the reference's
    estimator structure (``utils/pytorch/distance.py:152-243``) on the
    deterministic feature map. The seeded bootstrap detector with thresholds
    is :func:`lsdd_online_over` (pytest-covered).

    Unlike the ``applyInPandas`` detectors this one is PURE declarative
    column math: a per-key ``row_number`` window, kernel features QUANTIZED
    to integers (so every windowed/reference sum is exact and order-free in
    both engines), one sliding-window sum, and two broadcast joins of tiny
    per-key relations. Whole-stage codegen end to end — at 10^12 rows the
    only shuffle is the per-key ordering the semantics require."""
    two_sig2 = 2.0 * sigma * sigma
    four_sig2 = 4.0 * sigma * sigma
    w0 = Window.partitionBy(key).orderBy(order_col)
    base = df.select(
        F.col(key), F.col(order_col), F.col(value).cast("double").alias("v")
    ).withColumn("rn", F.row_number().over(w0))
    cen = base.where(F.col("rn") <= 2).groupBy(key).agg(
        F.max(F.when(F.col("rn") == 1, F.col("v"))).alias("c1"),
        F.max(F.when(F.col("rn") == 2, F.col("v"))).alias("c2"),
    )
    kq = lambda c: F.round(  # noqa: E731
        F.exp(-((F.col("v") - F.col(c)) * (F.col("v") - F.col(c))) / F.lit(two_sig2)) * quant
    ).cast("long")
    kf = base.join(F.broadcast(cen), key).select(
        key, order_col, "rn", kq("c1").alias("k1q"), kq("c2").alias("k2q")
    )
    refs = kf.where(F.col("rn") <= n_ref).groupBy(key).agg(
        dec_sum(F.col("k1q")).alias("sr1"), dec_sum(F.col("k2q")).alias("sr2")
    )
    wwin = Window.partitionBy(key).orderBy("rn").rowsBetween(-(window_size - 1), 0)
    strm = (
        kf.where(F.col("rn") > n_ref)
        .select(
            key,
            order_col,
            "rn",
            F.sum("k1q").over(wwin).cast("double").alias("w1"),
            F.sum("k2q").over(wwin).cast("double").alias("w2"),
        )
        .where(F.col("rn") >= n_ref + window_size)
    )
    # closed-form H_λ⁻¹ per key
    e = F.exp(-((F.col("c1") - F.col("c2")) * (F.col("c1") - F.col("c2"))) / F.lit(four_sig2))
    m11, m12 = lsdd2_hinv(e, lam)
    mm = cen.select(key, m11.alias("m11"), m12.alias("m12"))
    j = strm.join(F.broadcast(refs), key).join(F.broadcast(mm), key)
    h1 = F.col("sr1") / F.lit(n_ref * float(quant)) - F.col("w1") / F.lit(window_size * float(quant))
    h2 = F.col("sr2") / F.lit(n_ref * float(quant)) - F.col("w2") / F.lit(window_size * float(quant))
    stat = lsdd2_stat(F.col("m11"), F.col("m12"), h1, h2)
    return j.select(
        key, order_col, (F.round(stat, 9) + F.lit(0.0)).alias("lsdd_stat")
    )


def mahalanobis_online_stats_over(
    df: DataFrame,
    key: str,
    order_col: str,
    value_cols: tuple[str, str],
    warmup: int = 30,
    quant: int = 10_000,
    var_eps: float = 1e-9,
) -> DataFrame:
    """Online Mahalanobis score trajectory — the SQL-oracle-checkable
    2-feature instance of ``alibi_detect/od/mahalanobis.py:15-316`` (score
    each instance against the mean/covariance of all PREVIOUS instances,
    state updated online). The key observation: the online state after t−1
    instances is exactly the prefix moments of the ordered stream, so the
    whole recursion collapses to EXCLUSIVE cumulative window sums — no
    sequential loop, no UDF. Features are quantized to integers so every
    prefix sum is exact and order-free; the 2×2 covariance inverse is the
    closed form :func:`.closed_form.online_mahalanobis_2x2`, shared with the
    streaming twin. The reference's PCA projection (``n_components``) and
    categorical embedding live in the seeded ``mahalanobis_online_over``
    variant (rows-only, pytest-covered).

    Scale shape: one per-key ordered window pass (the only shuffle), then
    whole-stage-codegen column math."""
    x, y = value_cols
    q = float(quant)
    w0 = Window.partitionBy(key).orderBy(order_col)
    base = (
        df.select(
            F.col(key),
            F.col(order_col),
            F.col(x).cast("double").alias("v"),
            F.col(y).cast("double").alias("u"),
        )
        .withColumn("vq", F.round(F.col("v") * quant).cast("long"))
        .withColumn("uq", F.round(F.col("u") * quant).cast("long"))
        .withColumn("rn", F.row_number().over(w0))
    )
    wcum = Window.partitionBy(key).orderBy("rn").rowsBetween(Window.unboundedPreceding, -1)
    cum = lambda c: F.sum(c.cast("decimal(38,0)")).over(wcum).cast("double")  # noqa: E731
    pre = base.select(
        key,
        order_col,
        "v",
        "u",
        "rn",
        cum(F.col("vq")).alias("sv"),
        cum(F.col("vq") * F.col("vq")).alias("svv"),
        cum(F.col("uq")).alias("su"),
        cum(F.col("uq") * F.col("uq")).alias("suu"),
        cum(F.col("vq") * F.col("uq")).alias("svu"),
    ).where(F.col("rn") > warmup)
    n = (F.col("rn") - F.lit(1)).cast("double")
    cols = map(F.col, ("sv", "svv", "su", "suu", "svu", "v", "u"))
    d2 = online_mahalanobis_2x2(n, *cols, q, var_eps)
    return pre.select(
        key, order_col, (F.round(d2, 6) + F.lit(0.0)).alias("maha_score")
    )


def mahalanobis_online_over(
    df: DataFrame,
    key: str,
    order_col: str,
    value_cols: list[str],
    batch_size: int = 64,
    n_components: int = 3,
    threshold_perc: float = 99.0,
) -> DataFrame:
    """Online Mahalanobis outlier scoring per key (``od/mahalanobis.py``):
    sorted per-key stream processed in FIXED batches (the chunking is spec —
    scores depend on it), online mean/cov/PCA/recursive-inverse state carried
    across batches inside the group. Threshold = exact percentile of the
    group's scores (``od/mahalanobis.py:178-206 infer_threshold`` semantics)."""
    from ..functions.mahalanobis import OnlineMahalanobis

    def replay(pdf: pd.DataFrame, out: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value_cols].to_numpy(dtype=np.float64)
        det = OnlineMahalanobis(n_components=n_components)
        scores = det.score_stream(x, batch_size=batch_size)
        thr = float(np.percentile(scores, threshold_perc)) if len(scores) else np.nan
        out["maha_score"] = np.round(scores, 6)
        out["is_outlier"] = (scores > thr).astype(np.int32)
        return out

    ddl = "maha_score double, is_outlier int"
    return _ordered_over(df, key, order_col, value_cols, replay, ddl)


def fet_online_over(
    df: DataFrame,
    key: str,
    order_col: str,
    bit_col: str,
    ert: float = 100.0,
    window_sizes: tuple[int, ...] = (15,),
    n_ref: int = 200,
    n_bootstraps: int = 1500,
    base_seed: int = 42,
) -> DataFrame:
    """Online Fisher-exact drift over a per-key Bernoulli stream
    (``cd/fet_online.py``): ref = first ``n_ref`` bits, seeded per-key fit on
    the executor (FET thresholds depend on the reference bits, so the fit is
    necessarily per key — the seed is a function of the key, never task
    order), EWMA-smoothed per-window p-value stats vs conditional thresholds;
    drift when the max over windows exceeds the per-step threshold
    (``cd/base_online.py:221`` multi-window semantics)."""
    from ..functions.fet import OnlineFET

    window_sizes = tuple(int(w) for w in window_sizes)

    def fit_score(k, pdf: pd.DataFrame):
        bits = pdf[bit_col].to_numpy(dtype=np.int64)
        if len(bits) <= n_ref + max(window_sizes) or not 0 < bits[:n_ref].sum() < n_ref:
            return None
        det = OnlineFET.fit(
            bits[:n_ref], ert=ert, window_sizes=window_sizes,
            n_bootstraps=n_bootstraps, seed=source_seed(str(k), base_seed),
        )
        return det.score_stream(bits[n_ref:])[:3]

    return _head_fit_over(df, key, order_col, [bit_col], "fet", window_sizes, fit_score)


def cvm_online_over(
    df: DataFrame,
    key: str,
    order_col: str,
    value: str,
    ert: float = 50.0,
    window_sizes: tuple[int, ...] = (10,),
    n_ref: int = 100,
    n_bootstraps: int = 400,
    base_seed: int = 42,
) -> DataFrame:
    """Online Cramér–von Mises drift over a per-key metric series
    (``cd/cvm_online.py``): distribution-free thresholds simulated ONCE on
    the driver (seeded by the job, they depend only on (n_ref, windows, ert))
    and broadcast in the UDF closure — never re-simulated per key; sliding
    multi-window rank stats vs the per-key reference head, drift when the max
    over windows exceeds the per-step threshold."""
    from ..functions.cvm import OnlineCVM, fit_thresholds

    window_sizes = tuple(int(w) for w in window_sizes)
    shared_thresholds = fit_thresholds(
        n_ref, window_sizes, ert, n_bootstraps=n_bootstraps, seed=base_seed
    )

    def fit_score(_, pdf: pd.DataFrame):
        x = pdf[value].to_numpy(dtype=np.float64)
        if len(x) <= n_ref + max(window_sizes):
            return None
        det = OnlineCVM.fit(
            x[:n_ref], ert=ert, window_sizes=window_sizes,
            thresholds=shared_thresholds,
        )
        return det.score_stream(x[n_ref:])[:3]

    return _head_fit_over(df, key, order_col, [value], "cvm", window_sizes, fit_score)


def mmd_online_stats_over(
    df: DataFrame,
    key: str,
    order_col: str,
    value: str,
    n_ref: int = 64,
    window_size: int = 10,
    sigma: float = 5.0,
) -> DataFrame:
    """Online-MMD stat trajectory with a DETERMINISTIC reference split — the
    SQL-oracle-checkable variant of ``cd/pytorch/mmd_online.py:194-230``.

    The per-step statistic is identical to the reference's
    (``k_xx_sub_sum + Σ zero_diag(k_yy)/(W(W−1)) − 2·mean(k_xy)`` over a FIFO
    window), but the ref split is the head of the series (sub-ref = first
    ``n_ref − W`` points, initial test window = next ``W``) instead of the
    seeded permutation of ``mmd_online.py:110-132``, and σ is fixed instead
    of the median heuristic — so the whole trajectory is a closed-form
    function of the data, expressible in ANSI SQL. The seeded/bootstrapped
    detector (thresholds + drift decisions) lives in :func:`score_rollup` and
    is pytest-covered.

    Scale shape: one ordered ``applyInPandas`` per key; O(len·W) kernel work
    via banded diagonals + cumulative sums, never an [L×L] kernel matrix."""
    w = window_size
    rw = n_ref - w
    if rw < 2:
        # rw = 0/1 would divide by rw·(rw−1) = 0 in the sub-ref kernel mean
        # and silently emit NaN/inf stat rows; fail at construction instead.
        raise ValueError(
            f"mmd_online_stats_over needs n_ref >= window_size + 2, got n_ref={n_ref}, "
            f"window_size={w}"
        )
    two_sig2 = 2.0 * sigma * sigma

    def replay(pdf: pd.DataFrame, out: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value].to_numpy(dtype=np.float64)
        n = len(x)
        if n <= n_ref + w:
            return out[:0].assign(mmd_stat=np.zeros(0))
        sub, init, stream = x[:rw], x[rw:n_ref], x[n_ref:]
        m = stream.shape[0]
        # k_xx over the sub-ref, zero-diag mean
        d_sub = np.subtract.outer(sub, sub)
        k_sub = np.exp(-(d_sub * d_sub) / two_sig2)
        k_xx_sub = (k_sub.sum() - np.trace(k_sub)) / (rw * (rw - 1))
        # extended sequence: initial window then the stream; window(i) = E[i:i+w]
        e = np.concatenate([init, stream])
        d_xe = np.subtract.outer(sub, e)
        kc = np.exp(-(d_xe * d_xe) / two_sig2).mean(axis=0)  # [len(e)]
        ck = np.concatenate([[0.0], np.cumsum(kc)])
        xy = (ck[w:] - ck[:-w])[1 : m + 1] / w  # window mean of kc at each step
        # banded k_yy sums: offset-d diagonals + sliding sums (O(len·W))
        yy = np.zeros(m)
        for d in range(1, w):
            diag = np.exp(-((e[d:] - e[:-d]) ** 2) / two_sig2)
            cd = np.concatenate([[0.0], np.cumsum(diag)])
            yy += 2.0 * (cd[w - d :] - cd[: -(w - d) or None])[1 : m + 1]
        stats = k_xx_sub + yy / (w * (w - 1)) - 2.0 * xy
        return out[n_ref:].assign(mmd_stat=np.round(stats, 6) + 0.0)

    return _ordered_over(df, key, order_col, [value], replay, "mmd_stat double")


def score_rollup(
    rollup: DataFrame,
    value_col: str = "sum_n_tok",
    sr_params: dict | None = None,
    sr_threshold: float = 3.0,
    mmd_params: dict | None = None,
    ewma_lam: float = 0.1,
    base_seed: int = 42,
) -> DataFrame:
    """Distributed scoring: one ordered ``applyInPandas`` group per source."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return score_series(
            pdf,
            value_col=value_col,
            sr_params=sr_params,
            sr_threshold=sr_threshold,
            mmd_params=mmd_params,
            ewma_lam=ewma_lam,
            base_seed=base_seed,
        )

    cols = ["source", "bucket_ts", value_col] + (
        [] if value_col in ("n_docs", "sum_n_tok") else ["n_docs"]
    )
    return rollup.select(*dict.fromkeys(cols)).groupBy("source").applyInPandas(
        fn, schema=SCORE_SCHEMA
    )


def ssa_power_layers(w: int, n_iter: int) -> list[list[tuple[str, str]]]:
    """Dependency groups of (name, SQL-expression) layers for a fixed-
    iteration power method on a per-key uncentered lag Gram with entries
    ``g{i}{j}`` (i ≤ j). The SAME strings are evaluated by Spark
    ``selectExpr`` and by the DuckDB twin's sequential CTEs, so both engines
    build identical parse trees (the round-3b mirroring recipe)."""
    gref = lambda i, j: f"g{min(i, j)}{max(i, j)}"  # noqa: E731
    groups: list[list[tuple[str, str]]] = [
        [(f"v0_{j}", "1.0" if j == 0 else "0.0") for j in range(w)]
    ]
    for t in range(1, n_iter + 1):
        groups.append(
            [
                (f"w{t}_{j}", " + ".join(f"{gref(j, i)}*v{t - 1}_{i}" for i in range(w)))
                for j in range(w)
            ]
        )
        nrm = " + ".join(f"w{t}_{i}*w{t}_{i}" for i in range(w))
        groups.append(
            [(f"v{t}_{j}", f"w{t}_{j}/sqrt({nrm})") for j in range(w)]
        )
    return groups


def _lag_windows(df: DataFrame, key: str, order_col: str, value: str, w: int) -> DataFrame:
    """``(key, order_col, x0..x{w-1})``: each row's lag-``w`` trajectory
    window, built with ``lead`` (NULL past the end of the key's series)."""
    w0 = Window.partitionBy(key).orderBy(order_col)
    base = df.select(
        F.col(key), F.col(order_col), F.col(value).cast("double").alias("x0")
    )
    for i in range(1, w):
        base = base.withColumn(f"x{i}", F.lead("x0", i).over(w0))
    return base


def ssa_wfeat_par(
    df: DataFrame,
    key: str,
    order_col: str,
    value: str,
    w: int = 4,
    n_iter: int = 8,
) -> DataFrame:
    """Per-key SSA eigenvector relation ``(key, v0..v{w-1})`` — the FIT half
    of :func:`ssa_outlier_wfeat_over` (lag-``w`` uncentered Gram from exact
    DECIMAL moments + shared power-method layers). Split out so the
    streaming twin can collect the SAME JVM-computed doubles into its
    closure (fit-then-stream lifecycle, ``cd/base_online.py``)."""
    base = _lag_windows(df, key, order_col, value, w)
    full = base.where(F.col(f"x{w - 1}").isNotNull())
    dec = [F.col(f"x{i}").cast("decimal(18,6)") for i in range(w)]
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for i in range(w):
        for jj in range(i, w):
            aggs.append(F.sum(dec[i] * dec[jj]).cast("double").alias(f"s{i}{jj}"))
    mo = full.groupBy(key).agg(*aggs).selectExpr(
        key, *[f"s{i}{jj}/n AS g{i}{jj}" for i in range(w) for jj in range(i, w)]
    )
    for grp in ssa_power_layers(w, n_iter):
        mo = mo.selectExpr("*", *[f"{e} AS {nm}" for nm, e in grp])
    return mo.selectExpr(key, *[f"v{n_iter}_{j} AS v{j}" for j in range(w)])


def ssa_outlier_wfeat_over(
    df: DataFrame,
    key: str,
    order_col: str,
    value: str,
    w: int = 4,
    n_iter: int = 8,
) -> DataFrame:
    """Window-``w`` SSA reconstruction scoring — the general-lag
    oracle-checkable instance of the OutlierSeq2Seq analog
    (``alibi_detect/od/seq2seq.py:15-330``: the reference scores arbitrary
    ``seq_len`` shingles, ``:199-244``; :func:`ssa_outlier_hash_over` is the
    closed-form w=2 case, the seeded general variant is
    :func:`ssa_outlier_over`).

    Per key: lag-``w`` trajectory windows via ``lead``; the uncentered w×w
    Gram from ONE exact-DECIMAL moment aggregate (order-free under any
    partitioning); top eigenvector by a FIXED-ITERATION power method (e₁
    init) evaluated as shared (name, expr) layers over the k-row moment
    relation — identical parse trees in Spark and the SQL twin, no driver
    collect; rank-1 window reconstruction + Hankel diagonal averaging (each
    timestep averages the reconstructions of every window covering it); score
    = ``(x − x̂)²`` (``od/seq2seq.py:199 feature_score``).

    Plan shape: one per-key window shuffle (lead/lag), one tiny moment
    aggregate broadcast back, whole-stage-codegen scoring — zero Python."""
    base = _lag_windows(df, key, order_col, value, w)
    par = ssa_wfeat_par(df, key, order_col, value, w, n_iter)

    proj = " + ".join(f"x{i}*v{i}" for i in range(w))
    scored = base.join(F.broadcast(par), key).selectExpr(
        key, order_col, "x0", f"{proj} AS proj", *[f"v{j}" for j in range(w)]
    )
    lags = [
        f"lag(proj, {i}) OVER (PARTITION BY {key} ORDER BY {order_col}) * v{i} AS c{i}"
        for i in range(w)
    ]
    lags[0] = "proj * v0 AS c0"
    scored = scored.selectExpr(key, order_col, "x0", *lags)
    num = " + ".join(f"coalesce(c{i}, 0.0)" for i in range(w))
    cnt = " + ".join(f"CASE WHEN c{i} IS NOT NULL THEN 1 ELSE 0 END" for i in range(w))
    scored = scored.selectExpr(
        key, order_col, "x0", f"{num} AS rnum", f"{cnt} AS rcnt"
    ).where("rcnt > 0")
    return scored.selectExpr(
        key,
        order_col,
        f"round((x0 - rnum/rcnt)*(x0 - rnum/rcnt), 6) + 0.0 AS ssa{w}_score",
    )
