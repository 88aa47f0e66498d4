"""Shared fit-and-score blocks of the closed-form operators and their
streaming twins. Each block is one Spark relation or column expression that
the DuckDB oracle mirrors term-for-term; callers compose them and keep only
their own scoring math:

- :func:`moments_2x2` — exact-DECIMAL 2×2 mean/covariance relation, with the
  rank-1 reconstruction (:func:`recon_par`) and probabilistic-PCA
  (:func:`ppca_par`) parameter relations, the eigenvalue discriminant
  (:func:`eig_2x2`) and the major direction (:func:`rank1_2x2`) on top;
- :func:`nb2_loglik` — Gaussian naive-Bayes log joint of two features;
- :func:`ranked_top_k` — ranked ``TakeOrderedAndProject`` top-k tail;
- :func:`landmark_kernels` — md5-priority landmark rows, the Σ-var bandwidth
  and the RBF kernel to each landmark;
- :func:`iforest_score` — isolation-forest leaf maps → ``2^(−E[h]/c)``,
  bounded by :func:`check_iforest_size`;
- :func:`dec_sum` — exact DECIMAL sum of quantized integers.

The cross-engine 2×2 chains — :func:`mahalanobis_2x2`,
:func:`online_mahalanobis_2x2`, the 2-center LSDD :func:`lsdd2_hinv` /
:func:`lsdd2_stat`, :func:`solve_2x2` and :func:`ridge_2x2` — are each
evaluated by a Spark plan, a streaming twin on NumPy arrays and a driver-side
fit on Python floats. Operand contract: they use only ``+ − × ÷`` on their
operands, so a float, an array and a ``Column`` (numbers mixed in become
literals) build the same association and give the same IEEE bits; ``exp``,
``log``, ``sqrt`` and ``round`` stay at the call sites, since each engine
evaluates them its own way. ``functions/`` is the oracle and imports nothing
from here, so ``online_thresholds.lsdd2_decision_thresholds`` keeps its own
NumPy copy of the LSDD chain as the calibration twin.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window, functions as F

IFOREST_MAX_LEAVES = 2**16
GAMMA = 0.5772156649015329  # Euler–Mascheroni, in c(n)
TWO_PI = 2.0 * math.pi


def moments_2x2(df: DataFrame, x: str, y: str, x_cast: str = "decimal(18,4)") -> DataFrame:
    """1-row relation ``(n, mx, my, a, b, c)``: row count, means and population
    covariance ``[[a, c], [c, b]]`` of columns ``x``, ``y`` from raw DECIMAL sums (exact
    under any aggregation order, so every fitted parameter is bit-identical
    under any partitioning). ``x`` is cast to ``x_cast``, ``y`` to
    ``decimal(18,4)``."""
    dx = F.col(x).cast(x_cast)
    dy = F.col(y).cast("decimal(18,4)")
    sums = {
        "n": F.count(F.lit(1)),
        "sx": F.sum(dx),
        "sy": F.sum(dy),
        "sxx_r": F.sum(dx * dx),
        "syy_r": F.sum(dy * dy),
        "sxy_r": F.sum(dx * dy),
    }
    n, sx, sy, sxx, syy, sxy = map(F.col, sums)
    return df.agg(*[s.cast("double").alias(k) for k, s in sums.items()]).select(
        "n",
        (sx / n).alias("mx"),
        (sy / n).alias("my"),
        (sxx / n - (sx / n) * (sx / n)).alias("a"),
        (syy / n - (sy / n) * (sy / n)).alias("b"),
        (sxy / n - (sx / n) * (sy / n)).alias("c"),
    )


def dec_sum(c: Column) -> Column:
    """Exact DECIMAL(38,0) sum of an integer column, as double."""
    return F.sum(c.cast("decimal(38,0)")).cast("double")


def eig_2x2():
    """``(disc, λ₊)`` of the covariance columns ``a, b, c``: the minor
    eigenvalue is ``(a + b − disc)/2``, the major ``(a + b + disc)/2``."""
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    disc = F.sqrt((a - b) * (a - b) + F.lit(4.0) * c * c)
    return disc, (a + b + disc) / F.lit(2.0)


def rank1_2x2():
    """``(w1, w2, nrm2)`` over the 2×2 columns ``a, b, c``: the major
    eigenvector ``w = (c, λ₊−a)`` and ``nrm2 = |w|²``."""
    _, lamp = eig_2x2()
    c, w2 = F.col("c"), lamp - F.col("a")
    return c, w2, c * c + w2 * w2


def recon_par(df: DataFrame, x: str, y: str) -> DataFrame:
    """1-row relation ``(mx, my, w1, w2, nrm2)``: rank-1 PCA reconstruction
    parameters (the linear-AE optimum) — :func:`rank1_2x2` of the
    covariance."""
    w1, w2, nrm2 = rank1_2x2()
    return moments_2x2(df, x, y).select(
        "mx", "my", w1.alias("w1"), w2.alias("w2"), nrm2.alias("nrm2")
    )


def ppca_par(df: DataFrame, x: str, y: str, eps: float) -> DataFrame:
    """1-row relation ``(mx, my, sig2, w1, w2, m_cap)``: closed-form
    probabilistic PCA with one latent (Tipping & Bishop 1999) — ``σ² = λ₋ +
    eps``, loading ``W = v̂₊·sqrt(max(λ₊ − σ², 0))``, ``M = WᵀW + σ²``."""
    disc, lamp = eig_2x2()
    w1, w2, nrm2 = rank1_2x2()
    sig2 = (F.col("a") + F.col("b") - disc) / F.lit(2.0) + F.lit(eps)
    g = F.greatest(lamp - sig2, F.lit(0.0))
    nrm = F.sqrt(nrm2)
    return moments_2x2(df, x, y).select(
        "mx",
        "my",
        sig2.alias("sig2"),
        (w1 / nrm * F.sqrt(g)).alias("w1"),
        (w2 / nrm * F.sqrt(g)).alias("w2"),
        (g + sig2).alias("m_cap"),
    )


def ranked_top_k(scored: DataFrame, score_col: str, id_cols: list[str], k: int) -> DataFrame:
    """``(*id_cols, score_col, rank)`` for the ``k`` highest scores, ties by
    ids. ``orderBy+limit`` plans as ``TakeOrderedAndProject`` — a distributed
    per-partition top-k plus a tiny driver merge, not a global sort — so
    ``row_number`` runs over ``k`` rows only."""
    order = [F.col(score_col).desc(), *[F.col(c) for c in id_cols]]
    top = scored.orderBy(*order).limit(k)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order))).select(
        *id_cols, score_col, F.col("rank").cast("int").alias("rank")
    )


def landmark_kernels(
    df: DataFrame, cols: tuple[str, str], id_col: str, tag: str, m: int, var_eps: float
):
    """Nyström landmark block over two features. Returns ``(j, kern)``:
    ``j`` = ``(id_col, v, u)`` cross-joined with the broadcast ``m``
    md5-priority landmark rows (``l{i}v, l{i}u``, priority
    ``md5(tag || id)``, ties by id) and the bandwidth ``s2 = Σ_d var_d +
    var_eps`` from exact DECIMAL moments; ``kern(i)`` is the RBF kernel
    ``exp(−‖x − lᵢ‖² / 2s2)`` to landmark ``i`` (1-based)."""
    x, y = cols
    base = df.select(
        F.col(id_col),
        F.col(x).cast("double").alias("v"),
        F.col(y).cast("double").alias("u"),
    )
    pr = F.md5(F.concat(F.lit(tag), F.col(id_col).cast("string")))
    rows = base.withColumn("pr", pr).orderBy("pr", id_col).limit(m)
    land = rows.withColumn("rn", F.row_number().over(Window.orderBy("pr", id_col))).agg(
        *[
            F.max(F.when(F.col("rn") == i, F.col(c))).alias(f"l{i}{c}")
            for i in range(1, m + 1)
            for c in ("v", "u")
        ]
    )
    dv = F.col("v").cast("decimal(18,4)")
    du = F.col("u").cast("decimal(18,4)")
    n, sv, su = F.col("n"), F.col("sv"), F.col("su")
    gs = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dv).cast("double").alias("sv"),
        F.sum(dv * dv).cast("double").alias("svv"),
        F.sum(du).cast("double").alias("su"),
        F.sum(du * du).cast("double").alias("suu"),
    ).select(
        (
            (F.col("svv") / n - (sv / n) * (sv / n))
            + (F.col("suu") / n - (su / n) * (su / n))
            + F.lit(var_eps)
        ).alias("s2")
    )
    j = base.crossJoin(F.broadcast(land)).crossJoin(F.broadcast(gs))

    def kern(i: int) -> Column:
        lv, lu = F.col(f"l{i}v"), F.col(f"l{i}u")
        d2 = (F.col("v") - lv) * (F.col("v") - lv) + (F.col("u") - lu) * (F.col("u") - lu)
        return F.exp(-d2 / (F.lit(2.0) * F.col("s2")))

    return j, kern


def mahalanobis_2x2(dx, dy, a, b, c):
    """Quadratic form ``[dx dy]·Σ⁻¹·[dx dy]ᵀ`` with the closed-form inverse
    of ``Σ = [[a, c], [c, b]]``."""
    return (b * dx * dx - 2.0 * c * dx * dy + a * dy * dy) / (a * b - c * c)


def online_mahalanobis_2x2(n, sv, svv, su, suu, svu, v, u, q, var_eps):
    """:func:`mahalanobis_2x2` of ``(v, u)`` against ``n`` earlier points
    from their prefix sums of ``q``-quantized features (``var_eps`` added to
    each variance)."""
    mv = sv / (n * q)
    mu = su / (n * q)
    a = (svv / (n * q * q) - mv * mv) + var_eps
    b = (suu / (n * q * q) - mu * mu) + var_eps
    c = svu / (n * q * q) - mv * mu
    return mahalanobis_2x2(v - mv, u - mu, a, b, c)


def lsdd2_hinv(e, lam):
    """``(m11, m12)`` of the 2-center LSDD ``H_λ⁻¹ = 2B − BHB`` with
    ``H = [[1, e], [e, 1]]`` and ``B = (H + λI)⁻¹``; ``H_λ⁻¹`` is
    ``[[m11, m12], [m12, m11]]``."""
    a = 1.0 + lam
    det = a * a - e * e
    b11 = a / det
    b12 = -e / det
    bh11 = b11 + b12 * e
    bh12 = b11 * e + b12
    bhb11 = bh11 * b11 + bh12 * b12
    bhb12 = bh11 * b12 + bh12 * b11
    return 2.0 * b11 - bhb11, 2.0 * b12 - bhb12


def lsdd2_stat(m11, m12, h1, h2):
    """LSDD statistic ``h' H_λ⁻¹ h`` for the :func:`lsdd2_hinv` entries."""
    return m11 * (h1 * h1 + h2 * h2) + 2.0 * m12 * h1 * h2


def solve_2x2(c11, c22, c12, r1, r2):
    """``(x1, x2)`` solving ``[[c11, c12], [c12, c22]]·x = (r1, r2)`` by the
    adjugate."""
    det = c11 * c22 - c12 * c12
    return (c22 * r1 - c12 * r2) / det, (c11 * r2 - c12 * r1) / det


def ridge_2x2(m1, m2, my, c11, c22, c12, c1y, c2y, lam):
    """``(a0, b1, b2)`` of the ridge fit ``y ≈ a0 + b1·f1 + b2·f2`` from the
    means and centred (co)variances; ``lam`` is added to each variance."""
    b1, b2 = solve_2x2(c11 + lam, c22 + lam, c12, c1y, c2y)
    return my - b1 * m1 - b2 * m2, b1, b2


def nb2_loglik(v, u, n, sv, svv, su, suu, n_all, var_eps):
    """Gaussian naive-Bayes ``log P(x, class)`` at ``(v, u)`` from the
    class's ``n`` rows and sums, with prior ``n / n_all`` (Column only)."""
    mv = sv / n
    varv = (svv / n - mv * mv) + var_eps
    mu = su / n
    varu = (suu / n - mu * mu) + var_eps
    return (
        F.lit(-0.5) * F.log(F.lit(TWO_PI) * varv)
        - (v - mv) * (v - mv) / (F.lit(2.0) * varv)
        - F.lit(0.5) * F.log(F.lit(TWO_PI) * varu)
        - (u - mu) * (u - mu) / (F.lit(2.0) * varu)
        + F.log(n / n_all)
    )


def check_iforest_size(n_trees: int, depth: int) -> None:
    """The leaf maps hold up to ``n_trees · 2^depth`` literal entries in one
    expression; past :data:`IFOREST_MAX_LEAVES` the plan grows to megabytes."""
    if n_trees * 2**depth > IFOREST_MAX_LEAVES:
        raise ValueError(
            f"isolation forest too large: n_trees * 2**depth = {n_trees} * 2**{depth} "
            f"= {n_trees * 2**depth} exceeds {IFOREST_MAX_LEAVES} leaf-map entries; "
            "lower n_trees or depth"
        )


def c_of(s: Column) -> Column:
    """sklearn's ``_average_path_length``: ``c(2) = 1``,
    ``c(s) = 2(ln(s−1)+γ) − 2(s−1)/s``."""
    return F.when(s == 2.0, F.lit(1.0)).otherwise(
        F.lit(2.0) * (F.log(s - F.lit(1.0)) + F.lit(GAMMA))
        - F.lit(2.0) * (s - F.lit(1.0)) / s
    )


def iforest_score(j: DataFrame, tag: str, n_trees: int, depth: int, cut, c_n: Column):
    """Deterministic isolation forest over ``j``. Level ``lv`` of tree ``t``
    cuts with ``cut(h, frac) -> Column`` (true = left branch), where
    ``h = int(md5(f'{tag}:{t}:{lv}')[:4], 16)`` picks the feature and
    ``frac ∈ [0, 1)`` the threshold; each tree becomes a bit-string column
    ``b{t}``. Returns ``(j_with_bits, score)`` with ``score = 2^(−E[h]/c_n)``.

    Leaf counts for ALL trees come from ONE grouping-sets job (≤ 2^depth rows
    per tree, bounded regardless of data size) and return as literal
    ``map`` lookups; ``h(x)`` is the first level whose prefix cell holds one
    instance, else ``depth + c(leaf size)``, over exact integer prefix
    sums. Call :func:`check_iforest_size` before the caller's first job."""
    for t in range(n_trees):
        bits = None
        for lv in range(depth):
            hd = hashlib.md5(f"{tag}:{t}:{lv}".encode()).hexdigest()
            frac = (int(hd[4:12], 16) % 1000000) / 1e6
            bit = F.when(cut(int(hd[:4], 16), frac), F.lit("0")).otherwise(F.lit("1"))
            bits = bit if bits is None else F.concat(bits, bit)
        j = j.withColumn(f"b{t}", bits)

    bcols = [f"b{t}" for t in range(n_trees)]
    cnt_rows = (
        j.groupingSets([[F.col(b)] for b in bcols], *[F.col(b) for b in bcols])
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    leaf_counts: list[dict[str, int]] = [{} for _ in range(n_trees)]
    for r in cnt_rows:
        for t, b in enumerate(bcols):
            if r[b] is not None:
                leaf_counts[t][r[b]] = int(r["c"])
                break
    avg_h = None
    for t in range(n_trees):
        lc = leaf_counts[t]
        pref: list[dict[str, int]] = [dict() for _ in range(depth)]
        for leaf, c in lc.items():
            for lv in range(1, depth):
                p = leaf[:lv]
                pref[lv][p] = pref[lv].get(p, 0) + c
        # one F.expr parse of the whole literal map (a per-leaf F.lit storm
        # costs thousands of py4j round trips); values are integer-valued
        # doubles, so repr() round-trips exactly through the SQL parser
        entries = []
        for leaf, c in sorted(lc.items()):
            s_arr = [float(pref[lv][leaf[:lv]]) for lv in range(1, depth)] + [float(c)]
            entries.append(f"'{leaf}',array({','.join(repr(s) for s in s_arr)})")
        sarr = F.element_at(F.expr("map(" + ",".join(entries) + ")"), F.col(f"b{t}"))
        h = F.when(F.element_at(sarr, 1) == 1.0, F.lit(1.0))
        for lv in range(2, depth):
            h = h.when(F.element_at(sarr, lv) == 1.0, F.lit(float(lv)))
        h = h.when(F.element_at(sarr, depth) == 1.0, F.lit(float(depth))).otherwise(
            F.lit(float(depth)) + c_of(F.element_at(sarr, depth))
        )
        avg_h = h if avg_h is None else avg_h + h
    avg_h = avg_h / F.lit(float(n_trees))
    return j, F.pow(F.lit(2.0), -(avg_h / c_n))
