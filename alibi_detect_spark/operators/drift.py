"""Batch two-sample drift tests as Spark-native relational plans.

The reference computes these per-feature in NumPy/scipy over in-memory arrays
(``alibi_detect/cd/ks.py:80-102``, ``cd/cvm.py:78-99``, ``cd/chisquare.py:101-133``,
``cd/pytorch/mmd.py:105-145``). Here each test is a declarative DataFrame plan
— groupBy + window cumulative counts — so Catalyst handles partial aggregation,
AQE, and pushdown; nothing leaves the JVM. Each plan is shuffled ONCE by the
test key: at 100 TB a per-key two-sample test is a single hash-partitioned
pass, never a driver collect.

Numeric parity contract: every statistic is derived from exact integer counts
(cumulative ECDF counts, contingency cells, rank sums over midranks that are
exact in binary); the only float ops are final divisions/exp, applied in the
same order as the SQL oracle, then rounded — so DuckDB value-hash comparison
is stable.

The kernel family (MMD, LSDD, learned-kernel, context-MMD) runs through one
subsample → kernel → permutation-p-value path (reference
``cd/pytorch/mmd.py:113-145``, ``utils/statstest.py:5-38``), each step one
shared block:

- :func:`_head` — the deterministic per-side head subsample
  (``row_number`` over ``s`` ordered by ``o``, rows ``rn ≤ n``);
- :func:`_mmd2_tail` — the Spark-side unbiased-MMD² block sums over a
  ``(sa, ia, sb, ib, k)`` pair relation (:func:`mmd_2samp`,
  :func:`mmd_2samp_vec`);
- :func:`_one_group` — the single-group Arrow stage: the whole subsample in
  one ``applyInPandas`` group, mergesorted by ``(s, rn)``;
- :func:`_perm_row` over :func:`_masked_mmd2` — the md5 ``"{p}:{gid}"``
  relabeling p-value (pooled ids from :func:`_gid`) and the unbiased MMD² of
  a label mask over a precomputed kernel matrix.

The kernel tests need at least 2 rows on each side (and on each side of the
learned-kernel holdout): an unbiased within-side sum has no pairs below
that. :func:`_one_group` and :func:`_perm_row` raise ``ValueError`` naming
the operator, the side and its row count instead of returning a NULL
statistic or a spurious ``p_value = 0``; :func:`_mmd2_tail` raises the same
message from its final select (``raise_error``) instead of ANSI's bare
``DIVIDE_BY_ZERO``.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.context_mmd import context_mmd_2samp
from ..functions.fet import hypergeom_sf_ge
from ..functions.lsdd import lsdd_2samp
from ..functions.perturbation import mmd2_unbiased, permutation_test
from .closed_form import (
    dec_sum, lsdd2_hinv, lsdd2_stat, mahalanobis_2x2, moments_2x2, ranked_top_k, ridge_2x2,
)

KS_SF_TERMS = 100


def kolmogorov_sf_col(t: Column) -> Column:
    """Asymptotic Kolmogorov survival function as a Column expression:
    ``Q(t) = 2 Σ_{k=1..K} (−1)^{k−1} exp(−2 k² t²)`` (``functions/ks.py``
    NumPy twin). Expressed with ``aggregate(sequence(...))`` so the oracle SQL
    (``list_sum(list_transform(generate_series(...)))``) adds terms in the
    identical k-order."""
    term = lambda k: (  # noqa: E731
        F.lit(2.0)
        * F.pow(F.lit(-1.0), k - 1)
        * F.exp(F.lit(-2.0) * k.cast("double") * k.cast("double") * t * t)
    )
    s = F.aggregate(
        F.sequence(F.lit(1), F.lit(KS_SF_TERMS)),
        F.lit(0.0),
        lambda acc, k: acc + term(k),
    )
    return F.when(t <= 0, F.lit(1.0)).otherwise(F.least(F.greatest(s, F.lit(0.0)), F.lit(1.0)))


def _ecdf_counts(df: DataFrame, key: str, value: str, sample: str) -> DataFrame:
    """Collapse to one row per (key, value) with per-sample tie counts, then
    cumulative counts along the value axis. One shuffle on (key, value), one
    sort per key partition — the minimal plan for any ECDF statistic."""
    g = (
        df.groupBy(key, value)
        .agg(
            F.sum(F.when(F.col(sample) == "ref", 1).otherwise(0)).alias("c_ref"),
            F.sum(F.when(F.col(sample) != "ref", 1).otherwise(0)).alias("c_test"),
        )
    )
    w = Window.partitionBy(key).orderBy(value).rowsBetween(Window.unboundedPreceding, 0)
    wk = Window.partitionBy(key)
    return (
        g.withColumn("cum_ref", F.sum("c_ref").over(w))
        .withColumn("cum_test", F.sum("c_test").over(w))
        .withColumn("n_ref", F.sum("c_ref").over(wk))
        .withColumn("n_test", F.sum("c_test").over(wk))
    )


def ks_2samp(df: DataFrame, key: str, value: str, sample: str = "sample") -> DataFrame:
    """Two-sided two-sample KS per key group, with asymptotic p-value.

    Spark-native recast of ``alibi_detect/cd/ks.py:101`` (there:
    ``scipy.stats.ks_2samp``): D = sup over pooled points of
    |ECDF_ref − ECDF_test|, p = Q(D·sqrt(nm/(n+m))). ECDFs are
    right-continuous so evaluating at the distinct pooled values is exact.
    """
    e = _ecdf_counts(df, key, value, sample)
    d = (
        e.select(
            key,
            "n_ref",
            "n_test",
            F.abs(
                F.col("cum_ref") / F.col("n_ref") - F.col("cum_test") / F.col("n_test")
            ).alias("diff"),
        )
        .groupBy(key, "n_ref", "n_test")
        .agg(F.max("diff").alias("d_raw"))
    )
    en = F.sqrt(F.col("n_ref") * F.col("n_test") / (F.col("n_ref") + F.col("n_test")))
    return d.select(
        key,
        F.col("n_ref").alias("n_ref"),
        F.col("n_test").alias("n_test"),
        F.round("d_raw", 9).alias("ks_stat"),
        F.round(kolmogorov_sf_col(en * F.col("d_raw")), 9).alias("p_value"),
    )


def cvm_2samp(df: DataFrame, key: str, value: str, sample: str = "sample") -> DataFrame:
    """Two-sample Cramér–von Mises per key (``alibi_detect/cd/cvm.py:78-99``,
    there scipy ``cramervonmises_2samp``). Rank form (Anderson 1962):

        U = n·Σᵢ(rₓᵢ − i)² + m·Σⱼ(r_yⱼ − j)²,   T = U/(nm(n+m)) − (4mn−1)/(6(m+n))

    with midranks for ties (ties have exact .5 binary representation, so the
    rank sums are exact integers/halves → bit-stable across engines).
    """
    e = _ecdf_counts(df, key, value, sample)
    # midrank of a tied block ending at cum_all: cum_all_before + (ties+1)/2
    e = e.withColumn("ties", F.col("c_ref") + F.col("c_test")).withColumn(
        "midrank",
        (F.col("cum_ref") + F.col("cum_test")) - (F.col("ties") - 1) / F.lit(2.0),
    )
    # within-sample index i for the tied block: runs (cum_s - c_s + 1 .. cum_s).
    # Σ over the block of (midrank − i)² has closed form:
    #   c·(midrank − a)² − 2(midrank − a)·Σk + Σk²,  k = 0..c−1, a = cum_s − c_s + 1
    def block_sq(c: str, cum: str) -> Column:
        cc = F.col(c).cast("double")
        a = (F.col(cum) - F.col(c) + 1).cast("double")
        d0 = F.col("midrank") - a
        sum_k = cc * (cc - 1) / 2
        sum_k2 = (cc - 1) * cc * (2 * cc - 1) / 6
        return cc * d0 * d0 - 2 * d0 * sum_k + sum_k2

    per_key = e.groupBy(key, "n_ref", "n_test").agg(
        F.sum(block_sq("c_ref", "cum_ref")).alias("sx"),
        F.sum(block_sq("c_test", "cum_test")).alias("sy"),
    )
    n, m = F.col("n_ref").cast("double"), F.col("n_test").cast("double")
    u = n * F.col("sx") + m * F.col("sy")
    t_stat = u / (n * m * (n + m)) - (4 * m * n - 1) / (6 * (m + n))
    return per_key.select(
        key,
        F.col("n_ref"),
        F.col("n_test"),
        (F.round(t_stat, 9) + F.lit(0.0)).alias("cvm_stat"),
    )


def chi2_contingency(df: DataFrame, feature: str, sample: str = "sample") -> DataFrame:
    """χ² test of independence between a categorical feature and the sample
    label (``alibi_detect/cd/chisquare.py:101-133``, there scipy
    ``chi2_contingency``, correction=False). Pure relational: contingency
    cells by groupBy, expected from marginals, one output row."""
    cells = df.groupBy(feature, sample).agg(F.count(F.lit(1)).alias("obs"))
    tot = cells.agg(F.sum("obs").alias("n")).select("n")
    row_m = cells.groupBy(feature).agg(F.sum("obs").alias("row_n"))
    col_m = cells.groupBy(sample).agg(F.sum("obs").alias("col_n"))
    j = (
        cells.join(row_m, feature)
        .join(col_m, sample)
        .crossJoin(F.broadcast(tot))
        .withColumn("exp", F.col("row_n") * F.col("col_n") / F.col("n"))
    )
    stat = j.agg(
        F.round(
            F.sum((F.col("obs") - F.col("exp")) * (F.col("obs") - F.col("exp")) / F.col("exp")),
            9,
        ).alias("chi2_stat"),
        ((F.count_distinct(F.col(feature)) - 1) * (F.count_distinct(F.col(sample)) - 1)).alias("dof"),
    )
    return stat


def _head(rel: DataFrame, n: int) -> DataFrame:
    """Deterministic head subsample: the first ``n`` rows of each side ``s``
    in ``o`` order, numbered ``rn`` from 1. At 100 TB this is the only full
    scan of every kernel test; all later stages see ≤ n rows per side."""
    w = Window.partitionBy("s").orderBy("o")
    return rel.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= n)


def _side_head(
    df: DataFrame, sample: str, value: str, order_col: str | None, n: int, *extra: Column
) -> DataFrame:
    """:func:`_head` of the scalar kernel tests: ``(s, v, *extra, o)`` with
    ``v`` the value as double, ordered by ``order_col`` (default ``value``)."""
    return _head(
        df.select(
            F.col(sample).alias("s"),
            F.col(value).cast("double").alias("v"),
            *extra,
            F.col(order_col or value).alias("o"),
        ),
        n,
    )


def _vec_head(emb: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
    """:func:`_head` of the embedding kernel tests: even ids are the
    reference side, rows ``(s, o = id, v = vector)``."""
    s = F.when(F.col(id_col) % 2 == 0, F.lit("ref")).otherwise(F.lit("test"))
    return _head(emb.select(s.alias("s"), F.col(id_col).alias("o"), F.col(vec_col).alias("v")), n)


_SIDES_RULE = "{op}: {side} side{of} has {k} row(s); the test needs at least 2 rows on each side"


def _mmd2_tail(pairs: DataFrame, op: str) -> DataFrame:
    """Unbiased MMD² (``utils/pytorch/distance.py:96-128``) from a pair
    relation ``(sa, ia, sb, ib, k)``: within-side kernel sums without the
    diagonal, the cross sum, and the pair counts, in one aggregate; the
    side sizes are the square roots of the within-side pair counts. A side
    below 2 rows raises :func:`_check_sides`' error from the final select
    instead of dividing by ``n·(n−1) = 0``."""
    xx = (F.col("sa") == "ref") & (F.col("sb") == "ref")
    yy = (F.col("sa") != "ref") & (F.col("sb") != "ref")
    xy = (F.col("sa") == "ref") & (F.col("sb") != "ref")
    off = F.col("ia") != F.col("ib")
    ksum = {"kxx": xx & off, "kyy": yy & off, "kxy": xy}
    count = {"nn": xx, "mm": yy, "nm": xy}
    agg = pairs.agg(
        *[F.sum(F.when(c, F.col("k")).otherwise(0.0)).alias(a) for a, c in ksum.items()],
        *[F.sum(F.when(c, 1).otherwise(0)).alias(a) for a, c in count.items()],
    )
    n = F.sqrt(F.col("nn").cast("double"))
    m = F.sqrt(F.col("mm").cast("double"))
    mmd2 = (
        F.col("kxx") / (n * (n - 1)) + F.col("kyy") / (m * (m - 1)) - 2 * F.col("kxy") / F.col("nm")
    )
    stat = F.round(mmd2, 6) + F.lit(0.0)
    # ref ends outermost, so it is checked first, as in _check_sides
    for side, size in (("test", m), ("ref", n)):
        msg = F.format_string(_SIDES_RULE.format(op=op, side=side, of="", k="%d"), size.cast("long"))
        stat = F.when(size < 2, F.raise_error(msg)).otherwise(stat)
    return agg.select(
        n.cast("long").alias("n_ref"),
        m.cast("long").alias("n_test"),
        stat.alias("mmd2"),
    )


def _check_sides(op: str, obs: np.ndarray, of: str = "") -> None:
    """The kernel tests' rule: at least 2 rows on each side."""
    for side, k in (("ref", int(obs.sum())), ("test", int((~obs).sum()))):
        if k < 2:
            raise ValueError(_SIDES_RULE.format(op=op, side=side, of=of, k=k))


def _one_group(sub: DataFrame, op: str, schema: str, stat) -> DataFrame:
    """One Arrow group over the whole subsample ``sub`` (``s``, ``rn``, …):
    rows mergesorted by ``(s, rn)`` so the order is independent of how Spark
    delivered them, both sides checked by :func:`_check_sides`, then
    ``stat(pdf)`` returns the output row's values in ``schema`` order."""
    names = [c.split()[0] for c in schema.split(",")]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["s", "rn"], kind="mergesort")
        _check_sides(op, (pdf["s"] == "ref").to_numpy())
        return pd.DataFrame({c: [x] for c, x in zip(names, stat(pdf))})

    return sub.groupBy().applyInPandas(fn, schema=schema)


def _gid(pdf: pd.DataFrame, n_per_side: int) -> tuple[np.ndarray, np.ndarray]:
    """``(ref mask, pooled id)``: ref rows keep ``rn``, test rows follow at
    ``n_per_side + rn`` — the ids the md5 relabelings and the oracle share."""
    obs = (pdf["s"] == "ref").to_numpy()
    return obs, np.where(obs, pdf["rn"].to_numpy(), n_per_side + pdf["rn"].to_numpy())


def _masked_mmd2(k: np.ndarray):
    """Unbiased MMD² of the split ``x`` (ref) / ``~x`` (test) over the
    precomputed pooled kernel matrix ``k``."""

    def mmd2(x: np.ndarray) -> float:
        kxx = k[np.ix_(x, x)]
        kyy = k[np.ix_(~x, ~x)]
        kxy = k[np.ix_(x, ~x)]
        nn, mm = int(x.sum()), int((~x).sum())
        return (
            (kxx.sum() - np.trace(kxx)) / (nn * (nn - 1.0))
            + (kyy.sum() - np.trace(kyy)) / (mm * (mm - 1.0))
            - 2.0 * kxy.sum() / (nn * float(mm))
        )

    return mmd2


def _perm_row(stat, obs: np.ndarray, gid: np.ndarray, n_permutations: int, op: str, of: str = ""):
    """``(n_ref, n_test, stat, p_value)`` of the md5 permutation test
    (``utils/statstest.py:5-38``): permutation ``p`` puts the first
    ``n_ref`` rows of the md5 order of ``"{p}:{gid}"`` on the ref side, and
    ``p_value`` is the share of permutations whose ``stat`` reaches the
    observed one. md5 orders are exchangeable under H0 like RNG shuffles
    but identical in Spark and DuckDB."""
    _check_sides(op, obs, of)
    n = int(obs.sum())
    observed = stat(obs)
    hits = 0
    for p in range(1, n_permutations + 1):
        pri = np.array([hashlib.md5(f"{p}:{g}".encode()).hexdigest() for g in gid])
        mask = np.zeros(len(gid), dtype=bool)
        mask[np.argsort(pri, kind="stable")[:n]] = True
        hits += int(observed <= stat(mask))
    return n, len(gid) - n, round(observed, 6) + 0.0, round(hits / n_permutations, 6)


def mmd_2samp(
    df: DataFrame,
    value: str,
    sample: str = "sample",
    n_per_side: int = 256,
    sigma: float = 5.0,
    order_col: str | None = None,
) -> DataFrame:
    """Unbiased MMD² with a Gaussian RBF kernel between two deterministic
    subsamples (``alibi_detect/cd/pytorch/mmd.py:113-137``; unbiased block
    sums per ``utils/pytorch/distance.py:96-128``).

    The kernel matrix is a crossJoin of two n≤256 broadcast sides — never a
    full-data O(N²); at 100 TB the subsample step (ordered head per side) is
    the only full scan. σ is fixed (config) rather than median-heuristic so
    the statistic is a closed-form function of the sample — the heuristic
    variant lives in the online detector (``functions/mmd.py``).
    """
    sub = _side_head(df, sample, value, order_col, n_per_side)
    a = sub.select(F.col("s").alias("sa"), F.col("v").alias("va"), F.col("rn").alias("ia"))
    b = sub.select(F.col("s").alias("sb"), F.col("v").alias("vb"), F.col("rn").alias("ib"))
    gamma = 1.0 / (2.0 * sigma * sigma)
    return _mmd2_tail(
        a.join(F.broadcast(b))
        .withColumn("k", F.exp(F.lit(-gamma) * (F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb")))),
        "mmd_2samp",
    )


def mmd_2samp_vec(
    emb: DataFrame,
    n_per_side: int = 128,
    sigma: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """Unbiased MMD² between two deterministic subsamples of an EMBEDDING
    column — the reference's flagship multivariate drift configuration
    (``alibi_detect/cd/pytorch/mmd.py:113-137`` over d-dim instances; the
    scalar instance is :func:`mmd_2samp`).

    The pairwise squared distances are computed RELATIONALLY: posexplode the
    vectors to (row, dim, value) with values quantized to 1e-6 ints, join on
    the dimension key (the exploded small side broadcasts — no shuffle), and
    the per-pair ``Σ_j (x_j − y_j)²`` is an exact integer aggregate —
    order-free under any partitioning, so both engines feed IDENTICAL
    doubles into the kernel exp. Kernel/block sums then follow the scalar
    operator's tail.

    Scale shape: the subsample head (n ≤ n_per_side per side) is the only
    full scan; the pair relation is bounded by (2n)²·d regardless of corpus
    size, with map-side partial aggregation on the pair keys."""
    sub = _vec_head(emb, id_col, vec_col, n_per_side)
    ex = sub.select("s", "rn", F.posexplode("v").alias("j", "x")).select(
        "s",
        "rn",
        "j",
        F.round(F.col("x").cast("double") * quant).cast("long").alias("xq"),
    )
    a = ex.select(
        F.col("s").alias("sa"), F.col("rn").alias("ia"), "j", F.col("xq").alias("xa")
    )
    b = ex.select(
        F.col("s").alias("sb"), F.col("rn").alias("ib"), F.col("j").alias("jb"),
        F.col("xq").alias("xb"),
    )
    diff = F.col("xa") - F.col("xb")
    d2 = (
        a.join(F.broadcast(b), F.col("j") == F.col("jb"))
        .groupBy("sa", "ia", "sb", "ib")
        .agg(dec_sum(diff * diff).alias("d2q"))
    )
    gamma = 1.0 / (2.0 * sigma * sigma)
    qq = float(quant) * float(quant)
    return _mmd2_tail(
        d2.withColumn("k", F.exp(F.lit(-gamma) * (F.col("d2q") / F.lit(qq)))), "mmd_2samp_vec"
    )


def mmd_perm_test_vec(
    emb: DataFrame,
    n_per_side: int = 128,
    sigma: float = 1.0,
    n_permutations: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """Offline MMD permutation test over an EMBEDDING column with
    hash-derived permutations — the d-dimensional twin of
    :func:`mmd_perm_test_hash` (reference ``cd/pytorch/mmd.py:138-140`` +
    ``utils/statstest.py:5-38``: p = share of permutations whose MMD² ≥ the
    observed one).

    The pooled kernel matrix is computed ONCE from quantized integer
    distances (``Σ_j (x_j − y_j)²`` over 1e-6-rounded components — exactly
    the relation the SQL twin aggregates), and every md5-ordered relabeling
    re-indexes it; the subsample head is the only full scan."""
    gamma = 1.0 / (2.0 * sigma * sigma)
    qq = float(quant) * float(quant)

    def stat(pdf: pd.DataFrame):
        x = np.stack(pdf["v"].to_numpy()).astype(np.float64) * float(quant)
        # HALF-AWAY-FROM-ZERO to match Spark/DuckDB round() (np.round is
        # half-even and would diverge on exact .5 products)
        xq = np.where(x >= 0, np.floor(x + 0.5), -np.floor(-x + 0.5)).astype(np.int64)
        d2q = ((xq[:, None, :] - xq[None, :, :]) ** 2).sum(axis=-1).astype(np.float64)
        k = np.exp(-gamma * (d2q / qq))
        return _perm_row(_masked_mmd2(k), *_gid(pdf, n_per_side), n_permutations, "mmd_perm_test_vec")

    return _one_group(
        _vec_head(emb, id_col, vec_col, n_per_side).select("s", "rn", "v"),
        "mmd_perm_test_vec",
        "n_ref long, n_test long, mmd2 double, p_value double",
        stat,
    )


def tabular_drift(
    df: DataFrame,
    num_cols: list[str],
    cat_cols: list[str],
    sample: str = "sample",
) -> DataFrame:
    """TabularDrift (``alibi_detect/cd/tabular.py:9-156``): per-feature
    dispatch — two-sample KS for numeric features, χ² contingency for
    categorical — unioned into one (feature, test, stat, p_value) relation.
    Each feature's plan is independent; Catalyst runs them as parallel
    branches of the union."""
    parts = []
    for c in num_cols:
        k = ks_2samp(
            df.select(F.lit(c).alias("feature"), F.col(c).alias("value"), sample),
            "feature",
            "value",
            sample,
        )
        parts.append(
            k.select(
                "feature",
                F.lit("ks").alias("test"),
                F.col("ks_stat").alias("stat"),
                "p_value",
            )
        )
    for c in cat_cols:
        ch = chi2_contingency(df, c, sample)
        parts.append(
            ch.select(
                F.lit(c).alias("feature"),
                F.lit("chi2").alias("test"),
                F.col("chi2_stat").alias("stat"),
                F.lit(None).cast("double").alias("p_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fet_2samp(df: DataFrame, bit_col: str, sample: str = "sample") -> DataFrame:
    """Offline Fisher exact test on a Bernoulli feature
    (``alibi_detect/cd/fet.py:86-120``; one-sided 'greater': p = P[hits_ref ≥
    observed] under exchangeability, the hypergeometric survival function).

    Plan: ONE relational aggregate collapses the table to a 2×2 contingency
    row (partial+final agg, nothing leaves the JVM until then); the
    hypergeometric tail is then computed on that single row in an Arrow UDF
    with the shared scipy-free kernel (``functions/fet.py``)."""
    counts = df.agg(
        F.sum(F.when(F.col(sample) == "ref", F.col(bit_col)).otherwise(0)).alias("hits_ref"),
        F.sum(F.when(F.col(sample) == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col(sample) != "ref", F.col(bit_col)).otherwise(0)).alias("hits_test"),
        F.sum(F.when(F.col(sample) != "ref", 1).otherwise(0)).alias("n_test"),
    )

    def fn(batches):
        for pdf in batches:
            a = int(pdf["hits_ref"].iloc[0])
            b = int(pdf["hits_test"].iloc[0])
            n_ref = int(pdf["n_ref"].iloc[0])
            n_test = int(pdf["n_test"].iloc[0])
            p = hypergeom_sf_ge(np.array([a]), n_ref + n_test, np.array([a + b]), n_ref)[0]
            yield pd.DataFrame(
                {
                    "n_ref": [n_ref],
                    "n_test": [n_test],
                    "hits_ref": [a],
                    "hits_test": [b],
                    "p_value": [round(p, 6)],
                }
            )

    return counts.mapInPandas(
        fn, schema="n_ref long, n_test long, hits_ref long, hits_test long, p_value double"
    )


def uncertainty_drift(
    df: DataFrame,
    logits_col: str,
    sample: str = "sample",
    n_classes: int = 8,
    key_name: str = "entropy",
    uncertainty_type: str = "entropy",
    margin_width: float = 0.1,
) -> DataFrame:
    """ClassifierUncertaintyDrift (``alibi_detect/cd/model_uncertainty.py:16-148``
    + ``cd/preprocess.py:8-57``): model-uncertainty transform as pure column
    math feeding the matching two-sample test. The "model logits" here are
    the first ``n_classes`` embedding dims — in production this column is the
    served model's logit array.

    ``uncertainty_type='entropy'`` → softmax entropy → KS test; ``'margin'``
    → binary low-margin indicator ``(top1 − top2) < margin_width``
    (``cd/preprocess.py:49-53``) → χ² test, matching the reference's
    categorical dispatch for margin uncertainty.

    Entropies are rounded to 9dp BEFORE the ECDF so cross-engine 1-ulp
    differences in exp/log cannot perturb tie grouping."""
    logits = F.slice(F.transform(F.col(logits_col), lambda x: x.cast("double")), 1, n_classes)
    mx = F.array_max(logits)
    exps = F.transform(logits, lambda x: F.exp(x - mx))
    denom = F.aggregate(exps, F.lit(0.0), lambda a, b: a + b)
    probs = F.transform(exps, lambda e: e / denom)
    if uncertainty_type == "margin":
        srt = F.array_sort(probs)
        # margin rounded to 9dp before the width comparison — same tie-group
        # stabilization as the entropy path (cross-engine exp() ulp)
        margin = F.round(F.element_at(srt, -1) - F.element_at(srt, -2), 9)
        low = (margin < margin_width).cast("int").cast("string")
        feat = df.select(low.alias("low_margin"), sample)
        return chi2_contingency(feat, "low_margin", sample)
    entropy = -F.aggregate(probs, F.lit(0.0), lambda a, p: a + p * F.log(p))
    feat = df.select(
        F.lit(key_name).alias("feature"),
        F.round(entropy, 9).alias("value"),
        sample,
    )
    return ks_2samp(feat, "feature", "value", sample)


def regressor_uncertainty_drift(
    df: DataFrame,
    samples_col: str,
    sample: str = "sample",
    n_samples: int = 8,
) -> DataFrame:
    """RegressorUncertaintyDrift (``alibi_detect/cd/model_uncertainty.py:171-299``
    + ``cd/preprocess.py:60-96 regressor_uncertainty``): the reference scores
    uncertainty as the std over MC-dropout / ensemble predictions, then runs
    KS drift on the uncertainties. The engine's analog takes the prediction
    samples as a provided array column (the served ensemble's outputs —
    MC-dropout needs the model, which is out of scope by design) and computes
    ``std = sqrt(E[s²] − E[s]²)`` as pure column math feeding the relational
    KS test. Uncertainties are rounded to 9dp before the ECDF (tie-group
    stability across engines)."""
    s = F.slice(F.transform(F.col(samples_col), lambda x: x.cast("double")), 1, n_samples)
    mean = F.aggregate(s, F.lit(0.0), lambda a, b: a + b) / n_samples
    meansq = F.aggregate(s, F.lit(0.0), lambda a, b: a + b * b) / n_samples
    unc = F.sqrt(F.greatest(meansq - mean * mean, F.lit(0.0)))
    feat = df.select(
        F.lit("reg_std").alias("feature"),
        F.round(unc, 9).alias("value"),
        sample,
    )
    return ks_2samp(feat, "feature", "value", sample)


def drift_corrections(
    df: DataFrame, feature_cols: list[str], p_col: str = "p_value", q: float = 0.05
) -> DataFrame:
    """Multivariate drift aggregation (``alibi_detect/cd/base.py:1003-1007``
    + ``utils/statstest.py:41-68``): per-feature Bonferroni rejection
    (``p < q/n``) and Benjamini–Hochberg FDR (sort p ascending, reject where
    ``p_(i) < q·i/n``, global drift if ANY sorted p falls below its
    threshold). Pure window math over the tiny per-feature p-value relation."""
    n = F.count(F.lit(1)).over(Window.partitionBy())
    w = Window.orderBy(F.col(p_col).asc(), *[F.col(c) for c in feature_cols])
    ranked = df.select(
        *feature_cols,
        F.col(p_col),
        F.row_number().over(w).alias("rank"),
        n.alias("n_features"),
    ).withColumn(
        "q_threshold", F.lit(q) * F.col("rank") / F.col("n_features")
    ).withColumn(
        "fdr_below", (F.col(p_col) < F.col("q_threshold")).cast("int")
    ).withColumn(
        "bonferroni_reject", (F.col(p_col) < F.lit(q) / F.col("n_features")).cast("int")
    )
    any_w = Window.partitionBy()
    return ranked.withColumn("is_drift_fdr", F.max("fdr_below").over(any_w)).select(
        *feature_cols, p_col, "rank",
        F.round("q_threshold", 9).alias("q_threshold"),
        "fdr_below", "bonferroni_reject", "is_drift_fdr",
    )


def mahalanobis_scores(
    df: DataFrame, cols: tuple[str, str], id_cols: list[str], top_k: int = 100
) -> DataFrame:
    """Batch Mahalanobis outlier score over two features with a closed-form
    2×2 population-covariance inverse (``alibi_detect/od/_mahalanobis.py:74-89``
    semantics: fit mean/cov on the full batch, score = quadratic form).

    All moments come from one partial+final aggregate pass (no collect); the
    quadratic form is whole-stage-codegen column math. The raw moments are
    accumulated in DECIMAL (exact under any aggregation order, so the fitted
    mean/cov — and therefore every score — is bit-identical between the
    distributed run and the oracle); top-k ordered by the ROUNDED score + ids
    so ranking is reproducible across engines. A singular covariance (one
    row, or all rows on one line) raises a message naming the rule and the
    row count instead of ANSI's bare ``DIVIDE_BY_ZERO``.
    """
    x, y = cols
    j = df.crossJoin(F.broadcast(moments_2x2(df, x, y)))
    dx = F.col(x).cast("double") - F.col("mx")
    dy = F.col(y).cast("double") - F.col("my")
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    msg = F.format_string(
        f"mahalanobis_scores: singular 2x2 covariance of ({x}, {y}) over %d row(s); "
        "the closed-form inverse needs a*b - c*c != 0",
        F.col("n").cast("long"),
    )
    score = F.when(a * b == c * c, F.raise_error(msg)).otherwise(mahalanobis_2x2(dx, dy, a, b, c))
    scored = j.select(*id_cols, F.round(score, 6).alias("maha_score"))
    return ranked_top_k(scored, "maha_score", id_cols, top_k)


def mmd_perm_test(
    df: DataFrame,
    value: str,
    sample: str = "sample",
    n_per_side: int = 256,
    sigma: float = 5.0,
    n_permutations: int = 200,
    seed: int = 42,
    order_col: str | None = None,
) -> DataFrame:
    """Offline MMD drift with a permutation p-value
    (``alibi_detect/cd/pytorch/mmd.py:113-145``, generic permutation test at
    ``utils/statstest.py:5-38``): deterministic head subsamples per side, one
    Arrow group computing the observed unbiased MMD² and the seeded
    label-shuffle null. Everything before the tiny final group is
    relational."""

    def stat(pdf: pd.DataFrame):
        x = pdf[pdf["s"] == "ref"]["v"].to_numpy()[:, None]
        y = pdf[pdf["s"] != "ref"]["v"].to_numpy()[:, None]
        p, mmd2, _ = permutation_test(
            x, y, mmd2_unbiased, n_permutations=n_permutations, seed=seed, sigma=sigma
        )
        return len(x), len(y), round(mmd2, 6) + 0.0, round(p, 6)

    return _one_group(
        _side_head(df, sample, value, order_col, n_per_side).select("s", "v", "rn"),
        "mmd_perm_test",
        "n_ref long, n_test long, mmd2 double, p_value double",
        stat,
    )


def context_mmd_drift(
    df: DataFrame,
    value: str,
    context_cols: list[str],
    sample: str = "sample",
    n_per_side: int = 200,
    n_permutations: int = 50,
    seed: int = 42,
    order_col: str | None = None,
) -> DataFrame:
    """ContextMMDDrift (``alibi_detect/cd/context_aware.py:18-171``): tests
    whether P(x | c) differs between ref and test while remaining insensitive
    to shifts in the context distribution itself. Deterministic head
    subsamples per side; the seeded NumPy kernel
    (:mod:`..functions.context_mmd`) runs in one Arrow group — kernel sizes
    are bounded by ``n_per_side``, matching the reference's in-memory
    contract. Seeded permutations → rows-only driver check + behavioral
    pytest."""
    c_cols = [f"c{i}" for i in range(len(context_cols))]
    ctx = [F.col(c).cast("double").alias(a) for c, a in zip(context_cols, c_cols)]

    def stat(pdf: pd.DataFrame):
        ref = pdf[pdf["s"] == "ref"]
        test = pdf[pdf["s"] != "ref"]
        res = context_mmd_2samp(
            ref["v"].to_numpy()[:, None],
            ref[c_cols].to_numpy(),
            test["v"].to_numpy()[:, None],
            test[c_cols].to_numpy(),
            n_permutations=n_permutations,
            seed=seed,
        )
        return res.n_ref, res.n_test, round(res.stat, 6), round(res.threshold, 6), round(res.p_value, 6)

    return _one_group(
        _side_head(df, sample, value, order_col, n_per_side, *ctx).drop("o"),
        "context_mmd_drift",
        "n_ref long, n_test long, cmmd_stat double, threshold double, p_value double",
        stat,
    )


def mmd_perm_test_hash(
    df: DataFrame,
    value: str,
    sample: str = "sample",
    n_per_side: int = 256,
    sigma: float = 5.0,
    n_permutations: int = 100,
    order_col: str | None = None,
) -> DataFrame:
    """Offline MMD permutation test with HASH-DERIVED permutations — the
    SQL-oracle-checkable twin of :func:`mmd_perm_test`.

    Same statistic and p-value semantics as ``utils/statstest.py:5-38``
    (p = share of permutations whose MMD² ≥ the observed one), but each
    permutation is the md5 order of ``"{perm}:{pooled_id}"`` instead of an
    RNG shuffle: a deterministic pseudo-random relabeling that is identical
    in Spark and DuckDB, making the whole test hash-checkable. Statistically
    equivalent (md5 orders are exchangeable under H0); the seeded-RNG variant
    stays for reference-faithful semantics in pytest."""
    two_sig2 = 2.0 * sigma * sigma

    def stat(pdf: pd.DataFrame):
        v = pdf["v"].to_numpy()
        d = v[:, None] - v[None, :]
        k = np.exp(-(d * d) / two_sig2)
        return _perm_row(_masked_mmd2(k), *_gid(pdf, n_per_side), n_permutations, "mmd_perm_test_hash")

    return _one_group(
        _side_head(df, sample, value, order_col, n_per_side).select("s", "v", "rn"),
        "mmd_perm_test_hash",
        "n_ref long, n_test long, mmd2 double, p_value double",
        stat,
    )


def preprocess_drift_hashproj(
    docs: DataFrame,
    text: str = "text",
    sample: str = "sample",
    n_features: int = 2,
) -> DataFrame:
    """Drift-with-preprocessing for raw text — the engine's analog of the
    reference's ``preprocess_drift`` pipeline (``cd/pytorch/preprocess.py:
    87-124``: tokenizer + embedding model → UAE projection → univariate
    drift test; wired into every detector via ``preprocess_fn``,
    ``cd/base.py:891-896``).

    A torch/TF embedding model is out of this environment, so the embedding
    is a DETERMINISTIC hash projection (the same device as
    ``operators/multimodal.py``'s feature extractor): feature_j(doc) =
    mean over words of ``md5('pp{j}:'||word)``-derived integers in
    [−1000, 1000] — a random-projection bag-of-words embedding that is
    identical in Spark and DuckDB. Word sums are integer-exact (order-free),
    one division per doc, then the per-feature KS two-sample test between
    ref and test documents (``KSDrift`` over the projected features — the
    exact contract of ``preprocess_drift`` + ``cd/ks.py``).

    Scale shape: pure column expressions over the doc scan (map-side md5,
    whole-stage codegen), one ECDF shuffle per feature — scan-bound."""
    w = F.split(F.col(text), " ")

    # factory, NOT a default-arg lambda: F.transform inspects lambda arity,
    # and a second parameter would be bound to the array INDEX column
    def _hp(prefix: str):
        return lambda x: (
            F.conv(F.substring(F.md5(F.concat(F.lit(prefix), x)), 1, 8), 16, 10).cast("long")
            % 2001
            - 1000
        )

    feats = []
    for j in range(n_features):
        hp = F.transform(w, _hp(f"pp{j}:"))
        tot = F.aggregate(hp, F.lit(0).cast("long"), lambda acc, t: acc + t)
        feats.append(F.round(tot.cast("double") / F.size(w), 9).alias(f"f{j}"))
    proj = docs.select(F.col(sample).alias("s"), *feats)
    lab = None
    for j in range(n_features):
        part = proj.select(
            F.lit(f"proj{j}").alias("feature"),
            F.col(f"f{j}").alias("value"),
            F.col("s").alias(sample),
        )
        lab = part if lab is None else lab.unionByName(part)
    return ks_2samp(lab, "feature", "value", sample)


def learned_kernel_drift_hash(
    df: DataFrame,
    value: str,
    sample: str = "sample",
    n_per_side: int = 256,
    sigma: float = 5.0,
    lam: float = 0.1,
    eps_mix: float = 0.25,
    var_eps: float = 1e-9,
    n_permutations: int = 100,
    order_col: str | None = None,
) -> DataFrame:
    """LearnedKernelDrift (``alibi_detect/cd/learned_kernel.py:21-198``) in
    CLOSED FORM: the reference trains a deep kernel
    ``k(x,y) = (1−eps)·k_a(Φ(x),Φ(y)) + eps·k_b(x,y)`` on a held-out train
    split to maximize MMD power, then runs an MMD permutation test on the
    remaining data with the trained kernel. This analog keeps the exact
    contract — kernel FITTED on a disjoint split, MMD + permutations on the
    holdout only, mixture of a learned component with a fixed RBF — with the
    torch-trained ``Φ`` replaced by a closed-form ridge projection:

    - split: md5-derived (``md5('lk:'||gid) % 2``), train half / holdout
      half (reference: ``train_size`` split, ``cd/base.py:158``);
    - learned component: ``Φ(x) = a + b₁φ₁(x) + b₂φ₂(x)`` with RBF features
      ``φ`` at deterministic mean±std probes of the train split and ridge
      coefficients from the train split's ref/test labels (the
      discriminative direction — a rank-1 learned kernel
      ``k_a = Φ(x)·Φ(y)``);
    - final kernel ``k = (1−eps)·Φ(x)Φ(y) + eps·rbf(x,y)`` (the reference's
      eps-mixture, ``utils/pytorch/kernels.py DeepKernel``);
    - stat: unbiased MMD² on the holdout; p-value from md5-derived
      permutations of the holdout labels (kernel frozen — matching
      ``learned_kernel.py:174-198`` where permutations reuse the trained
      kernel matrix).

    Everything is a closed-form function of the data → hash-checkable
    against the DuckDB oracle (the ridge solve is the shared
    :func:`.closed_form.ridge_2x2`, mirrored term-for-term)."""
    two_sig2 = 2.0 * sigma * sigma
    one_m_eps = 1.0 - eps_mix

    def stat(pdf: pd.DataFrame):
        v = pdf["v"].to_numpy()
        ref_mask, gid = _gid(pdf, n_per_side)
        fold = np.array(
            [int(hashlib.md5(f"lk:{g}".encode()).hexdigest()[:4], 16) % 2 for g in gid]
        )
        tr, ho = fold == 0, fold == 1
        vt, yt = v[tr], (~ref_mask[tr]).astype(np.float64)
        gn = float(len(vt))
        gm = float(vt.sum()) / gn
        gsd = math.sqrt(float((vt * vt).sum()) / gn - (float(vt.sum()) / gn) * (float(vt.sum()) / gn) + var_eps)

        def phi(x):
            return (
                np.exp(-((x - (gm + gsd)) ** 2) / (2.0 * gsd * gsd)),
                np.exp(-((x - (gm - gsd)) ** 2) / (2.0 * gsd * gsd)),
            )

        f1, f2 = phi(vt)
        m1, m2, my = float(f1.sum()) / gn, float(f2.sum()) / gn, float(yt.sum()) / gn
        c11 = float((f1 * f1).sum()) / gn - m1 * m1
        c22 = float((f2 * f2).sum()) / gn - m2 * m2
        c12 = float((f1 * f2).sum()) / gn - m1 * m2
        c1y = float((f1 * yt).sum()) / gn - m1 * my
        c2y = float((f2 * yt).sum()) / gn - m2 * my
        a0, b1, b2 = ridge_2x2(m1, m2, my, c11, c22, c12, c1y, c2y, lam)

        vh = v[ho]
        h1, h2 = phi(vh)
        sc = a0 + b1 * h1 + b2 * h2
        d = vh[:, None] - vh[None, :]
        k = one_m_eps * (sc[:, None] * sc[None, :]) + eps_mix * np.exp(-(d * d) / two_sig2)
        return _perm_row(
            _masked_mmd2(k), ref_mask[ho], gid[ho], n_permutations,
            "learned_kernel_drift_hash", " of the holdout",
        )

    return _one_group(
        _side_head(df, sample, value, order_col, n_per_side).select("s", "v", "rn"),
        "learned_kernel_drift_hash",
        "n_ref long, n_test long, lk_stat double, p_value double",
        stat,
    )


def lsdd_perm_test_hash(
    df: DataFrame,
    value: str,
    sample: str = "sample",
    n_per_side: int = 256,
    sigma: float = 5.0,
    lam: float = 0.25,
    n_permutations: int = 100,
    order_col: str | None = None,
) -> DataFrame:
    """Offline LSDD permutation test in CLOSED FORM — the SQL-oracle-checkable
    instance of ``alibi_detect/cd/pytorch/lsdd.py:13-135`` /
    ``utils/pytorch/distance.py:152-243`` (``permed_lsdds``).

    Same statistic structure as the reference (density-difference estimate on
    kernel-center features, stat = h' H_λ⁻¹ h with
    H_λ⁻¹ = 2(H+λI)⁻¹ − (H+λI)⁻¹ H (H+λI)⁻¹, p-value = share of permuted
    stats ≥ observed) with the three randomized/iterative fit choices pinned
    to deterministic ones so the whole test is a closed-form function of the
    data, identical in Spark and DuckDB:

    - kernel centers = the first TWO reference rows of the deterministic head
      subsample (instead of a seeded permutation of the ref,
      ``lsdd.py:102``), so H is a 2×2 matrix with a closed-form inverse;
    - σ fixed (instead of the median heuristic) and the ref-moment
      normalization dropped — a fixed-bandwidth instance, exactly like the
      ``mmd_online`` deterministic-split variant;
    - λ fixed (instead of the relative-difference search of
      ``distance.py:195-223``);
    - permutations = md5 relabelings (``md5('{p}:{gid}')`` order), which are
      exchangeable under H0 like RNG shuffles but identical in both engines.

    The reference-faithful seeded variant (median heuristic, λ search,
    RNG permutations) is :func:`lsdd_perm_test`, pytest-covered.
    The quadratic form is the shared scalar chain
    :func:`.closed_form.lsdd2_hinv` / :func:`.closed_form.lsdd2_stat` (no
    np.linalg), whose expression tree the oracle's SQL evaluates.
    """
    two_sig2 = 2.0 * sigma * sigma
    four_sig2 = 4.0 * sigma * sigma  # (√2·σ)² · 2

    def stat(pdf: pd.DataFrame):
        obs, gid = _gid(pdf, n_per_side)
        v = pdf["v"].to_numpy()
        n = int(obs.sum())
        m = len(v) - n
        c1, c2 = map(float, v[obs][:2])  # ref rows rn = 1, 2
        k1 = np.exp(-((v - c1) ** 2) / two_sig2)
        k2 = np.exp(-((v - c2) ** 2) / two_sig2)
        # H = k_{√2σ}(centers, centers) = [[1, e], [e, 1]]
        m11, m12 = lsdd2_hinv(float(np.exp(-((c1 - c2) ** 2) / four_sig2)), lam)

        def lsdd(x_mask: np.ndarray) -> float:
            h1 = float(k1[x_mask].sum() / n - k1[~x_mask].sum() / m)
            h2 = float(k2[x_mask].sum() / n - k2[~x_mask].sum() / m)
            return lsdd2_stat(m11, m12, h1, h2)

        return _perm_row(lsdd, obs, gid, n_permutations, "lsdd_perm_test_hash")

    return _one_group(
        _side_head(df, sample, value, order_col, n_per_side).select("s", "v", "rn"),
        "lsdd_perm_test_hash",
        "n_ref long, n_test long, lsdd_stat double, p_value double",
        stat,
    )


def lsdd_perm_test(
    df: DataFrame,
    value: str,
    sample: str = "sample",
    n_per_side: int = 256,
    n_permutations: int = 100,
    seed: int = 42,
    order_col: str | None = None,
) -> DataFrame:
    """Offline LSDD drift with a permutation p-value
    (``alibi_detect/cd/pytorch/lsdd.py:13-135``): deterministic head
    subsamples per side, one Arrow group running the seeded NumPy kernel."""

    def stat(pdf: pd.DataFrame):
        x = pdf[pdf["s"] == "ref"]["v"].to_numpy()[:, None]
        y = pdf[pdf["s"] != "ref"]["v"].to_numpy()[:, None]
        p, lsdd = lsdd_2samp(x, y, n_permutations=n_permutations, seed=seed)
        return len(x), len(y), round(lsdd, 6) + 0.0, round(p, 6)

    return _one_group(
        _side_head(df, sample, value, order_col, n_per_side).select("s", "v", "rn"),
        "lsdd_perm_test",
        "n_ref long, n_test long, lsdd_stat double, p_value double",
        stat,
    )


# ---------------------------------------------------------------------------
# ContextMMDDrift closed-form instance
# ---------------------------------------------------------------------------

def cmmd2_layers(lam: float) -> list[tuple[str, str]]:
    """The scalar chain from the 2×2 moment columns to the conditional-MMD
    statistic, as (name, SQL-expression) layers. The SAME strings drive both
    engines — Spark evaluates them with ``selectExpr``, the DuckDB oracle
    wraps them in sequential CTEs — so the parse trees (and therefore the
    IEEE evaluation order) are identical by construction.

    Derivation: with rank-2 feature maps the context kernel is ``L = ΦΦᵀ``
    and Woodbury collapses the reference's n×n ridge inverse
    (``functions/context_mmd.py:99-101``) to a 2×2 solve:
    ``A_s = Φ_h B_s Φ_sᵀ`` with ``B_s = (I − S_s M_s⁻¹)/c_s``,
    ``M_s = c_s I + S_s``, ``S_s = Φ_sᵀΦ_s``, ``c_s = n_s λ``. The coupling
    sums then reduce to ``Σ(K_ss' ∘ W_ss') = tr(G_s C_ss' G_s'ᵀ)/m`` with
    ``G_s = Σ ψφᵀ`` and ``C_ss' = B_sᵀ (Φ_hᵀΦ_h) B_s'`` — every quantity a
    2×2 matrix of exact-integer moments."""
    grp: list[list[tuple[str, str]]] = [[], [], [], [], [], [], [], [], []]
    for p in (0, 1):
        grp[0] += [(f"c{p}", f"(n{p}*{lam!r})")]
        grp[1] += [(f"det{p}", f"((c{p} + s{p}aa)*(c{p} + s{p}bb) - s{p}ab*s{p}ab)")]
        grp[2] += [
            (f"mi{p}aa", f"((c{p} + s{p}bb)/det{p})"),
            (f"mi{p}ab", f"(-s{p}ab/det{p})"),
            (f"mi{p}bb", f"((c{p} + s{p}aa)/det{p})"),
        ]
        grp[3] += [
            (f"sm{p}aa", f"(s{p}aa*mi{p}aa + s{p}ab*mi{p}ab)"),
            (f"sm{p}ab", f"(s{p}aa*mi{p}ab + s{p}ab*mi{p}bb)"),
            (f"sm{p}ba", f"(s{p}ab*mi{p}aa + s{p}bb*mi{p}ab)"),
            (f"sm{p}bb", f"(s{p}ab*mi{p}ab + s{p}bb*mi{p}bb)"),
        ]
        grp[4] += [
            (f"b{p}aa", f"((1.0 - sm{p}aa)/c{p})"),
            (f"b{p}ab", f"((0.0 - sm{p}ab)/c{p})"),
            (f"b{p}ba", f"((0.0 - sm{p}ba)/c{p})"),
            (f"b{p}bb", f"((1.0 - sm{p}bb)/c{p})"),
        ]
        grp[5] += [
            (f"hb{p}aa", f"(haa*b{p}aa + hab*b{p}ba)"),
            (f"hb{p}ab", f"(haa*b{p}ab + hab*b{p}bb)"),
            (f"hb{p}ba", f"(hab*b{p}aa + hbb*b{p}ba)"),
            (f"hb{p}bb", f"(hab*b{p}ab + hbb*b{p}bb)"),
        ]
    for p, q in ((0, 0), (1, 1), (0, 1)):
        grp[6] += [
            (f"cc{p}{q}aa", f"(b{p}aa*hb{q}aa + b{p}ba*hb{q}ba)"),
            (f"cc{p}{q}ab", f"(b{p}aa*hb{q}ab + b{p}ba*hb{q}bb)"),
            (f"cc{p}{q}ba", f"(b{p}ab*hb{q}aa + b{p}bb*hb{q}ba)"),
            (f"cc{p}{q}bb", f"(b{p}ab*hb{q}ab + b{p}bb*hb{q}bb)"),
        ]
        grp[7] += [
            (
                f"t{p}{q}",
                f"((g{p}aa*(cc{p}{q}aa*g{q}aa + cc{p}{q}ab*g{q}ab)"
                f" + g{p}ab*(cc{p}{q}ba*g{q}aa + cc{p}{q}bb*g{q}ab))"
                f" + (g{p}ba*(cc{p}{q}aa*g{q}ba + cc{p}{q}ab*g{q}bb)"
                f" + g{p}bb*(cc{p}{q}ba*g{q}ba + cc{p}{q}bb*g{q}bb)))",
            ),
        ]
    grp[8].append(("cmmd_raw", "(t00/hm + t11/hm - 2.0*(t01/hm))"))
    return grp


def context_mmd_hash(
    df: DataFrame,
    value: str,
    context: str,
    sample: str = "sample",
    n_per_side: int = 256,
    n_held_per_side: int = 64,
    lam: float = 0.25,
    n_permutations: int = 32,
    quant: int = 1_000_000,
    order_col: str | None = None,
) -> DataFrame:
    """ContextMMDDrift in CLOSED FORM — the hash-checkable instance of
    ``alibi_detect/cd/context_aware.py:18-171`` (estimator
    ``functions/context_mmd.py:89-111``; the CV-λ median-heuristic variant
    is :func:`context_mmd_drift`, rows-only). Pinned choices: rank-2 value
    and context feature maps (RBF at the 25%/75% points of the pooled range,
    bandwidth = range/4), fixed λ, deterministic head subsample + held
    split, md5-derived permutations. Features are QUANTIZED to integers so
    every moment is an exact order-free sum, and the scalar chain to the
    statistic is the shared :func:`cmmd2_layers` string program — evaluated
    by ``selectExpr`` here and by identical CTEs in the oracle.

    Plan: two tiny per-side head subsamples, one broadcast parameter
    relation, one P×n explode for the permutation relabelings, one
    ``groupBy(perm)`` moment aggregate (P rows), then pure scalar layers.
    Returns one row ``(n_ref, n_test, cmmd_stat, p_value)``.

    Fidelity note: the permutation calibration keeps the test VALID under
    any context distribution (labels are exchangeable under H0), but the
    rank-2 context representation is coarser than the reference's full RBF
    conditional embedding, so insensitivity to a pure context-MARGINAL
    shift is only approximate here — the reference-faithful property lives
    in :func:`context_mmd_drift` (rows-only, pytest-covered including the
    context-shift-quiet case)."""
    base = _side_head(
        df, sample, value, order_col, n_per_side + n_held_per_side,
        F.col(context).cast("double").alias("cx"),
    )
    pooled = base.where(F.col("rn") <= n_per_side)
    held = base.where(F.col("rn") > n_per_side)
    rng = pooled.agg(
        F.min("v").alias("v_lo"),
        F.max("v").alias("v_hi"),
        F.min("cx").alias("c_lo"),
        F.max("cx").alias("c_hi"),
    )

    def feats(rel):
        j = rel.crossJoin(F.broadcast(rng))
        out = j
        for tag, col, lo, hi in (("p", "cx", "c_lo", "c_hi"), ("q", "v", "v_lo", "v_hi")):
            width = (F.col(hi) - F.col(lo)) / F.lit(4.0) + F.lit(1e-9)
            for sub, frac in (("a", 0.25), ("b", 0.75)):
                ctr = F.col(lo) + F.lit(frac) * (F.col(hi) - F.col(lo))
                k = F.exp(
                    -((F.col(col) - ctr) * (F.col(col) - ctr))
                    / (F.lit(2.0) * width * width)
                )
                out = out.withColumn(f"{tag}{sub}", F.round(k * quant).cast("long"))
        return out

    qd = float(quant) * float(quant)
    hrel = feats(held).agg(
        F.count(F.lit(1)).cast("double").alias("hm"),
        (dec_sum(F.col("pa") * F.col("pa")) / F.lit(qd)).alias("haa"),
        (dec_sum(F.col("pa") * F.col("pb")) / F.lit(qd)).alias("hab"),
        (dec_sum(F.col("pb") * F.col("pb")) / F.lit(qd)).alias("hbb"),
    )
    pf = feats(pooled).withColumn(
        "gid",
        F.when(F.col("s") == "ref", F.col("rn")).otherwise(F.lit(n_per_side) + F.col("rn")),
    ).withColumn("obs0", (F.col("s") == "ref").cast("int"))
    perms = pf.crossJoin(
        F.broadcast(
            pf.sparkSession.range(0, n_permutations + 1).select(F.col("id").cast("int").alias("perm"))
        )
    )
    wperm = Window.partitionBy("perm").orderBy(
        F.md5(F.concat(F.col("perm").cast("string"), F.lit(":"), F.col("gid").cast("string"))),
        "gid",
    )
    wp_all = Window.partitionBy("perm")
    lab = perms.withColumn(
        "lab",
        F.when(F.col("perm") == 0, F.lit(1) - F.col("obs0")).otherwise(
            (F.row_number().over(wperm) > F.sum("obs0").over(wp_all)).cast("int")
        ),
    )
    agg = [F.count(F.lit(1)).cast("double").alias("ntot")]
    for p in (0, 1):
        m = F.col("lab") == p
        agg.append(F.sum(m.cast("long")).cast("double").alias(f"n{p}"))
        for nm, e in (
            (f"s{p}aa", F.col("pa") * F.col("pa")),
            (f"s{p}ab", F.col("pa") * F.col("pb")),
            (f"s{p}bb", F.col("pb") * F.col("pb")),
            (f"g{p}aa", F.col("qa") * F.col("pa")),
            (f"g{p}ab", F.col("qa") * F.col("pb")),
            (f"g{p}ba", F.col("qb") * F.col("pa")),
            (f"g{p}bb", F.col("qb") * F.col("pb")),
        ):
            agg.append((dec_sum(F.when(m, e)) / F.lit(qd)).alias(nm))
    mom = lab.groupBy("perm").agg(*agg).crossJoin(F.broadcast(hrel))
    out = mom
    for group in cmmd2_layers(lam):
        out = out.selectExpr("*", *[f"{formula} AS {name}" for name, formula in group])
    stats = out.select("perm", "n0", "n1", (F.round(F.col("cmmd_raw"), 9) + F.lit(0.0)).alias("st"))
    obs = stats.where(F.col("perm") == 0).select(
        F.col("n0").alias("n_ref_d"), F.col("n1").alias("n_test_d"), F.col("st").alias("stat")
    )
    pv = (
        stats.where(F.col("perm") > 0)
        .crossJoin(F.broadcast(obs))
        .agg(
            F.first("n_ref_d").alias("n_ref_d"),
            F.first("n_test_d").alias("n_test_d"),
            F.first("stat").alias("stat"),
            F.avg((F.col("stat") <= F.col("st")).cast("double")).alias("p_value"),
        )
    )
    return pv.select(
        F.col("n_ref_d").cast("long").alias("n_ref"),
        F.col("n_test_d").cast("long").alias("n_test"),
        F.col("stat").alias("cmmd_stat"),
        (F.round("p_value", 9) + F.lit(0.0)).alias("p_value"),
    )
