"""Batch outlier detectors (SURVEY §2.3 new-API ops): every operator fits
once on a reference, then scores each instance. Two plan families:

- **NumPy fit + corpus scan** (``*_outlier_scores``, rows-only): the
  reference set is collected once (small by alibi-detect's own contract),
  the fit happens in NumPy, and scoring is one :func:`.ann.score_scan`
  ``mapInPandas`` pass — no shuffle of the corpus. LOF fits with the k-NN
  scans' reference-set and neighbour blocks (:func:`.ann._ref_set`,
  :func:`.ann._knn`) and scores with their distance and order blocks
  (:func:`.ann._ref_dists`, :func:`.ann._nn_order`).
- **Closed form** (``*_2feat``, ``*_dfeat``, ``*_emb``, hash-checked against
  the DuckDB oracle): exact DECIMAL / quantized-integer moment aggregates,
  driver-side scalar math or broadcast 1-row parameter relations, and
  whole-stage-codegen scoring — no UDF on the scoring path.

The closed forms share their fit-and-score blocks: the 2×2 moment relation,
rank-1 / pPCA parameters, ranked top-k, landmark kernels and isolation-forest
leaf maps from :mod:`.closed_form`; the fixed-iteration power method from
:func:`..functions.abdm.power_top`; the quantized-EM loop of both GMM
closed forms (:func:`_quant_em`); and, at embedding width, the one-pass
quantized moments (:func:`_emb_quant_moments`), the per-dimension
posexplode moments (:func:`_dim_moments`) and one sequential fold
(:func:`_fold`) under every per-row reduction — the centred projections
(:func:`_centred`, :func:`_dot`) and the index folds (:func:`_index_fold`).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.abdm import (
    abdm_dpair,
    classical_mds_dabs,
    combine_abdm_mvdm,
    deflate,
    mvdm_dpair,
    power_top,
)
from ..functions.gmm import GMMOutlier
from ..functions.iforest import IsolationForest
from ..functions.mmd import median_heuristic_sigma, rbf_kernel, squared_pairwise_distance
from ..functions.svm import OneClassSVM
from .ann import _collect_matrix, _knn, _nn_order, _ref_dists, _ref_set, score_scan
from .closed_form import (
    GAMMA,
    c_of,
    check_iforest_size,
    dec_sum,
    eig_2x2,
    iforest_score,
    landmark_kernels,
    mahalanobis_2x2,
    moments_2x2,
    ppca_par,
    ranked_top_k,
    recon_par,
)


def pca_outlier_scores(
    emb: DataFrame,
    ref_pred,
    n_components: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Linear-PCA outlier score (``alibi_detect/od/_pca.py:20-208``, torch
    backend ``od/pytorch/pca.py:121-171``): fit = eigendecomposition of the
    reference covariance, DROP the top ``n_components`` eigenvectors; score =
    squared norm of the centered instance projected onto the remaining
    (invariant) directions — variance off the principal subspace."""
    _, _, r = _collect_matrix(emb, ref_pred, id_col)
    if n_components >= r.shape[1]:
        raise ValueError("n_components must be less than the number of features")
    mean = r.mean(axis=0)
    rc = r - mean
    cov = (rc.T @ rc) / (len(rc) - 1)
    _, v = np.linalg.eigh(cov)  # ascending — invariant dims are the head
    pcs = v[:, : -n_components]
    return score_scan(
        emb, id_col, "pca_score", lambda x, _: np.round((((x - mean) @ pcs) ** 2).sum(axis=1), 6)
    )


def gmm_outlier_scores(
    emb: DataFrame,
    ref_pred,
    n_components: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
) -> DataFrame:
    """GMM outlier score (``alibi_detect/od/_gmm.py:22-231``): seeded EM fit
    on the broadcast reference, score = negative log-likelihood, one corpus
    scan."""
    _, _, r = _collect_matrix(emb, ref_pred, id_col)
    det = GMMOutlier(n_components=n_components, seed=seed).fit(r)
    return score_scan(emb, id_col, "gmm_score", lambda x, _: np.round(det.score(x), 6))


def lof_outlier_scores(
    emb: DataFrame,
    ref_pred,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Local Outlier Factor vs a broadcast reference set
    (``alibi_detect/od/_lof.py:22-213`` semantics: fitted neighbourhood
    statistics on the reference, scores = mean neighbour-lrd / own-lrd).
    Fit is NumPy on the collected reference; scoring is one corpus scan."""
    ref = _ref_set(emb, ref_pred, id_col, "lof_outlier_scores", k)
    ref_ids, r, r2 = ref
    # pairwise within ref (self excluded); distances rounded to 6dp BEFORE
    # neighbour selection, ties broken by ref id — the repo-wide numeric
    # contract that makes the ranking reproducible against the SQL oracle
    nn_idx, nn_d = _knn(r, ref_ids, ref, k)
    kdist = nn_d[:, -1]  # k-distance per ref point
    reach_rr = np.maximum(kdist[nn_idx], nn_d)
    lrd_ref = 1.0 / (reach_rr.mean(axis=1) + 1e-12)

    def score(x, _):
        d = _ref_dists(x, r, r2)
        # NOTE: a scanned point that IS a reference point keeps its 0-dist
        # self pair (fitted-reference semantics of od/_lof.py: the test
        # batch is scored against the fitted set as-is)
        idx = _nn_order(d, ref_ids)[:, :k]
        reach = np.maximum(kdist[idx], d[np.arange(len(x))[:, None], idx])
        lrd_p = 1.0 / (reach.mean(axis=1) + 1e-12)
        return np.round(lrd_ref[idx].mean(axis=1) / lrd_p, 6)

    return score_scan(emb, id_col, "lof_score", score)


def infer_threshold(scores, score_col: str, threshold_perc: float = 95.0):
    """The reference's ``infer_threshold``/``predict`` contract
    (``alibi_detect/base.py`` ThresholdMixin; e.g. ``od/_knn.py:110``,
    ``od/isolationforest.py:100``) as a generic relational wrapper over ANY
    score relation: threshold = type-7 percentile of the scores,
    ``is_outlier = score > threshold``.

    One exact ``percentile(...)`` aggregate, lazy (no driver job at build
    time). Spark's exact percentile buffers every value in one aggregation
    buffer, which fits the reference's own contract: the scores of a fitted
    batch, a bounded relation."""
    p = threshold_perc / 100.0
    # materialize the score relation once (lazy checkpoint — no extra
    # build job): it feeds BOTH the percentile aggregate and the output
    # rows; upstream python/Arrow score stages would otherwise run twice
    scores = scores.localCheckpoint(eager=False)
    thr = scores.agg(
        F.round(F.expr(f"percentile({score_col}, {p})"), 6).alias("threshold")
    )
    return scores.crossJoin(F.broadcast(thr)).withColumn(
        "is_outlier", (F.col(score_col) > F.col("threshold")).cast("int")
    )


def pca_outlier_2feat(
    df, cols: tuple[str, str], id_cols: list[str], top_k: int = 100
):
    """Linear-PCA outlier score over TWO features with a CLOSED-FORM
    eigendecomposition — the oracle-checkable instance of
    ``alibi_detect/od/_pca.py`` semantics (fit = covariance eigenbasis, drop
    the top component, score = squared projection onto the remaining
    invariant direction). For a 2×2 covariance [[a,c],[c,b]] the minor
    eigenvalue is ``λ− = ((a+b) − sqrt((a−b)² + 4c²))/2`` and its direction
    ``(c, λ−−a)``, so the whole detector is whole-stage-codegen column math:
    one partial+final DECIMAL moment aggregate (exact under any order), one
    broadcast join, no UDF. The d-dimensional eigendecomposition variant is
    :func:`pca_outlier_scores`. A zero minor direction (one row, or a
    constant first feature) raises a message naming the rule and the row
    count instead of ANSI's bare ``DIVIDE_BY_ZERO``."""
    x, y = cols
    j = df.crossJoin(F.broadcast(moments_2x2(df, x, y)))
    disc, _ = eig_2x2()
    lam = (F.col("a") + F.col("b") - disc) / F.lit(2.0)
    v1, v2 = F.col("c"), lam - F.col("a")
    dx = F.col(x).cast("double") - F.col("mx")
    dy = F.col(y).cast("double") - F.col("my")
    proj = dx * v1 + dy * v2
    nrm2 = v1 * v1 + v2 * v2
    msg = F.format_string(
        f"pca_outlier_2feat: zero minor direction (c, lambda_min - a) of the 2x2 "
        f"covariance of ({x}, {y}) over %d row(s); the score divides by its norm",
        F.col("n").cast("long"),
    )
    score = F.when(nrm2 == 0, F.raise_error(msg)).otherwise((proj * proj) / nrm2)
    scored = j.select(*id_cols, F.round(score, 6).alias("pca2_score"))
    return ranked_top_k(scored, "pca2_score", id_cols, top_k)


def pca_outlier_dfeat(
    df,
    cols: tuple[str, ...],
    id_col: str = "event_id",
    n_iter: int = 8,
):
    """Linear-PCA outlier score over ANY number of features with a FIXED-
    ITERATION POWER METHOD — the parameterized-d oracle instance of
    ``alibi_detect/od/_pca.py`` semantics (fit = covariance eigenbasis, drop
    the top component, score = residual variance off the principal
    direction). The d-dim eigendecomposition variant stays in
    :func:`pca_outlier_scores` (rows-only).

    Exactness-by-construction: the covariance comes from exact DECIMAL
    moments (order-free under any partitioning), and the power iteration is
    driver-side scalar float math with a FIXED deterministic init (e₁) and a
    FIXED iteration count — no RNG, no quantization needed, because every
    operation (4×4 mat-vec, norm, divide) is an IEEE expression the SQL twin
    mirrors term-for-term from the same exact sums. Fixed ``n_iter`` is part
    of the spec (like the quantized-EM GMM's fixed E/M steps); with d=4 and
    a clear spectral gap, 8 iterations is far past float32 convergence, and
    when the gap is small the operator is still a well-defined deterministic
    scorer in both engines.

    Scale shape: ONE partial+final moment aggregate (d + d(d+1)/2 + 1 exact
    sums), all remaining math on the driver, then one codegen scan with the
    (μ, v) literals in the closure — no joins, no Python stages."""
    d = len(cols)
    dec = [F.col(c).cast("decimal(18,4)") for c in cols]
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for j in range(d):
        aggs.append(F.sum(dec[j]).cast("double").alias(f"s{j}"))
    for j in range(d):
        for k in range(j, d):
            aggs.append(F.sum(dec[j] * dec[k]).cast("double").alias(f"s{j}{k}"))
    g = df.agg(*aggs).collect()[0]
    n = g["n"]
    mu = [g[f"s{j}"] / n for j in range(d)]
    cmat = [[0.0] * d for _ in range(d)]
    for j in range(d):
        for k in range(j, d):
            cjk = g[f"s{j}{k}"] / n - (g[f"s{j}"] / n) * (g[f"s{k}"] / n)
            cmat[j][k] = cmat[k][j] = cjk
    v, _ = power_top(cmat, n_iter)

    xc = [F.col(c).cast("double") - F.lit(m) for c, m in zip(cols, mu)]
    tot = xc[0] * xc[0]
    proj = xc[0] * F.lit(v[0])
    for j in range(1, d):
        tot = tot + xc[j] * xc[j]
        proj = proj + xc[j] * F.lit(v[j])
    return df.select(
        id_col, (F.round(tot - proj * proj, 6) + F.lit(0.0)).alias("pca_resid")
    )


def _emb_quant_moments(emb, vec_col: str, d: int, quant: int):
    """ONE Arrow pass of per-batch partial integer sums of the quantized
    embedding components (Σ xq_j, Σ xq_j·xq_k; d(d+1)/2-row relation per
    batch, int64-safe per batch, exact DECIMAL total) → the (n, μ, Σ) fit
    moments on the driver. The 100 TB shape shared by every emb-width
    closed form (see :func:`pca_outlier_emb` docstring)."""

    def moments_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * float(quant)
            xq = np.where(x >= 0, np.floor(x + 0.5), -np.floor(-x + 0.5)).astype(np.int64)
            # enforce the "int64-safe per batch" claim: |xq| ≤ B with
            # rows·B² < 2⁶³ guarantees the per-batch accumulation cannot
            # wrap (numpy wraps silently); fail loudly instead of corrupting
            # the fit moments
            mx = int(np.abs(xq).max(initial=0))
            if mx and len(xq) * mx * mx >= 2**63:
                raise ValueError(
                    f"emb quantized moments: |component*quant| up to {mx} over "
                    f"{len(xq)} rows/batch can overflow int64 — lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch or quant"
                )
            s1 = xq.sum(axis=0)
            s2 = xq.T @ xq  # [d, d] int64 — asserted safe per Arrow batch
            rows = {"j": [], "k": [], "v": []}
            rows["j"].append(-1); rows["k"].append(-1); rows["v"].append(len(xq))
            for j in range(d):
                rows["j"].append(j); rows["k"].append(-1); rows["v"].append(int(s1[j]))
                for k in range(j, d):
                    rows["j"].append(j); rows["k"].append(k); rows["v"].append(int(s2[j, k]))
            yield pd.DataFrame(rows)

    mom = (
        emb.select(vec_col)
        .mapInPandas(moments_fn, schema="j int, k int, v long")
        .groupBy("j", "k")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).cast("double").alias("s"))
        .collect()
    )
    s = {(int(r["j"]), int(r["k"])): r["s"] for r in mom}
    n = s[(-1, -1)]
    q = float(quant)
    mu = [s[(j, -1)] / (n * q) for j in range(d)]
    cmat = [[0.0] * d for _ in range(d)]
    for j in range(d):
        for k in range(j, d):
            cjk = s[(j, k)] / (n * q * q) - mu[j] * mu[k]
            cmat[j][k] = cmat[k][j] = cjk
    return n, mu, cmat


def _emb_base(emb, id_col: str, vec_col: str):
    """``(__id, v)`` with the embedding components cast to double."""
    return emb.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )


def _lits(xs) -> Column:
    """The fitted parameters ``xs`` as a literal array column."""
    return F.array(*[F.lit(x) for x in xs])


def _fold(arr: Column, term=lambda t: t) -> Column:
    """``Σ term(t)`` over the array ``arr`` as a SEQUENTIAL left fold from
    0.0 (``F.aggregate`` ≡ DuckDB ``list_reduce``) — the one per-row
    reduction of every embedding-width closed form, so both engines walk
    identical IEEE chains."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, t: acc + term(t))


def _centred(vec_col: str, mu) -> Column:
    """``x − μ`` over the raw doubles of ``vec_col``, ``μ`` a literal array."""
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return F.zip_with(xd, _lits(mu), lambda a, b: a - b)


def _dot(a: Column, b: Column) -> Column:
    """``Σ_j a_j·b_j`` as a :func:`_fold` (a centred projection when ``a``
    is :func:`_centred` and ``b`` a literal direction)."""
    return _fold(F.zip_with(a, b, lambda s, t: s * t))


def _index_fold(dim: int, term, *params) -> Column:
    """``Σ_{i=1..dim} term(v_i, p_i, …)`` as a :func:`_fold` over
    ``sequence(1, dim)``: ``v`` is :func:`_emb_base`'s vector column and
    each ``p`` a list of fitted parameters, indexed as a literal array."""
    arrs = [_lits(p) for p in params]
    return _fold(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: term(F.element_at(F.col("v"), i), *[F.element_at(a, i) for a in arrs]),
    )


def _check_dims(counts: dict, dim: int, vec_col: str) -> None:
    """Fail fast on ragged or wrong-width vectors: ``counts[j]`` is the
    number of vectors with a component ``j``, and every vector must have
    exactly ``dim`` components (a short one would otherwise surface as an
    executor-side ARRAY_INDEX_OUT_OF_BOUNDS in the scoring folds)."""
    n = counts.get(0)
    bad = [j for j in sorted(set(counts) | set(range(dim))) if j >= dim or counts.get(j) != n]
    if bad:
        raise ValueError(
            f"{vec_col}: every vector must have dim={dim} components, but component "
            f"index {bad[0]} is present in {counts.get(bad[0], 0)} of {n} vectors"
        )


def _dim_moments(base, vec_col: str, dim: int, quant: int):
    """Per-dimension exact moments of ``base``'s quantized components
    ``xq = round(x·quant)``: one posexplode + ``dim``-group DECIMAL
    aggregate (codegen, map-side partials). Returns ``(mu, var)``, the
    population mean / variance per dimension (no epsilon)."""
    q = float(quant)
    gl = (
        base.select(F.posexplode("v").alias("j", "x"))
        .select("j", F.round(F.col("x") * quant).cast("long").alias("xq"))
        .groupBy("j")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            dec_sum(F.col("xq")).alias("s"),
            dec_sum(F.col("xq") * F.col("xq")).alias("ss"),
        )
        .collect()
    )
    gm = {int(r["j"]): r for r in gl}
    _check_dims({j: int(r["n"]) for j, r in gm.items()}, dim, vec_col)
    n = gm[0]["n"]
    mu = [gm[j]["s"] / (n * q) for j in range(dim)]
    var = [
        gm[j]["ss"] / (n * q * q) - (gm[j]["s"] / (n * q)) * (gm[j]["s"] / (n * q))
        for j in range(dim)
    ]
    return mu, var


def _resp_aggs(xq_cols: list[str]) -> list[Column]:
    """The M-step sums of :func:`_quant_em`: for each rounded responsibility
    column ``k`` in ``q0, q1``, ``r_k = Σ k`` and, per quantized column
    ``c``, ``s_c_k = Σ k·c`` and ``ss_c_k = Σ k·c·c`` — exact DECIMAL sums,
    order-free under any partitioning."""
    aggs = []
    for k in ("q0", "q1"):
        r = F.col(k)
        aggs.append(dec_sum(r).alias(f"r_{k}"))
        for c in xq_cols:
            x = F.col(c)
            aggs += [dec_sum(r * x).alias(f"s_{c}_{k}"), dec_sum(r * x * x).alias(f"ss_{c}_{k}")]
    return aggs


def _quant_em(params, ld, moments, n_iter: int, quant: int, quant_r: int, eps: float) -> Column:
    """The quantized-EM loop of the 2-component diagonal GMM closed forms
    (:func:`gmm_outlier_dfeat`, :func:`gmm_outlier_emb`); returns the
    rounded ``gmm_nll`` column of the fitted mixture.

    ``params`` is the initial ``[(means, variances, weight)] × 2``. The
    caller supplies the two things the oracle pins per operator:
    ``ld(p)``, the per-row ``log(w·N(x; μ, σ²))`` column in its own
    association, and ``moments(q0, q1)``, its per-iteration aggregate of
    :func:`_resp_aggs` over the responsibility columns ``q0``/``q1``
    (quantized inputs at scale ``quant``), returned as one ``(row, c)``
    cell per dimension.

    Each iteration's E-step rounds the component-0 responsibility to a
    ``quant_r`` integer (identical rounding in DuckDB), so every M-step
    moment is an exact integer sum divided once and both engines derive
    bit-identical means / variances / weights. A component whose rounded
    responsibilities sum to 0 has no M-step (its parameters would go NaN
    in every score, the oracle's identically) and raises ``ValueError``."""
    q = float(quant)
    for _ in range(n_iter):
        q0 = F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(ld(params[1]) - ld(params[0]))) * quant_r
        ).cast("long")
        cells = moments(q0, F.lit(quant_r) - F.col("q0"))
        rs = [cells[0][0][f"r_{k}"] for k in ("q0", "q1")]
        if 0 in rs:
            raise ValueError(
                "GMM EM degenerate: component responsibility sum is 0 at component "
                f"{rs.index(0)}; use fewer components or rescale"
            )
        new = []
        for k, r in zip(("q0", "q1"), rs):
            s = [row[f"s_{c}_{k}"] for row, c in cells]
            ss = [row[f"ss_{c}_{k}"] for row, c in cells]
            means = [sj / (r * q) for sj in s]
            vs = [
                ssj / (r * q * q) - (sj / (r * q)) * (sj / (r * q)) + eps
                for sj, ssj in zip(s, ss)
            ]
            new.append((means, vs, r / (rs[0] + rs[1])))
        params = new

    ld0, ld1 = ld(params[0]), ld(params[1])
    mx = F.greatest(ld0, ld1)
    nll = -(mx + F.log(F.exp(ld0 - mx) + F.exp(ld1 - mx)))
    return (F.round(nll, 6) + F.lit(0.0)).alias("gmm_nll")


def pca_outlier_emb(
    emb,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_iter: int = 8,
    quant: int = 1_000_000,
):
    """:func:`pca_outlier_dfeat` at the reference's REAL embedding width —
    rank-1 principal direction over a d-dim ``array<float>`` column via the
    fixed-iteration power method, fully oracle-checkable at d = 64: the
    ``n_comp = 1`` case of :func:`pca_outlier_sub_emb`, score
    ``Σ (x_j − μ_j)² − (Σ (x_j − μ_j)·v_j)²`` as ``pca_resid``.

    Moments come from ONE Arrow pass emitting per-batch partial integer
    sums of the quantized components (``Σ xq_j``, ``Σ xq_j·xq_k`` — a
    d(d+1)/2-row relation per batch, int64-safe per batch, exact DECIMAL
    total): the 100 TB shape, constant driver state, no d²-per-row blow-up.
    The SQL twin derives the SAME integers from a posexplode pair join —
    value-identical because integer sums are order-free. The power
    iteration is driver-side scalar math with sequential left-fold
    associations; scoring uses :func:`_fold` (a sequential fold, exactly
    DuckDB's ``list_reduce`` order) so the per-row reductions are
    bit-identical too."""
    return pca_outlier_sub_emb(emb, id_col, vec_col, dim, 1, n_iter, quant).withColumnRenamed(
        "pca_sub_resid", "pca_resid"
    )


def gmm_outlier_emb(
    emb,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_iter: int = 2,
    quant_x: int = 1_000_000,
    quant_r: int = 1000,
    eps: float = 1e-9,
):
    """:func:`gmm_outlier_dfeat` at the reference's REAL embedding width —
    2-component diagonal quantized-EM GMM over a d-dim ``array<float>``
    column, fully oracle-checkable at d = 64 (the seeded-EM variant over the
    same table is :func:`gmm_outlier_scores`, rows-only).

    The same :func:`_quant_em` loop as the feature-tuple twin, with the
    per-row log-densities as SEQUENTIAL index folds (:func:`_index_fold` ≡
    DuckDB ``list_reduce``) and components quantized at ``quant_x``.
    Init: component means at the two extreme rows of the FIRST component
    (ties by id), shared per-dim population variance, equal weights.

    Per iteration: the responsibility ``q0`` is a projection of each
    vector BELOW its posexplode (the two ``ld`` folds run once per vector,
    not once per component), then one ``dim``-group aggregate (codegen,
    map-side partials — no corpus joins); the scoring plan is one scan of
    fold expressions with the (μ, σ², w) literal arrays in the closure."""
    base = _emb_base(emb, id_col, vec_col)
    pop_var = [v + eps for v in _dim_moments(base, vec_col, dim, quant_x)[1]]
    # init probes in ONE job: min/max over the (first-component, id, v) struct
    # is the lexicographic order the former two orderBy().limit(1).collect()
    # jobs used (ties impossible — id unique), so the selected rows are
    # identical and one full-scan job disappears
    probe = F.struct(
        F.element_at(F.col("v"), 1).alias("k0"), F.col("__id").alias("k1"),
        F.col("v").alias("v"),
    )
    pm = base.agg(F.min(probe).alias("p_lo"), F.max(probe).alias("p_hi")).collect()[0]
    params = [
        ([float(x) for x in pm["p_lo"]["v"]], list(pop_var), 0.5),
        ([float(x) for x in pm["p_hi"]["v"]], list(pop_var), 0.5),
    ]

    def ld(p):
        means, vs, wgt = p
        fold = _index_fold(
            dim,
            lambda x, m, v: F.lit(-0.5) * F.log(F.lit(2 * math.pi) * v)
            - (x - m) * (x - m) / (F.lit(2.0) * v),
            means,
            vs,
        )
        return fold + F.lit(math.log(wgt))

    def moments(q0, q1):
        e = base.select("v", q0.alias("q0")).select("q0", F.posexplode("v").alias("j", "x"))
        xq = F.round(F.col("x") * quant_x).cast("long").alias("xq")
        rows = (
            e.select("j", "q0", q1.alias("q1"), xq)
            .groupBy("j")
            .agg(*_resp_aggs(["xq"]))
            .collect()
        )
        mm = {int(r["j"]): r for r in rows}
        return [(mm[j], "xq") for j in range(dim)]

    nll = _quant_em(params, ld, moments, n_iter, quant_x, quant_r, eps)
    return base.select(F.col("__id").alias(id_col), nll)


def ocsvm_emb(
    emb,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_landmarks: int = 8,
    var_eps: float = 1e-9,
    quant: int = 1_000_000,
):
    """:func:`ocsvm_mean_2feat` at the reference's REAL embedding width —
    the kernel-mean (ν→1) one-class-SVM decision function over a d-dim
    ``array<float>`` column, fully oracle-checkable at d = 64. Score =
    ``−(1/m)·Σᵢ k(x, lᵢ)`` with md5-priority landmark rows and bandwidth
    ``σ² = Σ_d var_d`` from exact quantized moments; the per-landmark
    squared distances are SEQUENTIAL index folds (``F.aggregate`` ≡ DuckDB
    ``list_reduce``), the landmark sum an explicit left-associated chain —
    both engines walk identical IEEE expressions."""
    base = _emb_base(emb, id_col, vec_col)
    s2 = 0.0
    for v in _dim_moments(base, vec_col, dim, quant)[1]:
        s2 = s2 + v
    s2 = s2 + var_eps

    pr = F.md5(F.concat(F.lit("ocsvm:"), F.col("__id").cast("string")))
    lrows = (
        base.withColumn("pr", pr).orderBy("pr", "__id").limit(n_landmarks).collect()
    )
    lands = [[float(x) for x in r["v"]] for r in lrows]

    def d2_to(landmark):
        return _index_fold(dim, lambda x, a: (x - a) * (x - a), landmark)

    ks = F.exp(-d2_to(lands[0]) / F.lit(2.0 * s2))
    for landmark in lands[1:]:
        ks = ks + F.exp(-d2_to(landmark) / F.lit(2.0 * s2))
    score = F.lit(0.0) - ks / F.lit(float(n_landmarks))
    return base.select(
        F.col("__id").alias(id_col),
        (F.round(score, 6) + F.lit(0.0)).alias("ocsvm_score"),
    )


def iforest_emb(
    emb,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_trees: int = 4,
    depth: int = 8,
):
    """:func:`iforest_hash_2feat` at the reference's REAL embedding width —
    deterministic md5 global-range cut trees over a d-dim ``array<float>``
    column, fully oracle-checkable at d = 64 (seeded-sklearn semantics stay
    in :func:`iforest_outlier_scores`, rows-only). Each level's (dimension,
    threshold fraction) comes from ``md5('ife:t:l')``; thresholds are
    ``lo_d + frac·(hi_d − lo_d)`` over the per-dimension GLOBAL range
    (driver-computed from exact min/max aggregates — the SQL twin derives
    the identical doubles in-engine), so every tree is a bit-string column
    and the isolation depth comes from prefix counts over the ≤2^depth-row
    leaf relation, exactly the 2-feature operator's plan shape.

    The literal leaf maps hold up to ``n_trees · 2^depth`` entries, bounded
    by ``2^16`` (:data:`.closed_form.IFOREST_MAX_LEAVES`): larger forests
    raise ``ValueError`` before any Spark job runs."""
    check_iforest_size(n_trees, depth)
    base = _emb_base(emb, id_col, vec_col)
    rg = (
        base.select(F.posexplode("v").alias("j", "x"))
        .groupBy("j")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    rgm = {int(r["j"]): r for r in rg}
    _check_dims({j: r["c"] for j, r in rgm.items()}, dim, vec_col)
    nn = float(rgm[0]["c"])

    def cut(h, frac):
        lo, hi = rgm[h % dim]["mn"], rgm[h % dim]["mx"]
        return F.element_at(F.col("v"), h % dim + 1) <= F.lit(lo + frac * (hi - lo))

    c_n = 1.0 if nn == 2.0 else 2.0 * (math.log(nn - 1.0) + GAMMA) - 2.0 * (nn - 1.0) / nn
    j, score = iforest_score(base, "ife", n_trees, depth, cut, F.lit(c_n))
    return j.select(
        F.col("__id").alias(id_col),
        (F.round(score, 6) + F.lit(0.0)).alias("if_score"),
    )


def mahalanobis_emb(
    emb,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    var_eps: float = 1e-9,
    quant: int = 1_000_000,
):
    """Mahalanobis outlier score at the REAL embedding width, DIAGONAL-
    covariance instance (standardized Euclidean) — the d=64 oracle sibling
    of :func:`..operators.drift.mahalanobis_scores` (which carries the full
    2×2 closed-form inverse at d=2). A full 64×64 covariance inverse has no
    mirrored closed form, so this instance scores against the per-dimension
    variances: ``score = Σ_j (x_j − μ_j)²/(var_j + ε)``, with μ/var from
    exact quantized moments and the per-row reduction a SEQUENTIAL index
    fold (``F.aggregate`` ≡ ``list_reduce``)."""
    base = _emb_base(emb, id_col, vec_col)
    mu, var = _dim_moments(base, vec_col, dim, quant)
    score = _index_fold(
        dim, lambda x, m, v: (x - m) * (x - m) / v, mu, [v + var_eps for v in var]
    )
    return base.select(
        F.col("__id").alias(id_col),
        (F.round(score, 6) + F.lit(0.0)).alias("maha_score"),
    )


def vae_outlier_2feat(
    df, cols: tuple[str, str], id_col: str, top_k: int = 100, eps: float = 1e-9
):
    """OutlierVAE analog (``alibi_detect/od/vae.py:16-299``) over TWO features
    with a CLOSED-FORM probabilistic-PCA fit — the hash-checkable instance of
    VAE reconstruction scoring. A *linear* VAE's global optimum recovers
    probabilistic PCA (Lucas et al. 2019, "Don't Blame the ELBO"): with k=1
    latent and d=2 the ML solution is fully closed form (Tipping & Bishop
    1999): ``σ² = λ₋`` (the discarded eigenvalue), ``W = v̂₊·sqrt(λ₊ − σ²)``,
    posterior ``q(z|x) = N(Wᵀ(x−μ)/M, σ²/M)`` with ``M = WᵀW + σ²``.

    The reference scores by Monte-Carlo averaging squared reconstruction
    error over latent samples (``od/vae.py:237-245``); the analog computes
    that average's EXACT expectation analytically:
    ``E[(x_f − μ_f − W_f z)²] = (x_f − μ_f − W_f m_z)² + W_f²·σ²/M``
    per feature, instance score = feature mean (``outlier_perc=100``).
    Deterministic → no RNG to reconcile, and every term is mirrored in the
    DuckDB oracle.

    Plan: one partial+final DECIMAL moment aggregate, broadcast of the 1-row
    parameter relation, codegen column math, ``TakeOrderedAndProject`` top-k
    (same shape as :func:`pca_outlier_2feat`)."""
    x, y = cols
    j = df.crossJoin(F.broadcast(ppca_par(df, x, y, eps)))
    dx = F.col(x).cast("double") - F.col("mx")
    dy = F.col(y).cast("double") - F.col("my")
    mz = (F.col("w1") * dx + F.col("w2") * dy) / F.col("m_cap")
    pv = F.col("sig2") / F.col("m_cap")
    e1 = (dx - F.col("w1") * mz) * (dx - F.col("w1") * mz) + F.col("w1") * F.col("w1") * pv
    e2 = (dy - F.col("w2") * mz) * (dy - F.col("w2") * mz) + F.col("w2") * F.col("w2") * pv
    score = (e1 + e2) / F.lit(2.0)
    scored = j.select(id_col, (F.round(score, 6) + F.lit(0.0)).alias("vae_score"))
    return ranked_top_k(scored, "vae_score", [id_col], top_k)


def ae_outlier_scores(
    emb: DataFrame,
    ref_pred,
    n_components: int = 4,
    outlier_perc: float = 100.0,
    id_col: str = "vec_id",
) -> DataFrame:
    """OutlierAE analog (``alibi_detect/od/ae.py:14-260``): reconstruction-
    error outlier scoring with FEATURE-LEVEL scores and the ``outlier_perc``
    instance aggregation (``od/ae.py:181-208``: feature score =
    ``(x − recon)²`` per dimension, instance score = mean of the top
    ``outlier_perc``% feature errors).

    The TF-trained encoder/decoder is out of this environment; the
    encoder/decoder here is the CLOSED-FORM optimum of a *linear* AE — the
    rank-k PCA projection (Baldi & Hornik 1989: a linear autoencoder's loss
    minimum spans the top principal subspace): ``recon = mean +
    P P'(x − mean)`` with ``P`` = top ``n_components`` eigenvectors of the
    reference covariance. At ``outlier_perc=100`` the instance score equals
    the off-subspace residual (== :func:`pca_outlier_scores` up to the 1/d
    mean — asserted in tests); lower percentiles reproduce the reference's
    top-feature-error aggregation that a plain PCA score cannot express.
    Fit on the broadcast reference, one ``mapInPandas`` corpus scan."""
    _, _, r = _collect_matrix(emb, ref_pred, id_col)
    d = r.shape[1]
    if n_components >= d:
        raise ValueError("n_components must be less than the number of features")
    mean = r.mean(axis=0)
    rc = r - mean
    cov = (rc.T @ rc) / (len(rc) - 1)
    _, v = np.linalg.eigh(cov)  # ascending — principal dirs are the tail
    pcs = v[:, -n_components:]
    k_top = max(1, int(np.ceil(d * outlier_perc / 100.0)))

    def score(x, _):
        xc = x - mean
        ferr = (xc - (xc @ pcs) @ pcs.T) ** 2  # feature-level scores, od/ae.py:181
        return np.round(np.sort(ferr, axis=1)[:, -k_top:].mean(axis=1), 6)

    return score_scan(emb, id_col, "ae_score", score)


def gmm_outlier_dfeat(
    df,
    cols: tuple[str, ...],
    id_col: str = "event_id",
    n_iter: int = 2,
    quant: int = 1000,
    eps: float = 1e-9,
    materialize: bool = False,
):
    """GMM outlier score over ANY number of features with a QUANTIZED-EM fit
    — the parameterized-d generalization of the 2-feature oracle instance of
    ``alibi_detect/od/_gmm.py:22-231`` (diagonal 2-component mixture, fixed
    ``n_iter``; the reference's torch EM is ``od/pytorch/gmm.py``). The
    seeded-EM full-covariance variant stays in :func:`gmm_outlier_scores`
    (rows-only).

    Exactness-by-construction (the EM analog of ``ann.kmeans_cells``'s
    quantized Lloyd) is :func:`_quant_em`'s: responsibilities ROUNDED to
    ``quant`` integers, exact DECIMAL(38,0) M-step sums divided once, so
    both engines derive bit-identical means/variances/weights at every
    iteration and the final NLL is a deterministic closed-form column of
    the data. This operator's log-density is a left-associated chain over
    the feature columns. Init is deterministic: component means at the
    extreme rows of the first feature (ties by id), shared per-dim
    population variance (exact decimal moments), equal weights.

    Scale shape: per iteration one corpus scan + one tiny aggregate (the
    2-component moment row, 2·(2d+1) numbers regardless of corpus size),
    params travel by closure — no corpus joins, no full-value buffering.
    :func:`gmm_outlier_2feat` is this operator under its two-feature name."""
    q = float(quant)
    names = [f"x{i}" for i in range(len(cols))]
    sel = [F.col(id_col)]
    for c, nm in zip(cols, names):
        sel.append(F.col(c).cast("double").alias(nm))
        sel.append(F.round(F.col(c).cast("double") * quant).cast("long").alias(f"{nm}q"))
    base = df.select(*sel)
    if materialize:
        # each EM iteration is an action over `base`; when the input is an
        # expensive derived relation (the AEGMM feature map re-derives the
        # eigenbasis per scan), cut the lineage once up front
        base = base.localCheckpoint()

    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for nm in names:
        aggs += [
            dec_sum(F.col(f"{nm}q")).alias(f"s_{nm}"),
            dec_sum(F.col(f"{nm}q") * F.col(f"{nm}q")).alias(f"ss_{nm}"),
        ]
    # init probes in the SAME job as the moment aggregate: min/max over the
    # (first-feature, id, features…) struct is the lexicographic order the
    # former two orderBy().limit(1).collect() jobs used (ties impossible —
    # id is unique), so the selected rows are identical and two full-scan
    # jobs disappear (3 collect jobs → 1)
    probe = F.struct(
        F.col(names[0]).alias("k0"), F.col(id_col).alias("k1"),
        *[F.col(nm).alias(nm) for nm in names],
    )
    aggs += [F.min(probe).alias("p_lo"), F.max(probe).alias("p_hi")]
    gl = base.agg(*aggs).collect()[0]
    n = gl["n"]
    pop_var = [
        gl[f"ss_{nm}"] / (n * q * q) - (gl[f"s_{nm}"] / (n * q)) * (gl[f"s_{nm}"] / (n * q)) + eps
        for nm in names
    ]
    p_lo, p_hi = gl["p_lo"], gl["p_hi"]
    # params[k] = (means[d], variances[d], weight)
    params = [
        ([float(p_lo[nm]) for nm in names], list(pop_var), 0.5),
        ([float(p_hi[nm]) for nm in names], list(pop_var), 0.5),
    ]

    def ld(p):
        means, vs, w = p
        # association mirrors the SQL twin term-for-term:
        # ((((-0.5·ln(2πv₀)) − t₀) − 0.5·ln(2πv₁)) − t₁) … + ln(w)
        expr = F.lit(-0.5 * math.log(2 * math.pi * vs[0]))
        expr = expr - (F.col(names[0]) - F.lit(means[0])) * (F.col(names[0]) - F.lit(means[0])) / F.lit(2 * vs[0])
        for nm, m, vv in zip(names[1:], means[1:], vs[1:]):
            expr = expr + F.lit(-0.5 * math.log(2 * math.pi * vv))
            expr = expr - (F.col(nm) - F.lit(m)) * (F.col(nm) - F.lit(m)) / F.lit(2 * vv)
        return expr + F.lit(math.log(w))

    def moments(q0, q1):
        xq_cols = [f"{nm}q" for nm in names]
        row = base.withColumn("q0", q0).withColumn("q1", q1).agg(*_resp_aggs(xq_cols)).collect()[0]
        return [(row, c) for c in xq_cols]

    return base.select(id_col, _quant_em(params, ld, moments, n_iter, quant, quant, eps))


# the two-feature instance: the named entry point of the AEGMM/VAEGMM
# feature-map pipelines and the ``gmm_outlier_2c`` oracle query
gmm_outlier_2feat = gmm_outlier_dfeat


def ae_outlier_2feat(
    df,
    cols: tuple[str, str],
    id_col: str,
    outlier_perc: float = 50.0,
    top_k: int = 100,
):
    """OutlierAE over TWO features in CLOSED FORM — the hash-checkable
    instance of ``alibi_detect/od/ae.py:14-260`` (the d-dimensional rank-k
    variant is :func:`ae_outlier_scores`, rows-only). Encoder/decoder =
    rank-1 PCA reconstruction (linear-AE optimum); feature-level scores
    ``(x_f − recon_f)²`` (``od/ae.py:181``) and the ``outlier_perc``
    instance aggregation (``od/ae.py:208``): with d=2, ``perc<=50`` keeps
    the single worst feature error (``greatest``), ``perc>50`` averages
    both. Returns the top-k ``(id, ae2_score, rank)``."""
    x, y = cols
    j = df.crossJoin(F.broadcast(recon_par(df, x, y)))
    dx = F.col(x).cast("double") - F.col("mx")
    dy = F.col(y).cast("double") - F.col("my")
    proj = dx * F.col("w1") + dy * F.col("w2")
    ev = dx - proj * F.col("w1") / F.col("nrm2")
    eu = dy - proj * F.col("w2") / F.col("nrm2")
    fv = ev * ev
    fu = eu * eu
    score = F.greatest(fv, fu) if outlier_perc <= 50.0 else (fv + fu) / F.lit(2.0)
    scored = j.select(id_col, (F.round(score, 6) + F.lit(0.0)).alias("ae2_score"))
    return ranked_top_k(scored, "ae2_score", [id_col], top_k)


def kpca_outlier_2land(
    df,
    cols: tuple[str, str],
    id_col: str,
    top_k: int = 100,
    var_eps: float = 1e-9,
):
    """Kernel-PCA outlier score with a 2-landmark Nyström feature map — the
    hash-checkable instance of ``alibi_detect/od/_pca.py`` kernel variant
    (``od/pytorch/pca.py:173-268``; the d-dim seeded variant is
    :func:`kernel_pca_outlier_scores`, rows-only). The reference fits PCA in
    a kernel feature space; here the feature space is the 2-landmark Nyström
    approximation ``φ(x) = [k(x, l₁), k(x, l₂)]`` with deterministic
    md5-priority landmarks and a data-derived bandwidth ``σ² = Σ_d var_d``,
    and the PCA-off-manifold score is :func:`pca_outlier_2feat`'s closed-form
    2×2 eigendecomposition applied to φ — exact DECIMAL moments, broadcast
    parameter relations, ``TakeOrderedAndProject`` top-k, no UDF."""
    j, kern = landmark_kernels(df, cols, id_col, "kpca:", 2, var_eps)
    feats = j.select(id_col, kern(1).alias("f1"), kern(2).alias("f2"))
    return pca_outlier_2feat(feats, ("f1", "f2"), [id_col], top_k).withColumnRenamed(
        "pca2_score", "kpca2_score"
    )


def ocsvm_mean_2feat(
    df,
    cols: tuple[str, str],
    id_col: str,
    n_landmarks: int = 8,
    top_k: int = 100,
    var_eps: float = 1e-9,
):
    """One-class-SVM analog in CLOSED FORM — the hash-checkable instance of
    ``alibi_detect/od/_svm.py:27-250`` (the Nyström + gradient-trained
    variant is :func:`svm_outlier_scores`, rows-only). The reference scores
    by the decision function ``w·φ(x) − ρ``; in the ν→1 limit every support
    vector carries equal weight, so ``w`` is the kernel mean embedding of
    the (landmark) sample and the score reduces to
    ``−(1/m)·Σᵢ k(x, lᵢ)`` — no QP, no iteration. Landmarks are
    deterministic md5-priority rows, bandwidth ``σ² = Σ_d var_d`` (exact
    DECIMAL moments). Outliers (far from all landmarks) score near the
    0 maximum; inliers go negative. Top-k by score (desc, ties by id).

    Plan: a ``TakeOrdered`` 8-row landmark relation + 1-row bandwidth
    relation broadcast onto the stream, codegen kernel sum,
    ``TakeOrderedAndProject`` top-k — no UDF, no collect."""
    j, kern = landmark_kernels(df, cols, id_col, "ocsvm:", n_landmarks, var_eps)
    total = kern(1)
    for i in range(2, n_landmarks + 1):
        total = total + kern(i)
    score = -(total / F.lit(float(n_landmarks)))
    scored = j.select(id_col, (F.round(score, 6) + F.lit(0.0)).alias("ocsvm_score"))
    return ranked_top_k(scored, "ocsvm_score", [id_col], top_k)


def iforest_hash_2feat(
    df,
    cols: tuple[str, str],
    id_col: str,
    n_trees: int = 2,
    depth: int = 6,
    top_k: int = 100,
):
    """Isolation-forest scoring in CLOSED FORM — the hash-checkable instance
    of ``alibi_detect/od/isolationforest.py:10-147`` (the sklearn-faithful
    seeded variant is :func:`iforest_outlier_scores`, rows-only). Keeps the
    isolation mechanism intact — random cuts, per-instance isolation depth,
    the ``c(n)`` average-path normalization and the ``2^(−E[h]/c(n))``
    score — with the two randomized choices pinned deterministic:

    - each tree level's (feature, threshold) comes from ``md5('ift:t:l')``
      — thresholds uniform over the GLOBAL feature range (a fixed-structure
      random-cut tree: every instance's path is the same comparison
      sequence, so the tree becomes a bit-string column);
    - ``h(x)`` = the first level at which x's prefix cell contains exactly
      one instance, else ``depth + c(leaf_size)`` (sklearn's
      ``_average_path_length`` adjustment, ``c(2)=1``,
      ``c(s)=2(ln(s−1)+γ)−2(s−1)/s``).

    Plan shape at scale: one codegen pass builds the leaf bit-string per
    tree, one grouping-sets job counts the leaves of every tree (≤ 2^depth
    rows per tree), prefix counts are sums OVER THE LEAF RELATION (never
    the data), and the (leaf → h) map returns as a literal lookup — the
    corpus is scanned once for the leaf counts plus once for scoring, with
    no wide shuffle (see :func:`.closed_form.iforest_score`).

    The literal leaf maps hold up to ``n_trees · 2^depth`` entries, bounded
    by ``2^16`` (:data:`.closed_form.IFOREST_MAX_LEAVES`): larger forests
    raise ``ValueError`` before any Spark job runs."""
    check_iforest_size(n_trees, depth)
    x, y = cols
    base = df.select(
        F.col(id_col),
        F.col(x).cast("double").alias("v"),
        F.col(y).cast("double").alias("u"),
    )
    rng = base.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.min("u").alias("umin"),
        F.max("u").alias("umax"),
    )

    def cut(h, frac):
        c0, lo, hi = ("v", "vmin", "vmax") if h % 2 == 0 else ("u", "umin", "umax")
        return F.col(c0) <= F.col(lo) + F.lit(frac) * (F.col(hi) - F.col(lo))

    j, score = iforest_score(
        base.crossJoin(F.broadcast(rng)), "ift", n_trees, depth, cut, c_of(F.col("nn"))
    )
    scored = j.select(id_col, (F.round(score, 6) + F.lit(0.0)).alias("if_score"))
    return ranked_top_k(scored, "if_score", [id_col], top_k)


def aegmm_features(
    df,
    cols: tuple[str, str],
    id_col: str,
    variational: bool = False,
    max_eucl: float = 100.0,
    eps: float = 1e-9,
):
    """The AEGMM/VAEGMM feature map (``alibi_detect/od/aegmm.py:157-174``,
    ``od/vaegmm.py``; network ``models/tensorflow/autoencoder.py:328-355``):
    ``z = [encoder latent, recon features]`` where the recon features are the
    relative Euclidean distance ``‖x − x̂‖ / (min(‖x‖, ‖x̂‖) + 1e-12)``
    clipped to ``[0, max_eucl]`` (``eucl_cosim_features``). The encoder /
    decoder pair is the linear-AE closed form over two features:

    - ``variational=False`` (AEGMM): latent = unit-normalized projection on
      the major principal direction, recon = rank-1 PCA reconstruction;
    - ``variational=True`` (VAEGMM): latent = the pPCA posterior mean
      ``Wᵀ(x−μ)/M`` (see :func:`vae_outlier_2feat`), recon = ``μ + W·m_z``.

    Returns ``(id, zl, zr)`` — feed to :func:`gmm_outlier_2feat` for the
    ``gmm_energy`` scoring stage (``od/aegmm.py:172-174``). Everything is
    broadcast-join column math mirrored in the DuckDB oracle."""
    x, y = cols
    base = df.select(
        F.col(id_col),
        F.col(x).cast("double").alias("x0"),
        F.col(y).cast("double").alias("y0"),
    )
    if variational:
        j = base.crossJoin(F.broadcast(ppca_par(base, "x0", "y0", eps)))
        zl = (F.col("w1") * (F.col("x0") - F.col("mx")) + F.col("w2") * (F.col("y0") - F.col("my"))) / F.col("m_cap")
        f1 = j.select(
            id_col,
            "x0",
            "y0",
            zl.alias("zl"),
            (F.col("mx") + F.col("w1") * zl).alias("rv"),
            (F.col("my") + F.col("w2") * zl).alias("ru"),
        )
    else:
        j = base.crossJoin(F.broadcast(recon_par(base, "x0", "y0")))
        proj = (F.col("x0") - F.col("mx")) * F.col("w1") + (F.col("y0") - F.col("my")) * F.col("w2")
        f1 = j.select(
            id_col,
            "x0",
            "y0",
            (proj / F.sqrt(F.col("nrm2"))).alias("zl"),
            (F.col("mx") + proj * F.col("w1") / F.col("nrm2")).alias("rv"),
            (F.col("my") + proj * F.col("w2") / F.col("nrm2")).alias("ru"),
        )
    rec_euc = F.least(
        F.sqrt(
            (F.col("x0") - F.col("rv")) * (F.col("x0") - F.col("rv"))
            + (F.col("y0") - F.col("ru")) * (F.col("y0") - F.col("ru"))
        )
        / (
            F.least(
                F.sqrt(F.col("x0") * F.col("x0") + F.col("y0") * F.col("y0")),
                F.sqrt(F.col("rv") * F.col("rv") + F.col("ru") * F.col("ru")),
            )
            + F.lit(1e-12)
        ),
        F.lit(max_eucl),
    )
    return f1.select(id_col, "zl", rec_euc.alias("zr"))


def iforest_outlier_scores(
    emb: DataFrame,
    ref_pred,
    n_trees: int = 100,
    max_samples: int = 256,
    seed: int = 42,
    id_col: str = "vec_id",
) -> DataFrame:
    """Isolation-forest outlier score
    (``alibi_detect/od/isolationforest.py:8-147`` semantics: fit on the
    reference, score = anomaly score, higher = more anomalous; the detector's
    ``infer_threshold`` percentile + ``is_outlier`` comparison are the
    caller's two cheap column ops on this output). Seeded NumPy forest fitted
    on the broadcast reference (sklearn-free — see
    :mod:`..functions.iforest`), scored in one ``mapInPandas`` corpus scan —
    the same no-corpus-shuffle shape as every other outlier scan here."""
    _, _, r = _collect_matrix(emb, ref_pred, id_col)
    det = IsolationForest.fit(r, n_trees=n_trees, max_samples=max_samples, seed=seed)
    return score_scan(emb, id_col, "iforest_score", lambda x, _: np.round(det.score(x), 6))


def svm_outlier_scores(
    emb: DataFrame,
    ref_pred,
    nu: float = 0.1,
    n_components: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
) -> DataFrame:
    """One-class SVM outlier score (``alibi_detect/od/_svm.py:27-250``
    semantics: fit on the reference, score = distance inside the margin,
    higher = more anomalous). Seeded NumPy Nyström + primal GD fit on the
    broadcast reference (:mod:`..functions.svm`), one ``mapInPandas`` corpus
    scan — a [batch × m] kernel block per Arrow batch, no corpus shuffle."""
    _, _, r = _collect_matrix(emb, ref_pred, id_col)
    det = OneClassSVM.fit(r, nu=nu, n_components=n_components, seed=seed)
    return score_scan(emb, id_col, "svm_score", lambda x, _: np.round(det.score(x), 6))


def kernel_pca_outlier_scores(
    emb: DataFrame,
    ref_pred,
    n_components: int = 4,
    sigma: float | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Kernel-PCA outlier score (``alibi_detect/od/pytorch/pca.py:173-268``,
    ``KernelPCATorch``): centered RBF kernel matrix on the reference,
    principal components normalized by 1/√eigenvalue, score =
    ``−2·mean(k_xr) − ‖projection‖²`` (unlike the linear case, the TOP
    components are kept). Fit on the broadcast reference, one corpus scan."""
    _, _, r = _collect_matrix(emb, ref_pred, id_col)
    n = r.shape[0]
    if n_components >= n:
        raise ValueError("n_components must be less than the number of reference instances")
    if sigma is None:
        d2 = squared_pairwise_distance(r, r)
        sigma = median_heuristic_sigma(r, r, d2)
        if not np.isfinite(sigma) or sigma <= 0:
            sigma = 1.0
    k = rbf_kernel(r, r, sigma)
    k_col_sums = k.sum(axis=0)
    k_row_sums = k.sum(axis=1)
    k_sum = k_row_sums.sum()
    k_cen = k - k_col_sums[None, :] / n - k_row_sums[:, None] / n + k_sum / (n * n)
    d_eig, v = np.linalg.eigh(k_cen)
    # guard tiny/negative eigenvalues before the 1/sqrt normalization
    d_eig = np.maximum(d_eig, 1e-12)
    pcs = (v / np.sqrt(d_eig)[None, :])[:, -n_components:]

    def score(x, _):
        k_xr = rbf_kernel(x, r, sigma)
        row_sums = k_xr.sum(axis=1)
        m = k_xr.shape[1]
        # Batch-independent centering: every term is normalized by the
        # REFERENCE size m, never the Arrow batch size, so scores are
        # invariant to partitioning/batch boundaries. (The reference's
        # od/pytorch/pca.py:239-243 divides the row term by the test batch
        # size; in exact arithmetic that term cancels against the
        # projection — top eigenvectors of the centered kernel are
        # orthogonal to 1 — so this deviation only removes the ulp-level
        # batch sensitivity, it does not change the scores.)
        k_xr_cen = k_xr - k_col_sums[None, :] / m - row_sums[:, None] / m + k_sum / (m * m)
        proj = k_xr_cen @ pcs
        return np.round(-2.0 * k_xr.mean(axis=-1) - (proj**2).sum(axis=1), 6)

    return score_scan(emb, id_col, "kpca_score", score)


def mahalanobis_cat_scores(
    df: DataFrame,
    cat_col: str,
    value_col: str,
    id_col: str = "event_id",
    n_iter: int = 16,
    d_type: str = "abdm",
    w: float = 0.5,
    max_categories: int = 1000,
):
    """Mahalanobis outlier scoring over MIXED categorical + numerical features
    — the ``cat_vars`` path of the legacy detector
    (``alibi_detect/od/mahalanobis.py:23,64,82-108`` + ``fit :110-190``):

    1. quartile-bin the numerical feature (``utils/discretizer.py``,
       percentiles [25, 50, 75], searchsorted over the deduped borders);
    2. ABDM pairwise category distances from the binned-context contingency
       (``utils/distance.py:125-198``);
    3. multidimensional scaling to one scalar per category + standardization
       (``utils/distance.py:230-279`` — classical-MDS power-method analog,
       see :mod:`..functions.abdm`);
    4. ``cat2num`` the rows and score with the closed-form 2-feature
       population Mahalanobis (same exact-DECIMAL template as
       ``drift.mahalanobis_scores``).

    ``d_type`` covers the reference's full surface (``od/mahalanobis.py:
    104-108,150-184``): ``'abdm'`` (context KL), ``'mvdm'`` (conditional
    label L1 — the declared label surrogate is the quartile bin), and
    ``'abdm-mvdm'`` (the ``w``-weighted combination of the two standardized
    MDS embeddings, re-centered).

    Scale shape: the contingency is ONE distributed groupBy over the full
    table (map-side partial counts, k rows out); percentile borders are one
    exact-percentile aggregate; everything category-sized (k×4 contingency,
    k×k ABDM, the MDS chain) is driver scalar math mirrored term-for-term by
    the SQL twin; scoring is one moment aggregate + one codegen scan with the
    k category literals in a CASE chain. Nothing unbounded ever reaches the
    driver and the corpus never shuffles."""
    if d_type not in ("abdm", "mvdm", "abdm-mvdm"):
        raise ValueError(f"unsupported d_type: {d_type!r}")

    # 1. micro-unit integer quartile borders (identical doubles both engines)
    qrow = (
        df.withColumn("yq", F.round(F.col(value_col) * 1000000).cast("long"))
        .agg(
            *[
                (F.round(F.expr(f"percentile(yq, {p})")) / F.lit(1e6) + F.lit(0.0)).alias(f"q{i}")
                for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
            ]
        )
        .collect()[0]
    )
    borders = [qrow["q1"], qrow["q2"], qrow["q3"]]

    # searchsorted over deduped borders: one conditional term per raw border
    v = F.col(value_col)
    bin_expr = (v > F.lit(borders[0])).cast("int")
    for prev, q in zip(borders, borders[1:]):
        if q > prev:
            bin_expr = bin_expr + (v > F.lit(q)).cast("int")

    # 2. distributed contingency: k rows (category, total, per-bin counts)
    rows = (
        df.groupBy(cat_col)
        .agg(
            F.count(F.lit(1)).alias("n_c"),
            *[
                F.sum((bin_expr == F.lit(i)).cast("long")).alias(f"b{i}")
                for i in range(4)
            ],
        )
        .collect()
    )
    # degenerate-input guards: a NULL category would make the sort below
    # raise an opaque TypeError, k < 2 has no pairwise distance to embed,
    # and the k-row contingency collect + k×k MDS are only bounded because
    # category cardinality is (the reference's d_abs dict carries the same
    # implicit bound) — fail fast with actionable messages instead
    if any(r[cat_col] is None for r in rows):
        raise ValueError(
            f"mahalanobis_cat_scores: NULL values in category column "
            f"{cat_col!r} — filter or impute them before scoring"
        )
    if len(rows) < 2:
        raise ValueError(
            f"mahalanobis_cat_scores: need >= 2 categories in {cat_col!r}, "
            f"got {len(rows)} — pairwise category distances are undefined"
        )
    if len(rows) > max_categories:
        raise ValueError(
            f"mahalanobis_cat_scores: {len(rows)} categories in {cat_col!r} "
            f"exceeds max_categories={max_categories}; the k-row contingency "
            "collect and k x k MDS are driver-side — raise max_categories "
            "only if the driver can hold k x k doubles"
        )
    rows.sort(key=lambda r: r[cat_col])
    cats = [r[cat_col] for r in rows]
    counts = [int(r["n_c"]) for r in rows]
    cont = [[int(r[f"b{i}"]) for i in range(4)] for r in rows]
    # equal bin distributions (exact cross-multiplied counts) put every
    # pairwise distance at 0: the MDS Gram matrix is 0 and has no direction
    if all(c[i] * counts[0] == cont[0][i] * n for c, n in zip(cont, counts) for i in range(4)):
        raise ValueError(
            f"mahalanobis_cat_scores: every category in {cat_col!r} has the same "
            f"quartile-bin distribution of {value_col!r}, so all pairwise category "
            "distances are 0 and there is no distance to embed"
        )

    # 3. pairwise category distances + classical-MDS + standardize
    #    (driver scalar chain, mirrored term-for-term by the SQL twin)
    try:
        if d_type == "abdm":
            dabs = classical_mds_dabs(abdm_dpair(cont, counts), n_iter=n_iter)
        elif d_type == "mvdm":
            dabs = classical_mds_dabs(mvdm_dpair(cont, counts), n_iter=n_iter)
        else:
            dabs = combine_abdm_mvdm(
                classical_mds_dabs(abdm_dpair(cont, counts), n_iter=n_iter),
                classical_mds_dabs(mvdm_dpair(cont, counts), n_iter=n_iter),
                w=w,
            )
    except ZeroDivisionError:
        # whether the deflation cancels exactly depends on the rounding of
        # the first eigenpair, so no rule on the counts predicts it
        if len(cats) != 2:
            raise
        raise ValueError(
            f"mahalanobis_cat_scores: {cat_col!r} has two categories, {cats[0]!r} and "
            f"{cats[1]!r}, so the MDS Gram matrix has rank 1, and for their quartile-bin "
            "counts the deflated matrix of its second direction is exactly 0: the power "
            "method has no direction to normalise"
        ) from None

    # 4. cat2num + exact-moment Mahalanobis
    mapping = F.when(F.col(cat_col) == F.lit(cats[0]), F.lit(dabs[0]))
    for cval, dval in zip(cats[1:], dabs[1:]):
        mapping = mapping.when(F.col(cat_col) == F.lit(cval), F.lit(dval))
    feat = df.select(id_col, mapping.alias("x0"), F.col(value_col).alias("x1"))
    j = feat.crossJoin(F.broadcast(moments_2x2(feat, "x0", "x1", x_cast="decimal(18,8)")))
    dx = F.col("x0").cast("double") - F.col("mx")
    dy = F.col("x1").cast("double") - F.col("my")
    score = mahalanobis_2x2(dx, dy, F.col("a"), F.col("b"), F.col("c"))
    return j.select(id_col, (F.round(score, 6) + F.lit(0.0)).alias("maha_cat"))


def _emb_top_eigvecs(cmat, n_comp: int, n_iter: int):
    """Leading eigenpairs of a small dense covariance via fixed-iteration
    power method + rank-1 deflation (functions/abdm.power_top — the same
    sequential-fold scalar chains the SQL twins mirror)."""
    vs, b = [], cmat
    for _ in range(n_comp):
        u, lam = power_top(b, n_iter)
        vs.append(u)
        b = deflate(b, u, lam)
    return vs


def pca_outlier_sub_emb(
    emb,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_comp: int = 4,
    n_iter: int = 8,
    quant: int = 1_000_000,
):
    """Linear-PCA outlier score with a RANK-``n_comp`` principal SUBSPACE at
    the real embedding width — the oracle-checkable instance of
    ``alibi_detect/od/_pca.py:20-208`` (fit = covariance eigenbasis, drop
    the top ``n_components`` eigenvectors, score = squared residual off the
    principal subspace; the full-eigendecomposition variant stays in
    :func:`pca_outlier_scores`, rows-only). Same one-Arrow-pass exact
    moments as :func:`pca_outlier_emb`; the extra eigenvectors come from
    fixed-iteration power + rank-1 deflation on the driver; scoring
    subtracts each component's squared projection in sequence (all
    ``F.aggregate`` sequential folds ≡ ``list_reduce``)."""
    _, mu, cmat = _emb_quant_moments(emb, vec_col, dim, quant)
    c = _centred(vec_col, mu)
    score = _dot(c, c)
    for v in _emb_top_eigvecs(cmat, n_comp, n_iter):
        p = _dot(c, _lits(v))
        score = score - p * p
    return emb.select(
        id_col, (F.round(score, 6) + F.lit(0.0)).alias("pca_sub_resid")
    )


def ae_outlier_emb(
    emb,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_comp: int = 4,
    n_iter: int = 8,
    quant: int = 1_000_000,
    outlier_perc: float = 50.0,
):
    """OutlierAE at the real embedding width with the reference's
    ``outlier_perc`` instance aggregation (``od/ae.py:181-208``: per-feature
    reconstruction errors, instance score = mean of the top
    ``ceil(perc% · d)`` feature errors). The encoder/decoder optimum is the
    rank-``n_comp`` PCA reconstruction (linear-AE closed form, declared
    analog — SURVEY §8 ledger); the top-error selection is a pure SORT of
    identical doubles, so both engines pick the same features and the
    sequential-fold mean hash-matches."""
    if n_comp != 4:
        raise ValueError("the mirrored pairwise recon grouping is fixed at n_comp=4")
    _, mu, cmat = _emb_quant_moments(emb, vec_col, dim, quant)
    vs = _emb_top_eigvecs(cmat, n_comp, n_iter)
    n_top = int(math.ceil(0.01 * outlier_perc * dim))

    c = _centred(vec_col, mu)
    v_arrs = [_lits(v) for v in vs]
    # materialize the projections as COLUMNS before the recon lambdas: a
    # proj referenced inside a HOF lambda body is re-evaluated per array
    # element (64x the 64-fold — a 6x slowdown), and CollapseProject would
    # re-inline them through a bare select, so the narrow (cl, p1..p4)
    # projection gets a localCheckpoint barrier (value-identical; one
    # 68-double-per-row corpus copy — at real scale persist it or fuse the
    # scoring into the moment Arrow pass instead)
    proj_df = emb.select(
        id_col, c.alias("cl"), *[_dot(c, v_arrs[i]).alias(f"p{i + 1}") for i in range(4)]
    ).localCheckpoint()
    p1, p2, p3, p4 = [F.col(f"p{i}") for i in range(1, 5)]
    # recon_j − μ_j = (v1[j]·p1 + v2[j]·p2) + (v3[j]·p3 + v4[j]·p4) —
    # pairwise grouping mirrored verbatim by the SQL twin
    r12 = F.zip_with(v_arrs[0], v_arrs[1], lambda a, b: a * p1 + b * p2)
    r34 = F.zip_with(v_arrs[2], v_arrs[3], lambda a, b: a * p3 + b * p4)
    rec = F.zip_with(r12, r34, lambda a, b: a + b)
    err = F.zip_with(F.col("cl"), rec, lambda a, b: (a - b) * (a - b))
    top = F.slice(F.sort_array(err, asc=False), 1, n_top)
    score = _fold(top) / F.lit(float(n_top))
    return proj_df.select(
        id_col, (F.round(score, 6) + F.lit(0.0)).alias("ae_emb_score")
    )


def kpca_outlier_4land(
    df,
    cols: tuple[str, str],
    id_col: str,
    var_eps: float = 1e-9,
    n_iter: int = 8,
):
    """Kernel-PCA outlier score with a 4-LANDMARK Nyström feature map — the
    wider hash-checkable kPCA instance (``od/pytorch/pca.py:173-268``;
    :func:`kpca_outlier_2land` is the closed-form 2-landmark case, the d-dim
    seeded variant stays rows-only). φ(x) = [k(x, l₁..l₄)] with
    deterministic md5-priority landmarks and the Σ-var bandwidth; the
    off-manifold score is :func:`pca_outlier_dfeat`'s fixed-iteration power
    method over the 4-dim feature space — exact DECIMAL feature moments,
    broadcast parameter relations, no UDF."""
    j, kern = landmark_kernels(df, cols, id_col, "kpca4:", 4, var_eps)
    feats = j.select(id_col, *[kern(i).alias(f"f{i}") for i in range(1, 5)])
    return pca_outlier_dfeat(
        feats, ("f1", "f2", "f3", "f4"), id_col, n_iter
    ).withColumnRenamed("pca_resid", "kpca4_resid")
