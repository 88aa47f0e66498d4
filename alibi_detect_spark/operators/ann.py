"""Similarity search over embedding columns (``array<float>``).

Plan shape (the 100 TB posture): the small side (query set / reference set —
small by the same contract as alibi-detect's in-memory ``x_ref``,
``od/_knn.py:22-122``) is collected once and shipped in the Arrow-UDF closure
(a broadcast); the corpus side is NEVER shuffled — one ``mapInPandas`` scan
computes a [batch × ref] matrix product per Arrow batch and emits only
per-partition top-k candidates, which a final tiny window pass merges. This
replaces the naive pair-explosion join (|corpus|·|Q| rows through the
interpreted higher-order-function path) with vectorized BLAS.

Numeric contract: float32 promoted to float64 (exact), scores rounded to 6dp
BEFORE ranking, ties broken by id — so ranking is reproducible against the
DuckDB oracle even though matmul and a sequential fold differ in the last
ulps (absorbed by the rounding). The k-NN scans here and LOF in
:mod:`.outlier` share that contract as one block each: the collected
reference set (:func:`_ref_set`), the rounded distance matrix
(:func:`_ref_dists`), the neighbour order (:func:`_nn_order`) and the k
nearest neighbours with the row itself excluded (:func:`_knn`). The
ensemble's p-values are counted inside the scan against the fitted
reference scores, which the driver computes once with the same block.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

EMB_COL = "embedding"


def _collect_matrix(emb: DataFrame, pred, id_col: str, extra: list[str] | None = None):
    pdf = emb.where(pred).select(id_col, *(extra or []), EMB_COL).toPandas()
    # canonical id order: collection order otherwise depends on partitioning,
    # and seeded fits (GMM init, SVM/IForest subsamples) must be functions of
    # the DATA, never of task scheduling (the repo's determinism invariant)
    pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
    ids = pdf[id_col].to_numpy()
    m = np.stack(pdf[EMB_COL].to_numpy()).astype(np.float64)
    return pdf, ids, m


def _ref_set(emb: DataFrame, pred, id_col: str, op: str, k: int):
    """The collected reference set of the k-NN scans: ``(ref_ids, r, r2)``,
    ``r2`` being the squared row norms that :func:`_ref_dists` reuses for
    every batch. ``op`` needs ``k`` neighbours of every reference row besides
    the row itself; a smaller set is named here, on the driver."""
    _, ref_ids, r = _collect_matrix(emb, pred, id_col)
    if len(ref_ids) < k + 1:
        raise ValueError(
            f"{op}: the reference set needs n_ref >= max(k) + 1 = {k + 1} rows (a "
            f"reference row's own distance is excluded), got n_ref = {len(ref_ids)}"
        )
    return ref_ids, r, np.einsum("ij,ij->i", r, r)


def _ref_dists(x: np.ndarray, r: np.ndarray, r2: np.ndarray) -> np.ndarray:
    """Euclidean distances ``[len(x) × len(r)]`` by the expansion trick
    ‖x‖² + ‖r‖² − 2x·r (clamped at 0), rounded to 6dp BEFORE any ranking
    so that the matmul's last-ulp differences from the oracle's sequential
    fold are absorbed."""
    d2 = np.maximum(np.einsum("ij,ij->i", x, x)[:, None] + r2[None, :] - 2.0 * (x @ r.T), 0.0)
    return np.round(np.sqrt(d2), 6)


def _nn_order(d: np.ndarray, ref_ids: np.ndarray) -> np.ndarray:
    """Column indices of each row of ``d`` from nearest to farthest, ties
    broken by ref id."""
    return np.lexsort((np.broadcast_to(ref_ids, d.shape), d), axis=-1)


def _knn(x: np.ndarray, ids: np.ndarray, ref, k: int):
    """The ``k`` nearest rows of the reference set ``ref`` (:func:`_ref_set`)
    to each row of ``x``, the row itself excluded: ``(idx, dist)``, both
    ``[len(x) × k]``, nearest first."""
    ref_ids, r, r2 = ref
    d = _ref_dists(x, r, r2)
    d[ids[:, None] == ref_ids[None, :]] = np.inf  # exclude self
    idx = _nn_order(d, ref_ids)[:, :k]
    return idx, d[np.arange(len(x))[:, None], idx]


def score_scan(emb: DataFrame, id_col: str, score_col: str, score) -> DataFrame:
    """One ``mapInPandas`` corpus scan ``(vec_id, score_col)``:
    ``score(x, ids)`` maps each Arrow batch's float64 ``[batch × d]``
    embedding matrix and its ids to one double per row. The fitted state
    travels in the ``score`` closure (a broadcast); the corpus never
    shuffles."""

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[EMB_COL].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame({"vec_id": ids, score_col: score(x, ids)})

    return emb.select(id_col, EMB_COL).mapInPandas(fn, schema=f"vec_id long, {score_col} double")


def knn_ensemble_scores(
    emb: DataFrame,
    ref_pred,
    ks: tuple[int, ...] = (3, 5, 7),
    id_col: str = "vec_id",
) -> DataFrame:
    """KNN ensemble outlier scoring (``od/_knn.py`` with the ensemble ops of
    ``od/pytorch/ensemble.py``): distance to each k-th nearest reference
    neighbour per k, ShiftAndScaleNormalizer (``ensemble.py:118``) from
    EXACT decimal moments of the rounded distances (bit-stable across
    engines), and Avg/Max/Min/TopK aggregators (``:157-248``) as column math.
    PValNormalizer (``ensemble.py:78-117``) is fitted like the reference's:
    the reference rows' own k-th distances are computed once on the driver,
    and the scan counts each row's p-value against them.
    One corpus scan + one tiny broadcast of the global moments."""
    ref = _ref_set(emb, ref_pred, id_col, "knn_ensemble_scores", max(ks))
    ref_ids, r, _ = ref
    n_ref = len(ref_ids)
    # the fitted PValNormalizer: each reference row's own scores, sorted per k
    ref_top = _knn(r, ref_ids, ref, max(ks))[1]
    ref_scores = {k: np.sort(ref_top[:, k - 1]) for k in ks}

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[EMB_COL].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            top = _knn(x, ids, ref, max(ks))[1]
            rows = {"vec_id": ids}
            for k in ks:
                rows[f"d{k}"] = top[:, k - 1]
                # 1 − (1 + #{ref score > s}) / (n_ref + 1), exact integer counts
                le = np.searchsorted(ref_scores[k], rows[f"d{k}"], side="right")
                rows[f"p{k}"] = 1.0 - (1.0 + (n_ref - le)) / (n_ref + 1.0)
            yield pd.DataFrame(rows)

    # materialize the (id, d*, p*) relation once (lazy checkpoint: no extra
    # build job, blocks freed on GC of the result): it feeds both the moment
    # aggregate and the normalized scores — without this the Arrow/python
    # distance stage re-executes per branch
    dists = emb.select(id_col, EMB_COL).mapInPandas(
        fn, schema="vec_id long, " + ", ".join(f"d{k} double, p{k} double" for k in ks)
    ).localCheckpoint(eager=False)
    # ShiftAndScaleNormalizer moments from exact decimal sums (order-free)
    n = F.count(F.lit(1)).cast("double")
    moment_cols = []
    for k in ks:
        dec = F.col(f"d{k}").cast("decimal(12,6)")
        moment_cols += [
            F.sum(dec).cast("double").alias(f"s{k}"),
            F.sum(dec * dec).cast("double").alias(f"ss{k}"),
        ]
    stats = dists.agg(n.alias("n"), *moment_cols)
    sel = []
    for k in ks:
        mean = F.col(f"s{k}") / F.col("n")
        std = F.sqrt(F.col(f"ss{k}") / F.col("n") - mean * mean)
        sel.append(((F.col(f"d{k}") - mean) / std).alias(f"n{k}"))
    normed = dists.crossJoin(F.broadcast(stats)).select(
        "vec_id", *sel, *[f"p{k}" for k in ks]
    )
    nsum = sum((F.col(f"n{k}") for k in ks[1:]), F.col(f"n{ks[0]}"))
    nmin = F.least(*[F.col(f"n{k}") for k in ks])
    nmax = F.greatest(*[F.col(f"n{k}") for k in ks])
    psum = sum((F.col(f"p{k}") for k in ks[1:]), F.col(f"p{ks[0]}"))
    return normed.select(
        "vec_id",
        (F.round(nsum / len(ks), 5) + F.lit(0.0)).alias("avg_score"),
        (F.round(nmax, 5) + F.lit(0.0)).alias("max_score"),
        (F.round(nmin, 5) + F.lit(0.0)).alias("min_score"),
        # TopKAggregator(k=2) over |ks|=3 normalized scores = mean of all-but-min
        (F.round((nsum - nmin) / (len(ks) - 1), 5) + F.lit(0.0)).alias("top2_score"),
        # PValNormalizer, Avg-aggregated
        (F.round(psum / len(ks), 6) + F.lit(0.0)).alias("pval_avg_score"),
    )


def knn_outlier_scores(
    emb: DataFrame,
    ref_pred,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """KNN outlier score (``od/_knn.py``): Euclidean distance to the k-th
    nearest reference vector. One corpus scan, one [batch × n_ref] matmul per
    Arrow batch, no shuffle at all."""
    ref = _ref_set(emb, ref_pred, id_col, "knn_outlier_scores", k)
    return score_scan(emb, id_col, "knn_dist", lambda x, ids: _knn(x, ids, ref, k)[1][:, -1])


def _topk_scan(emb: DataFrame, q_ids, qm, q_cells, k: int, id_col: str, cell_col: str | None):
    """Corpus scan emitting per-batch top-k (query_id, match_id, cosine)
    candidates; the caller merges with a window over the tiny candidate set."""
    qq = np.sqrt(np.einsum("ij,ij->i", qm, qm))

    cols = [id_col, EMB_COL] + ([cell_col] if cell_col else [])

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[EMB_COL].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            tt = np.sqrt(np.einsum("ij,ij->i", x, x))
            cos = np.round((x @ qm.T) / (qq[None, :] * tt[:, None]), 6)  # [batch, nq]
            cos[ids[:, None] == q_ids[None, :]] = -np.inf  # exclude self
            if cell_col is not None:
                cells = pdf[cell_col].to_numpy()
                cos[cells[:, None] != q_cells[None, :]] = -np.inf  # IVF cell prune
            out_q, out_m, out_c = [], [], []
            kk = min(k, cos.shape[0])
            for j in range(cos.shape[1]):
                col = cos[:, j]
                order = np.lexsort((ids, -col))[:kk]
                keep = order[np.isfinite(col[order])]
                out_q.append(np.full(len(keep), q_ids[j]))
                out_m.append(ids[keep])
                out_c.append(col[keep])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "match_id": np.concatenate(out_m),
                        "cosine": np.concatenate(out_c),
                    }
                )

    cand = emb.select(*cols).mapInPandas(fn, schema="query_id long, match_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def cosine_topk(
    emb: DataFrame,
    query_pred,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast query matrix × corpus scan,
    per-partition local top-k (valid because top-k is a prefix of each
    partition's ordering), tiny global merge window."""
    _, q_ids, qm = _collect_matrix(emb, query_pred, id_col)
    return _topk_scan(emb, q_ids, qm, None, k, id_col, None)


def kmeans_cells(
    emb: DataFrame,
    n_cells: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    quant: int = 1_000_000,
    n_candidates: int = 32,
) -> DataFrame:
    """Deterministic k-means IVF cell builder: assigns every vector a coarse
    cell for :func:`cosine_topk_ivf`-style pruned search.

    Exactness-by-construction (the IVF analog of the repo's oracle-parity
    recipes): vectors are QUANTIZED to integers in the Spark plan
    (``round(x·10⁶)`` — engine-side rounding, identical in DuckDB), so Lloyd
    centroid updates are exact integer sums divided once — both engines
    derive bit-identical centroids, and the oracle hash-checks the full
    assignment.

    Init = k-means‖-style two-phase seeding, ONE corpus scan total (the
    farthest-first-over-the-corpus alternative is n_cells−1 scans — at a
    production cell count, √N ≈ 10⁶ cells for 10¹² vectors, that is 10⁶
    scans): (1) an md5-priority sample of ``n_candidates`` vectors
    (``orderBy(md5('init:'||id)).limit`` → TakeOrdered, one scan, no
    shuffle of the corpus); (2) deterministic farthest-first traversal
    (maxmin, the k-center 2-approximation) driver-side over the tiny
    candidate set — seed = lowest candidate id, then repeatedly the candidate
    maximizing its min-distance to the chosen set (distance rounded to 9dp
    before ranking, ties by id — cross-engine reproducible). A pure
    lowest-id init would sit inside one cluster and Lloyd could not unmerge
    it; farthest-first on an exchangeable sample keeps the spread property
    with O(n_candidates²) driver work instead of O(n_cells) scans.

    Scale shape: one sample scan + per Lloyd iteration one corpus scan
    (assignment, vectorized NumPy per Arrow batch) + one tiny aggregate
    (n_cells × dim partial sums, map-side combined); centroids travel by
    closure. No corpus joins; the quantized projection is cached only for
    the driver-side phases and unpersisted before return."""
    if n_candidates < n_cells:
        raise ValueError("n_candidates must be >= n_cells")
    qv = F.transform(
        F.col(EMB_COL), lambda x: F.round(x.cast("double") * quant).cast("long")
    )
    qdf = emb.select(id_col, qv.alias("qv")).persist()

    # --- phase 1: md5-priority candidate sample (one TakeOrdered scan) ---
    pri = F.md5(F.concat(F.lit("init:"), F.col(id_col).cast("string")))
    cand = qdf.orderBy(pri, F.col(id_col)).limit(n_candidates).toPandas()
    cids = cand[id_col].to_numpy()
    cqv = np.stack(cand["qv"].to_numpy()).astype(np.float64)
    cx = cqv / quant

    # --- phase 2: farthest-first on the candidates (driver-side, tiny) ---
    chosen = [int(np.argmin(cids))]
    for _ in range(1, n_cells):
        # direct differences, not the expansion trick: the init rank rounds
        # at 9dp and expansion error (~1e-12) would knife-edge
        diff = cx[:, None, :] - cx[chosen][None, :, :]
        d2 = np.einsum("ijk,ijk->ij", diff, diff)
        mind = np.round(d2.min(axis=1), 9)
        chosen.append(int(np.lexsort((cids, -mind))[0]))
    cents = cqv[chosen] / quant  # [k, d]

    def assign_fn(cents_now):
        def fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["qv"].to_numpy()).astype(np.float64) / quant
                diff = x[:, None, :] - cents_now[None, :, :]
                # round-before-rank (repo parity recipe): the oracle folds the
                # 64 dims sequentially, numpy pairwise — rank on 9dp values
                d2 = np.round(np.einsum("ijk,ijk->ij", diff, diff), 9)
                cell = np.argmin(d2, axis=1)  # ties → lowest cell (argmin)
                out = pd.DataFrame({id_col: pdf[id_col].to_numpy(), "cell": cell.astype(np.int32)})
                out["qv"] = pdf["qv"].to_numpy()
                yield out

        return fn

    schema = f"{id_col} long, cell int, qv array<long>"
    for _ in range(n_iter):
        assigned = qdf.mapInPandas(assign_fn(cents.copy()), schema=schema)
        upd = (
            assigned.select("cell", F.posexplode("qv").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .toPandas()
        )
        new = cents.copy()
        for c, grp in upd.groupby("cell"):
            g = grp.sort_values("pos")
            new[c] = g["s"].to_numpy(dtype=np.float64) / (g["n"].to_numpy(dtype=np.float64) * quant)
        cents = new
    # the final assignment scan recomputes the cheap quantized projection from
    # the source so the cached relation can be released NOW (no cache debt in
    # a long-lived session) instead of leaking until executor-storage pressure
    final_src = emb.select(id_col, qv.alias("qv"))
    final = final_src.mapInPandas(assign_fn(cents.copy()), schema=schema)
    qdf.unpersist()
    return final.select(id_col, "cell")


def cosine_topk_ivf(
    emb: DataFrame,
    query_pred,
    k: int = 3,
    id_col: str = "vec_id",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style pruned cosine top-k: candidates restricted to the query's
    coarse cell (here the precomputed ``label`` partitioner; in production the
    cell id comes from a broadcast-centroid argmin).

    The prune happens BEFORE the scan: the queried cell set is tiny (it is
    bounded by the broadcastable query set), so it goes into the scan plan as
    an ``isin`` filter that Catalyst pushes into the parquet source
    (``PushedFilters: [In(label, ...)]`` — asserted by tools/audit_plans.py).
    On a corpus partitioned by cell this is partition pruning: each query
    batch touches 1/n_cells of 10^12 vectors instead of masking rows after a
    full scan. The in-batch cell mask remains as the per-query tie-breaker."""
    qpdf, q_ids, qm = _collect_matrix(emb, query_pred, id_col, extra=[cell_col])
    q_cells = qpdf[cell_col].to_numpy()
    cells = sorted({c.item() if hasattr(c, "item") else c for c in q_cells})
    pruned = emb.where(F.col(cell_col).isin(cells))
    return _topk_scan(pruned, q_ids, qm, q_cells, k, id_col, cell_col)
