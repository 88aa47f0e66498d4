"""Outlier-family operators (``operators/outlier.py``, ``adversarial.py``,
``llr.py``, ``drift.mahalanobis_scores``): partition invariance of every
2-feature closed form built on the shared :mod:`.closed_form` blocks, and
the fail-fast guards of the 2×2 closed forms, of the embedding-width
operators, of the k-NN reference set and of ``mahalanobis_cat_scores``."""

import numpy as np
import pytest
from pyspark.errors import SparkRuntimeException

from alibi_detect_spark.operators import ann, drift, llr, outlier


def _cluster_with_ood(spark, n: int = 2000, n_ood: int = 8, seed: int = 11):
    """Tight central cluster + a few far-out rows (the OOD instances)."""
    rng = np.random.default_rng(seed)
    v = rng.normal(50.0, 3.0, n)
    u = rng.normal(20.0, 2.0, n)
    v[:n_ood] = rng.uniform(180.0, 200.0, n_ood)
    u[:n_ood] = rng.uniform(90.0, 99.0, n_ood)
    rows = [(int(i), float(v[i]), float(u[i])) for i in range(n)]
    return spark.createDataFrame(rows, "event_id long, v double, u double")


_TWO_FEAT = {
    "pca_outlier_2feat": lambda df: outlier.pca_outlier_2feat(df, ("v", "u"), ["event_id"]),
    "vae_outlier_2feat": lambda df: outlier.vae_outlier_2feat(df, ("v", "u"), "event_id"),
    "ae_outlier_2feat": lambda df: outlier.ae_outlier_2feat(df, ("v", "u"), "event_id"),
    "kpca_outlier_2land": lambda df: outlier.kpca_outlier_2land(df, ("v", "u"), "event_id"),
    "kpca_outlier_4land": lambda df: outlier.kpca_outlier_4land(df, ("v", "u"), "event_id"),
    "ocsvm_mean_2feat": lambda df: outlier.ocsvm_mean_2feat(df, ("v", "u"), "event_id"),
    "iforest_hash_2feat": lambda df: outlier.iforest_hash_2feat(df, ("v", "u"), "event_id"),
    "llr_outlier_2feat": lambda df: llr.llr_outlier_2feat(df, ("v", "u"), "event_id"),
    "mahalanobis_scores": lambda df: drift.mahalanobis_scores(df, ("v", "u"), ["event_id"]),
}


@pytest.mark.parametrize("name", sorted(_TWO_FEAT))
def test_2feat_partitioning_invariance(spark, name):
    """Exact DECIMAL moments, md5 landmarks / cuts / mutations and integer
    leaf counts make every fit order-free: any repartitioning yields the
    identical relation (top-k rows carry their rank)."""
    df = _cluster_with_ood(spark, n=1000)
    a = sorted(map(tuple, _TWO_FEAT[name](df.repartition(1)).collect()))
    b = sorted(map(tuple, _TWO_FEAT[name](df.repartition(16, "v")).collect()))
    assert a == b


_DEGENERATE_RULE = {
    "mahalanobis_scores": r"singular 2x2 covariance",
    "pca_outlier_2feat": r"zero minor direction \(c, lambda_min - a\) of the 2x2 covariance",
}


@pytest.mark.parametrize("name", sorted(_DEGENERATE_RULE))
def test_2x2_closed_forms_name_a_degenerate_fit(spark, name):
    """One row has a zero covariance: the operator fails from its final
    select naming itself, the rule and the row count, not with ANSI's bare
    ``DIVIDE_BY_ZERO``."""
    df = spark.createDataFrame([(0, 50.0, 20.0)], "event_id long, v double, u double")
    msg = rf"\[USER_RAISED_EXCEPTION\] {name}: {_DEGENERATE_RULE[name]} of \(v, u\) over 1 row\(s\)"
    with pytest.raises(SparkRuntimeException, match=msg):
        _TWO_FEAT[name](df).collect()


def _emb(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_iforest_leaf_map_bound_raises_before_any_job(spark):
    """n_trees · 2^depth above 2^16 literal leaf-map entries is refused up
    front, by both isolation-forest closed forms, without running a job."""
    emb = _emb(spark, np.random.default_rng(0).normal(size=(50, 4)))
    df = _cluster_with_ood(spark, n=50)
    sc = spark.sparkContext
    sc.setJobGroup("iforest-bound", "iforest-bound")
    try:
        with pytest.raises(ValueError, match=r"n_trees \* 2\*\*depth = 4 \* 2\*\*20"):
            outlier.iforest_emb(emb, dim=4, depth=20)
        with pytest.raises(ValueError, match=r"n_trees \* 2\*\*depth = 2 \* 2\*\*20"):
            outlier.iforest_hash_2feat(df, ("v", "u"), "event_id", depth=20)
        assert list(sc.statusTracker().getJobIdsForGroup("iforest-bound")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize(
    "fn",
    [outlier.mahalanobis_emb, outlier.iforest_emb],
    ids=lambda fn: fn.__name__,
)
def test_emb_ops_reject_ragged_and_wrong_width_vectors(spark, fn):
    """A short vector, or a width other than ``dim``, fails at fit time with
    a message naming the component and the count — not as an executor-side
    ARRAY_INDEX_OUT_OF_BOUNDS while scoring."""
    vecs = [list(v) for v in np.random.default_rng(5).normal(size=(40, 4))]
    vecs[7] = vecs[7][:2]
    with pytest.raises(ValueError, match="dim=4 components, but component index 2 is present in 39 of 40"):
        fn(_emb(spark, vecs), dim=4)
    with pytest.raises(ValueError, match="dim=8 components, but component index 4 is present in 0 of 40"):
        fn(_emb(spark, np.ones((40, 4))), dim=8)


_KNN = {
    "knn_outlier_scores": lambda df, k: ann.knn_outlier_scores(df, _ref3(), k=k),
    "knn_ensemble_scores": lambda df, k: ann.knn_ensemble_scores(df, _ref3(), ks=(1, k)),
    "lof_outlier_scores": lambda df, k: outlier.lof_outlier_scores(df, _ref3(), k=k),
}


def _ref3():
    from pyspark.sql import functions as F

    return F.col("vec_id") % 7 == 0  # ids 0, 7, 14 of 20


@pytest.mark.parametrize("name", sorted(_KNN))
def test_knn_ops_name_a_reference_set_too_small_for_k(spark, name):
    """Three reference rows hold two neighbours of each reference row
    besides itself: k = 3 fails on the driver naming the operator, the rule
    and n_ref (not as infinite distances, NULL scores or a worker
    ``IndexError``), and k = 2 scores every row finitely."""
    df = _emb(spark, np.random.default_rng(2).normal(size=(20, 4)))
    with pytest.raises(ValueError, match=rf"{name}: .*n_ref >= max\(k\) \+ 1 = 4 .*n_ref = 3$"):
        _KNN[name](df, 3).collect()
    got = _KNN[name](df, 2).toPandas().drop(columns="vec_id").to_numpy()
    assert got.shape[0] == 20 and np.isfinite(got).all()


def test_mahalanobis_cat_names_a_constant_value_column(spark):
    """A constant value column puts every category in the same quartile bin:
    all pairwise category distances are 0, and the operator says so instead
    of failing in the MDS power method with a bare ``ZeroDivisionError``."""
    rows = [(i, f"c{i % 3}", 5.0) for i in range(30)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    msg = r"mahalanobis_cat_scores: every category in 'event_type' has the same quartile-bin"
    with pytest.raises(ValueError, match=msg):
        outlier.mahalanobis_cat_scores(df, "event_type", "value")


def test_mahalanobis_cat_names_two_categories_without_a_second_direction(spark):
    """Two categories with quartile-bin counts ``[[5,0,0,0],[0,0,5,0]]``:
    the rank-1 MDS Gram matrix deflates to exactly 0, and the operator names
    the two categories and the rule instead of failing in the power method
    with a bare ``ZeroDivisionError``."""
    rows = [(i, "a" if i < 5 else "b", 1.0 if i < 5 else 2.0) for i in range(10)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    msg = (
        r"mahalanobis_cat_scores: 'event_type' has two categories, 'a' and 'b', so the MDS "
        r"Gram matrix has rank 1, .* deflated matrix of its second direction is exactly 0"
    )
    with pytest.raises(ValueError, match=msg):
        outlier.mahalanobis_cat_scores(df, "event_type", "value")


def test_quant_em_callers_agree(spark):
    """The one quantized-EM loop serves both GMM closed forms: at d = 4 the
    embedding operator (index-fold log-densities, per-component moment
    groups) and the feature-tuple operator over the same four components as
    columns (left-associated chain, one wide moment row) fit the same
    mixture; their ``ld`` associations differ only in the last bits."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    vecs = np.vstack([rng.normal(0.0, 1.0, (120, 4)), rng.normal(4.0, 0.5, (80, 4))])
    emb = _emb(spark, vecs)
    cols = ("a", "b", "c", "d")
    feats = emb.select(
        "vec_id", *[F.element_at("embedding", i + 1).alias(c) for i, c in enumerate(cols)]
    )
    got = outlier.gmm_outlier_emb(emb, dim=4, n_iter=2, quant_x=1000, quant_r=1000).toPandas()
    want = outlier.gmm_outlier_dfeat(feats, cols, "vec_id", n_iter=2, quant=1000).toPandas()
    got, want = (d.sort_values("vec_id")["gmm_nll"].to_numpy() for d in (got, want))
    assert len(got) == 200 and np.isfinite(got).all()
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-6 + 1e-12)
