"""Kernel and classifier drift families (``operators/drift.py``,
``operators/classifier.py``): partition invariance of every member built on
the shared head-subsample, MMD², permutation and ridge-head blocks, and the
at-least-2-rows-per-side rule of the in-UDF kernel tests."""

import numpy as np
import pytest
from pyspark.errors import PythonException, SparkRuntimeException

from alibi_detect_spark.operators import classifier, drift


def _two_sample(spark, n: int = 600, n_ref: int | None = None, seed: int = 3):
    """``n`` rows, the first ``n_ref`` (default: every even id) on the ref
    side; the test side is shifted in ``v`` and in the context ``u``."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        ref = i < n_ref if n_ref is not None else i % 2 == 0
        v = rng.normal(10.0 if ref else 10.8, 2.0)
        u = rng.normal(50.0 if ref else 53.0, 8.0)
        rows.append((i, "ref" if ref else "test", float(v), float(u)))
    return spark.createDataFrame(rows, "event_id long, sample string, v double, u double")


def _emb(spark, n: int = 200, even_ids: int | None = None, dim: int = 8, seed: int = 4):
    """``n`` embeddings; ref is the even ids. With ``even_ids`` set, only
    that many ids are even (the rest odd)."""
    rng = np.random.default_rng(seed)
    ids = range(n) if even_ids is None else [2 * i for i in range(even_ids)] + [
        2 * i + 1 for i in range(n - even_ids)
    ]
    rows = [(int(i), [float(x) for x in rng.normal(0.3 * (i % 2), 1.0, dim)]) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


_SCALAR = {
    "mmd_2samp": lambda df: drift.mmd_2samp(df, "v", n_per_side=64),
    "context_mmd_hash": lambda df: drift.context_mmd_hash(
        df, "v", "u", n_per_side=64, n_held_per_side=32, n_permutations=8, order_col="event_id"
    ),
    "mmd_perm_test_hash": lambda df: drift.mmd_perm_test_hash(df, "v", n_per_side=64, n_permutations=20),
    "lsdd_perm_test_hash": lambda df: drift.lsdd_perm_test_hash(df, "v", n_per_side=64, n_permutations=20),
    "learned_kernel_drift_hash": lambda df: drift.learned_kernel_drift_hash(
        df, "v", n_per_side=64, n_permutations=20
    ),
    "spot_the_diff_drift": lambda df: classifier.spot_the_diff_drift(df, "v", "event_id"),
    "spot_the_diff_drift_2d": lambda df: classifier.spot_the_diff_drift_2d(df, ("v", "u"), "event_id"),
    "classifier_drift_nb": lambda df: classifier.classifier_drift_nb(df, ("v", "u"), "event_id"),
    "classifier_drift_logit": lambda df: classifier.classifier_drift_logit(df, ("v", "u"), "event_id"),
}
_VEC = {
    "mmd_2samp_vec": lambda emb: drift.mmd_2samp_vec(emb, n_per_side=32),
    "mmd_perm_test_vec": lambda emb: drift.mmd_perm_test_vec(emb, n_per_side=32, n_permutations=10),
}


@pytest.mark.parametrize("name", sorted(_SCALAR) + sorted(_VEC))
def test_kernel_family_partitioning_invariance(spark, name):
    """One Spark partition or sixteen hash partitions of the input give the
    identical result relation: the head subsample is ordered, the in-UDF
    tests mergesort by (s, rn), and every fitted moment is an exact sum."""
    if name in _VEC:
        op, df, col = _VEC[name], _emb(spark), "vec_id"
    else:
        op, df, col = _SCALAR[name], _two_sample(spark), "v"
    a = sorted(map(tuple, op(df.repartition(1)).collect()))
    b = sorted(map(tuple, op(df.repartition(16, col)).collect()))
    assert a == b


_IN_UDF = {
    "mmd_perm_test": lambda df: drift.mmd_perm_test(df, "v", n_permutations=10),
    "context_mmd_drift": lambda df: drift.context_mmd_drift(df, "v", ["u"], n_permutations=5),
    "mmd_perm_test_hash": lambda df: drift.mmd_perm_test_hash(df, "v", n_permutations=10),
    "learned_kernel_drift_hash": lambda df: drift.learned_kernel_drift_hash(df, "v", n_permutations=10),
    "lsdd_perm_test_hash": lambda df: drift.lsdd_perm_test_hash(df, "v", n_permutations=10),
    "lsdd_perm_test": lambda df: drift.lsdd_perm_test(df, "v", n_permutations=10),
    "mmd_perm_test_vec": lambda emb: drift.mmd_perm_test_vec(emb, n_permutations=10),
}


@pytest.mark.parametrize("name", sorted(_IN_UDF))
def test_kernel_tests_reject_a_side_below_two_rows(spark, name):
    """One ref row against 39 test rows has no within-ref kernel pair: the
    test fails naming the operator, the side, its row count and the rule,
    instead of a NULL statistic, ``p_value = 0`` or an IndexError."""
    df = _emb(spark, n=40, even_ids=1) if name == "mmd_perm_test_vec" else _two_sample(spark, 40, 1)
    msg = rf"ValueError: {name}: ref side has 1 row\(s\); the test needs at least 2 rows on each side"
    with pytest.raises(PythonException, match=msg):
        _IN_UDF[name](df).collect()


@pytest.mark.parametrize("name", ["mmd_2samp", "mmd_2samp_vec"])
def test_mmd2_tail_rejects_a_side_below_two_rows(spark, name):
    """The Spark-side MMD² divides each within-side sum by ``n·(n−1)``: one
    ref row against 39 test rows fails with the kernel tests' message from
    the final select, not a bare ANSI ``DIVIDE_BY_ZERO``."""
    if name == "mmd_2samp_vec":
        rel = drift.mmd_2samp_vec(_emb(spark, n=40, even_ids=1))
    else:
        rel = drift.mmd_2samp(_two_sample(spark, 40, 1), "v")
    msg = rf"\[USER_RAISED_EXCEPTION\] {name}: ref side has 1 row\(s\); the test needs at least 2 rows on each side"
    with pytest.raises(SparkRuntimeException, match=msg):
        rel.collect()


def test_learned_kernel_rejects_a_holdout_side_below_two_rows(spark):
    """Three ref rows pass the whole-side rule, but the md5 split sends only
    one of them (pooled id 2) to the holdout the statistic runs on."""
    msg = (
        r"ValueError: learned_kernel_drift_hash: ref side of the holdout has 1 row\(s\); "
        r"the test needs at least 2 rows on each side"
    )
    with pytest.raises(PythonException, match=msg):
        drift.learned_kernel_drift_hash(_two_sample(spark, 40, 3), "v", n_permutations=10).collect()
