"""Round-4 operators: PValNormalizer ensemble column and the declared-
calibration decision thresholds for the online MMD / FET / LSDD families."""

import numpy as np
import pandas as pd
import pytest

from alibi_detect_spark.functions.online_thresholds import (
    fet_decision_thresholds,
    lsdd2_decision_thresholds,
    mmd_decision_thresholds,
)
from alibi_detect_spark.operators import ann


def _ref_pval_normalizer(scores: np.ndarray, val_scores: np.ndarray) -> np.ndarray:
    """Reference formula, od/pytorch/ensemble.py:100-115 verbatim in NumPy:
    transform(s) = 1 − (1 + #{val > s}) / (n_val + 1), per column."""
    less = scores[:, None, :] < val_scores[None, :, :]
    p_vals = (1 + less.sum(axis=1)) / (val_scores.shape[0] + 1)
    return 1.0 - p_vals


def test_pval_normalizer_matches_reference_formula(spark):
    """Random-normal embeddings, then integer-valued ones: on the integer
    lattice many scores tie a reference score exactly, which pins the
    strictly-greater count ``#{val > s}`` of the reference."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    n, dim = 60, 8
    normal = rng.normal(size=(n, dim))
    lattice = rng.integers(-2, 3, size=(n, dim)).astype(np.float64)
    ks = (3, 5, 7)
    ref_mask = np.arange(n) % 5 == 0
    ref_ids = np.arange(n)[ref_mask]
    for vecs in (normal, lattice):
        pdf = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)})
        out = (
            ann.knn_ensemble_scores(spark.createDataFrame(pdf), F.col("vec_id") % 5 == 0, ks=ks)
            .toPandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )

        # brute-force the k-th NN distances exactly as the operator defines them
        r = vecs[ref_mask]
        d = np.round(
            np.sqrt(
                np.maximum(
                    (vecs**2).sum(1)[:, None] + (r**2).sum(1)[None, :] - 2 * vecs @ r.T,
                    0.0,
                )
            ),
            6,
        )
        d[np.arange(n)[:, None] == ref_ids[None, :]] = np.inf
        ds = np.sort(d, axis=1)
        scores = np.stack([ds[:, k - 1] for k in ks], axis=1)
        val_scores = scores[ref_mask]
        expect = _ref_pval_normalizer(scores, val_scores).mean(axis=1)

        got = out["pval_avg_score"].to_numpy()
        np.testing.assert_allclose(got, np.round(expect, 6), atol=1.5e-6)
        # outliers (large distances) must map near 1, inliers near the low end
        assert got.min() < 0.4 and got.max() > 0.9
    tied = (scores[:, None, :] == val_scores[None, :, :]).any(axis=1)
    assert tied[~ref_mask].mean() > 0.3  # 62 of the 144 non-reference scores


def test_decision_thresholds_shapes_and_determinism():
    m = mmd_decision_thresholds()
    assert len(m) == 10 and all(np.isfinite(m))
    assert m == mmd_decision_thresholds()  # pure function of constants

    f = fet_decision_thresholds()
    assert len(f) == 29
    assert all(np.isnan(t) for t in f[:14]) and all(np.isfinite(t) for t in f[14:])
    # smoothed p-value stats live in (0, 1); thresholds must too
    assert all(0.0 < t < 1.0 for t in f[14:])

    l = lsdd2_decision_thresholds()
    assert len(l) == 10 and all(np.isfinite(t) and t > 0.0 for t in l)


def test_lsdd_thresholds_track_ert():
    # larger ert => rarer target false alarms => higher thresholds
    lo = lsdd2_decision_thresholds(ert=20.0, n_bootstraps=300)
    hi = lsdd2_decision_thresholds(ert=200.0, n_bootstraps=300)
    assert np.mean(hi) > np.mean(lo)


@pytest.mark.parametrize("name", ["mmd_decisions", "fet_decisions", "lsdd_decisions"])
def test_decision_queries_shape(spark, sf_dir, name):
    import __spark_entry__ as E

    out = E.queries()[name](spark, sf_dir).toPandas()
    # one row per event_type, counts well-formed
    assert len(out) == out["event_type" if "event_type" in out else "source"].nunique()
    key = "source" if "source" in out.columns else "event_type"
    assert set(out.columns) == {"detector", key, "n_scored", "n_drift"}
    assert (out["n_drift"] <= out["n_scored"]).all()
    assert (out["n_drift"] >= 0).all()


def test_text_pipeline_quality_ops(spark):
    """lm_unigram_score ranks an all-rare-words doc as less probable than a
    common-words doc; doc_repetition computes the exact duplicate-3-gram
    fraction."""
    import pandas as pd

    from alibi_detect_spark.operators import textstats

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the cat sat on the mat the cat sat on the mat",  # repetitive, common
                    "quantum chromodynamics lattice renormalization",  # rare words
                    "the cat ran to the mat",
                ],
            }
        )
    )
    lm = {r["doc_id"]: r["lm_score"] for r in textstats.lm_unigram_score(docs).collect()}
    # every word of doc 2 occurs once in the corpus -> highest surprise
    assert lm[2] > lm[1] and lm[2] > lm[3]

    rep = {r["doc_id"]: r for r in textstats.doc_repetition(docs, n=3).collect()}
    # doc 1: 10 3-grams; the second half repeats the first 5 except the
    # bridging grams -> exact expected ratio 1 - uniq/total
    grams = lambda t: [" ".join(t.split()[i:i+3]) for i in range(len(t.split()) - 2)]
    for did, text in [(1, "the cat sat on the mat the cat sat on the mat"),
                      (3, "the cat ran to the mat")]:
        g = grams(text)
        expect = round(1.0 - len(set(g)) / len(g), 6)
        assert abs(rep[did]["rep_ratio"] - expect) < 1e-9, (did, rep[did])
        assert rep[did]["n_grams"] == len(g)
    assert rep[1]["rep_ratio"] > 0.0 and rep[3]["rep_ratio"] == 0.0


def test_mmd_vec_detects_embedding_shift(spark):
    """Multivariate MMD: H0 split gives a small stat / large p; a mean-shifted
    test side gives a larger stat and p ~ 0."""
    import pandas as pd

    from alibi_detect_spark.operators import drift

    rng = np.random.default_rng(11)
    d, n = 16, 120
    base = rng.normal(size=(2 * n, d)).astype(np.float32)
    h0 = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(2 * n, dtype=np.int64), "embedding": list(base)})
    )
    r0 = drift.mmd_perm_test_vec(h0, n_per_side=64, sigma=2.0, n_permutations=30).collect()[0]
    shifted = base.copy()
    shifted[1::2] += 1.5  # odd ids = test side
    h1 = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(2 * n, dtype=np.int64), "embedding": list(shifted)})
    )
    r1 = drift.mmd_perm_test_vec(h1, n_per_side=64, sigma=2.0, n_permutations=30).collect()[0]
    assert r1["mmd2"] > r0["mmd2"]
    assert r1["p_value"] == 0.0 and r0["p_value"] > 0.1


def test_classifier_drift_logit_detects_shift(spark):
    """Quantized-IRLS logistic ClassifierDrift: no-shift data gives a large
    p-value; a mean-shifted test sample drives p to ~0."""
    import pandas as pd

    from alibi_detect_spark.operators import classifier

    rng = np.random.default_rng(5)
    n = 4000
    ids = np.arange(n, dtype=np.int64)
    v = rng.normal(50.0, 10.0, n)
    u = rng.normal(40.0, 8.0, n)
    s = np.where(ids % 2 == 0, "ref", "test")
    h0 = spark.createDataFrame(
        pd.DataFrame({"event_id": ids, "sample": s, "value": v, "u": u})
    )
    r0 = classifier.classifier_drift_logit(h0, ("value", "u"), "event_id").collect()[0]
    v1 = v + np.where(s == "test", 12.0, 0.0)
    h1 = spark.createDataFrame(
        pd.DataFrame({"event_id": ids, "sample": s, "value": v1, "u": u})
    )
    r1 = classifier.classifier_drift_logit(h1, ("value", "u"), "event_id").collect()[0]
    assert r0["p_value"] > 0.05
    assert r1["p_value"] < 1e-6 and r1["ks_stat"] > r0["ks_stat"]


def test_pca_outlier_emb_matches_numpy_rank1_residual(spark):
    """d=64 power-method PCA: residuals agree with the NumPy rank-1 PCA
    residual (eigh ground truth) and an off-subspace spike scores top."""
    import pandas as pd

    from alibi_detect_spark.operators import outlier

    rng = np.random.default_rng(3)
    n, d = 300, 64
    direction = rng.normal(size=d); direction /= np.linalg.norm(direction)
    base = np.outer(rng.normal(size=n) * 5.0, direction) + rng.normal(size=(n, d)) * 0.3
    base[0] += np.linalg.qr(np.stack([direction, rng.normal(size=d)]).T)[0][:, 1] * 8.0
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(base.astype(np.float32))})
    )
    got = (
        outlier.pca_outlier_emb(emb)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    x = base.astype(np.float32).astype(np.float64)
    mu = x.mean(axis=0)
    xc = x - mu
    covm = (xc.T @ xc) / len(x)
    _, vecs = np.linalg.eigh(covm)
    v1 = vecs[:, -1]
    resid = (xc**2).sum(axis=1) - (xc @ v1) ** 2
    np.testing.assert_allclose(got["pca_resid"].to_numpy(), resid, rtol=1e-3, atol=1e-3)
    assert got["pca_resid"].idxmax() == 0  # the off-subspace spike


def test_embedding_width_ops_partitioning_invariant(spark):
    """Embedding-width closed forms: exact integer moments make the fit
    (and therefore every score) identical under any partitioning."""
    import pandas as pd

    from alibi_detect_spark.operators import outlier

    rng = np.random.default_rng(17)
    n = 400
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": list(rng.normal(size=(n, 64)).astype(np.float32)),
            }
        )
    )
    for fn in (
        outlier.pca_outlier_emb,
        outlier.gmm_outlier_emb,
        outlier.ocsvm_emb,
        outlier.mahalanobis_emb,
        outlier.pca_outlier_sub_emb,
        outlier.ae_outlier_emb,
    ):
        a = sorted(map(tuple, fn(emb).collect()))
        b = sorted(map(tuple, fn(emb.repartition(16, "vec_id")).collect()))
        assert a == b, fn.__name__


def test_iforest_emb_isolates_far_point(spark):
    """d=64 md5 cut-tree isolation forest: a far-out point isolates at
    shallow depth and takes the top score; scores are partitioning-invariant."""
    import pandas as pd

    from alibi_detect_spark.operators import outlier

    rng = np.random.default_rng(23)
    n = 500
    base = rng.normal(size=(n, 64)).astype(np.float32)
    base[0] = 25.0  # far outside every per-dim range of the bulk
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(base)})
    )
    got = outlier.iforest_emb(emb).toPandas().sort_values("vec_id").reset_index(drop=True)
    assert got["if_score"].idxmax() == 0
    assert ((got["if_score"] > 0) & (got["if_score"] <= 1)).all()
    again = (
        outlier.iforest_emb(emb.repartition(16, "vec_id"))
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert np.array_equal(
        got["if_score"].to_numpy().view(np.uint64), again["if_score"].to_numpy().view(np.uint64)
    )
