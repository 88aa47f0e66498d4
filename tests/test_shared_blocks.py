"""Partition invariance of every member built on the shared blocks: the LSH
band join and Jaccard verify (``operators/dedup.py``), the reference k-NN
distances (``operators/ann.py``, LOF in ``operators/outlier.py``), the
quantile bands (``operators/detect.py``) and the metric tier cells
(``operators/rollup.py``). ``embedding_near_pairs`` verifies inside its LSH
buckets and is no longer a band-join member, but keeps its row here. One
Spark partition or sixteen hash partitions of the input must give the
identical, non-empty result relation."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from alibi_detect_spark.operators import ann, dedup, detect, outlier, rollup

_VOCAB = [f"w{i}" for i in range(60)]


def _docs(spark):
    """30 base documents of 16 words, each with an exact copy and a copy
    with one word replaced: every dedup path finds pairs."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(30):
        words = list(rng.choice(_VOCAB, 16))
        near = list(words)
        near[int(rng.integers(16))] = "zz"
        rows += [(3 * i, " ".join(words)), (3 * i + 1, " ".join(words)), (3 * i + 2, " ".join(near))]
    return spark.createDataFrame(rows, "doc_id long, text string"), "doc_id"


def _emb(spark, dim: int = 8):
    """60 vectors in 30 near-identical pairs (ids 2i and 2i+1)."""
    rng = np.random.default_rng(5)
    rows = []
    for i in range(30):
        v = rng.normal(0.0, 1.0, dim)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + rng.normal(0.0, 0.01, dim)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), "vec_id"


def _series(spark):
    """Three keys × 96 hourly buckets of 6dp values with a trend, a daily
    cycle and a few spikes."""
    rng = np.random.default_rng(9)
    rows = []
    for k, key in enumerate(("a", "b", "c")):
        for t in range(96):
            y = 10.0 * k + 0.05 * t + 3.0 * np.sin(2 * np.pi * t / 24) + rng.normal(0.0, 0.5)
            y += 8.0 if t % 37 == 5 else 0.0
            rows.append((key, 1_704_067_200 + 3600 * t, round(float(y), 6)))
    return spark.createDataFrame(rows, "key string, bucket_ts long, y double"), "bucket_ts"


def _events(spark):
    """600 events of three types over five days, values with 2 decimals."""
    rng = np.random.default_rng(13)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (
            f"e{i % 3}",
            t0 + dt.timedelta(seconds=int(rng.integers(5 * 86_400))),
            round(float(rng.normal(50.0, 20.0)), 2),
        )
        for i in range(600)
    ]
    return spark.createDataFrame(rows, "event_type string, ts timestamp, value double"), "value"


def _ref():
    return F.col("vec_id") % 3 == 0


_MEMBERS = {
    "ngram_jaccard_pairs": (_docs, lambda df: dedup.ngram_jaccard_pairs(df, threshold=0.3)),
    "minhash_lsh_pairs": (_docs, lambda df: dedup.minhash_lsh_pairs(df, threshold=0.3)),
    "simhash_near_pairs": (_docs, lambda df: dedup.simhash_near_pairs(df, max_hamming=3)),
    "embedding_near_pairs": (_emb, lambda df: dedup.embedding_near_pairs(df, threshold=0.9, dim=8)),
    "knn_outlier_scores": (_emb, lambda df: ann.knn_outlier_scores(df, _ref(), k=3)),
    "knn_ensemble_scores": (_emb, lambda df: ann.knn_ensemble_scores(df, _ref(), ks=(1, 2, 3))),
    "lof_outlier_scores": (_emb, lambda df: outlier.lof_outlier_scores(df, _ref(), k=3)),
    "seasonal_band_outliers": (_series, lambda df: detect.seasonal_band_outliers(df, "key", "y")),
    "trend_band_outliers": (_series, lambda df: detect.trend_band_outliers(df, "key", "y")),
    "metric_rollup_downsample": (
        _events,
        lambda df: rollup.metric_downsample(
            rollup.metric_rollup(df, "event_type", "ts", "value", "1h"), "event_type", "1h", "1d"
        ),
    ),
}


@pytest.mark.parametrize("name", sorted(_MEMBERS))
def test_shared_block_members_partitioning_invariance(spark, name):
    make, op = _MEMBERS[name]
    df, col = make(spark)
    a = sorted(map(tuple, op(df.repartition(1)).collect()))
    b = sorted(map(tuple, op(df.repartition(16, col)).collect()))
    assert a, f"{name}: empty output makes the comparison vacuous"
    assert a == b
