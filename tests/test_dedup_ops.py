"""Edge-case tests for the dedup operators and the outlier-scan invariants."""

import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from alibi_detect_spark.operators import dedup


def test_short_docs_do_not_crash_shingles(spark):
    """Docs shorter than the shingle width must yield EMPTY shingle arrays
    (matching the DuckDB oracle's empty generate_series), not an
    INVALID_INDEX_OF_ZERO crash from a descending sequence."""
    rows = [
        (1, "one"),
        (2, "two words"),
        (3, "exactly three words"),
        (4, "a longer document with plenty of words for shingling"),
        (3001, "exactly three words"),  # dup of 3 to produce one pair
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = df.select("doc_id", dedup.shingles_col().alias("sh")).toPandas()
    by_id = dict(zip(sh["doc_id"], sh["sh"]))
    assert len(by_id[1]) == 0 and len(by_id[2]) == 0
    assert list(by_id[3]) == ["exactly three words"]
    # full pipelines run end-to-end over the short docs
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.05).toPandas()
    assert {(3, 3001)} == set(zip(pairs["doc_a"], pairs["doc_b"]))
    lsh = dedup.minhash_lsh_pairs(df, threshold=0.05).toPandas()
    assert {(3, 3001)} == set(zip(lsh["doc_a"], lsh["doc_b"]))


def test_kpca_scores_partition_invariant(spark):
    """kpca_score must be bit-identical under any partitioning / Arrow batch
    boundary (the repo's bit-match invariant): centering is normalized by the
    reference size only, never the test batch size."""
    from alibi_detect_spark.operators.outlier import kernel_pca_outlier_scores

    rng = np.random.default_rng(77)
    x = rng.standard_normal((240, 6))
    rows = [(int(i), [float(v) for v in r]) for i, r in enumerate(x)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ref_pred = F.col("vec_id") % 3 == 0

    def scores(part):
        got = (
            kernel_pca_outlier_scores(df.repartition(part), ref_pred, n_components=3)
            .toPandas()
            .sort_values("vec_id")
        )
        return got["kpca_score"].to_numpy()

    a, b = scores(1), scores(13)
    assert np.array_equal(a.view(np.uint64), b.view(np.uint64))


def test_kmeans_cells_deterministic_and_partitioning_invariant(spark):
    """The quantized Lloyd iterations are exact integer math: the assignment
    must be identical under any partitioning, and cells must actually
    separate the data (non-degenerate)."""
    from alibi_detect_spark.operators.ann import kmeans_cells

    rng = np.random.default_rng(91)
    centers = rng.standard_normal((4, 8)) * 4.0
    x = np.concatenate([centers[i] + 0.3 * rng.standard_normal((100, 8)) for i in range(4)])
    rows = [(int(i), [float(v) for v in r]) for i, r in enumerate(x)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = kmeans_cells(df, n_cells=4, n_iter=2).toPandas().sort_values("vec_id")
    b = kmeans_cells(df.repartition(9), n_cells=4, n_iter=2).toPandas().sort_values("vec_id")
    assert np.array_equal(a["cell"].to_numpy(), b["cell"].to_numpy())
    # each true cluster maps to ONE dominant cell
    for i in range(4):
        counts = a["cell"].to_numpy()[i * 100 : (i + 1) * 100]
        top = np.bincount(counts, minlength=4).max()
        assert top >= 95, (i, np.bincount(counts, minlength=4))


def test_dedup_clusters_components_and_survivors(spark):
    """Min-label propagation finds the connected components of the pair
    graph; survivor = smallest id per component (incl. a diameter-3 chain
    within the default 3 rounds)."""
    from alibi_detect_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12), (20, 21), (30, 31), (31, 32), (30, 32)],
        "doc_a long, doc_b long",
    )
    got = dedup_clusters(pairs).toPandas().sort_values("doc_id")
    by = dict(zip(got["doc_id"], got["cluster_id"]))
    assert by == {1: 1, 5: 1, 9: 1, 12: 1, 20: 20, 21: 20, 30: 30, 31: 30, 32: 30}
    surv = set(got[got["is_survivor"] == 1]["doc_id"])
    assert surv == {1, 20, 30}


def test_embedding_near_pairs_rejects_ragged_and_wrong_width_vectors(spark):
    """A vector whose length is not ``dim`` fails in the sketch stage with a
    message naming the operator, the row and both widths, not an executor
    trace from ``np.stack`` or the hyperplane matmul."""
    x = np.random.default_rng(5).normal(size=(40, 32))
    rows = [(int(i), [float(v) for v in r[: 31 if i == 17 else 32]]) for i, r in enumerate(x)]
    ragged = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    msg = r"ValueError: embedding_near_pairs: every embedding vector must have dim=32 components, but vec_id 17 has 31"
    with pytest.raises(PythonException, match=msg):
        dedup.embedding_near_pairs(ragged, dim=32).collect()
    narrow = spark.createDataFrame([(i, r[:32]) for i, r in rows if i != 17], ragged.schema)
    msg = r"ValueError: embedding_near_pairs: every embedding vector must have dim=64 components, but vec_id \d+ has 32"
    with pytest.raises(PythonException, match=msg):
        dedup.embedding_near_pairs(narrow).collect()
