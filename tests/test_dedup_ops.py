"""Edge-case tests for the dedup operators and the outlier-scan invariants."""

import numpy as np
import pytest
from hypothesis import Phase, given, settings
from hypothesis import strategies as st
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


def _sketches(x):
    """The 24-bit random-hyperplane sketch of each row of ``x``."""
    bits = (x @ dedup._hyperplanes(x.shape[1]).T) >= 0.0
    return (bits.astype(np.int64) << np.arange(dedup.HP_BITS, dtype=np.int64)).sum(axis=1)


def _fold_dot(a, b):
    """Row-wise dot product as the left fold ``((0.0 + a1*b1) + a2*b2) + ...``."""
    acc = 0.0
    for d in range(a.shape[1]):
        acc = acc + a[:, d] * b[:, d]
    return acc


def _rows(df):
    """Sorted output rows with a NaN cosine made comparable."""
    return sorted((a, b, "nan" if c != c else c) for a, b, c in df.collect())


# no shrink phase: each example runs Spark jobs, and shrinking a failure
# would rerun them for minutes before reporting it
@settings(max_examples=5, deadline=None, phases=(Phase.explicit, Phase.reuse, Phase.generate))
@given(
    seed=st.integers(0, 2**32 - 1),
    n_clusters=st.integers(1, 4),
    noise=st.sampled_from([1e-3, 0.05, 0.3]),
    target=st.floats(0.0, 0.99),
)
def test_embedding_near_pairs_matches_brute_force_spec(spark, seed, n_clusters, noise, target):
    """Against the spec by brute force at dim 8: every pair sharing at least
    one of the 6 sketch bands, the left-fold cosine, then Spark's own
    ``round(c, 6) >= threshold``. Clustered vectors make many pairs share
    several bands; row 1 copies row 0 (all 6 bands shared, one output row);
    rows n-2 and n-1 carry a NaN component (sketch 0, NaN cosine, kept as
    Spark orders NaN above every double); the threshold is the rounded
    cosine of a pair that Spark rounds up, so that pair's raw cosine lies in
    ``[threshold - 5e-7, threshold)`` and it must be kept."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, 8))
    x = np.concatenate([c + noise * rng.normal(size=(10, 8)) for c in centers])
    x = np.concatenate([x[:1], x, x[2:4]])
    x[-2:, 3] = np.nan
    n = len(x)
    sk = _sketches(x)
    ia, ib = np.triu_indices(n, 1)
    shared = np.zeros(len(ia), bool)
    for b in range(dedup.HP_BANDS):
        shared |= ((sk[ia] >> 4 * b) & 15) == ((sk[ib] >> 4 * b) & 15)
    ia, ib = ia[shared], ib[shared]
    nrm = np.sqrt(_fold_dot(x, x))
    raw = _fold_dot(x[ia], x[ib]) / (nrm[ia] * nrm[ib])
    ref = spark.createDataFrame(  # from tuples: a pandas frame would turn NaN into NULL
        list(zip(ia.tolist(), ib.tolist(), raw.tolist())), "vec_a long, vec_b long, c double"
    ).select("vec_a", "vec_b", F.round("c", 6).alias("cosine"))
    rounded = np.array([c for _, _, c in ref.collect()])
    up = np.flatnonzero(np.isfinite(raw) & (rounded > raw))
    k = up[np.argmin(np.abs(rounded[up] - target))]
    threshold = float(rounded[k])
    assert threshold - 5e-7 <= raw[k] < threshold

    emb = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)], "vec_id long, embedding array<double>"
    )
    got = _rows(dedup.embedding_near_pairs(emb, threshold=threshold, dim=8))
    assert got == _rows(ref.where(F.col("cosine") >= threshold))
    pairs = [(a, b) for a, b, _ in got]
    assert len(pairs) == len(set(pairs))
    assert (0, 1) in pairs and sk[0] == sk[1]
    assert (n - 2, n - 1, "nan") in got
    assert (int(ia[k]), int(ib[k])) in pairs


@settings(max_examples=50, deadline=None)
@given(n=st.integers(0, 40), block=st.integers(1, 30))
def test_pair_blocks_enumerate_each_pair_once_in_bounded_blocks(n, block):
    blocks = list(dedup._pair_blocks(n, block))
    assert all(len(ia) < 2 * block for ia, _ in blocks)
    ia = np.concatenate([a for a, _ in blocks]) if blocks else np.empty(0, int)
    ib = np.concatenate([b for _, b in blocks]) if blocks else np.empty(0, int)
    want_a, want_b = np.triu_indices(n, 1)
    assert np.array_equal(ia, want_a) and np.array_equal(ib, want_b)


def test_embedding_near_pairs_names_a_zero_norm_vector(spark):
    """A zero vector in a candidate pair fails in the verify pass with a
    message naming the operator, the row and the rule, not a bare
    ``[DIVIDE_BY_ZERO]`` from the JVM."""
    x = np.random.default_rng(8).normal(size=(40, 8))
    x[7] = 0.0
    sk = _sketches(x)
    keys = np.stack([(sk >> 4 * b) & 15 for b in range(dedup.HP_BANDS)])  # [band, row]
    assert (np.delete(keys, 7, axis=1) == 15).any()  # vector 7 (keys all 15) has a candidate
    emb = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(x)], "vec_id long, embedding array<double>"
    )
    msg = (
        r"ValueError: embedding_near_pairs: the cosine is undefined for a zero-norm vector, "
        r"but vec_id 7 \(in a pair with vec_id \d+\) has norm 0.0"
    )
    with pytest.raises(PythonException, match=msg):
        dedup.embedding_near_pairs(emb, dim=8).collect()


def test_embedding_near_pairs_drops_pairs_of_a_vector_with_a_null_component(spark):
    """A NULL component makes the cosine NULL, which the threshold filter
    drops: the copy of vector 0 loses its pair, every other pair stays."""
    x = np.random.default_rng(4).normal(size=(6, 8))
    rows = [(2 * i + j, [float(v) for v in r]) for i, r in enumerate(x) for j in range(2)]
    rows[1] = (1, [None] + rows[1][1][1:])
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted((a, b) for a, b, _ in dedup.embedding_near_pairs(emb, threshold=0.99, dim=8).collect())
    assert got == [(2 * i, 2 * i + 1) for i in range(1, 6)]
