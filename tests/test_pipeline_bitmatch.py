"""Engine ↔ oracle bit-match (the north-star correctness gate).

Spark pipeline on the synthetic token table must equal the single-node
NumPy/pandas reference: rollup rows exactly, encoded tier pages BYTE-equal,
detector score trajectories bit-equal (BASELINE.json north_star)."""

import numpy as np
import pandas as pd
import pytest

from alibi_detect_spark.operators.detect import score_rollup
from alibi_detect_spark.operators.encode import decode_pages, encode_pages
from alibi_detect_spark.operators.gapfill import gapfill
from alibi_detect_spark.operators.rollup import downsample, rollup_tier1, token_invariant_check
from alibi_detect_spark.oracle import (
    downsample_pandas,
    encode_pages_pandas,
    gapfill_pandas,
    oracle_pipeline,
    rollup_pandas,
    score_pandas,
)
from alibi_detect_spark.synth import SynthConfig, synth_dataframe, synth_pandas

CFG = SynthConfig(n_rows=60_000, n_sources=8, rows_per_bucket=64)  # ~117 hourly buckets/source
PAGE = 256
DETECT = dict(
    value_col="sum_n_tok",
    mmd_params=dict(n_ref=48, ert=40.0, window_size=6, n_bootstraps=100),
)


@pytest.fixture(scope="module")
def raw_spark(spark):
    return synth_dataframe(spark, CFG, with_tokens=False, num_partitions=8).cache()


@pytest.fixture(scope="module")
def oracle():
    return oracle_pipeline(
        synth_pandas(CFG, with_tokens=False), page_size=PAGE, detect_kwargs=DETECT
    )


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(["source", "bucket_ts"], kind="mergesort").reset_index(drop=True)
    for c in out.columns:
        if out[c].dtype.kind in "fiu" and c not in ("bucket_ts",):
            out[c] = out[c].astype(np.float64)
    return out


def assert_frames_bitequal(actual: pd.DataFrame, expected: pd.DataFrame):
    a, e = _norm(actual), _norm(expected[actual.columns])
    assert len(a) == len(e), (len(a), len(e))
    for c in a.columns:
        av, ev = a[c].to_numpy(), e[c].to_numpy()
        if av.dtype.kind == "f":
            assert np.array_equal(av.view(np.uint64), ev.view(np.uint64)), f"col {c} differs"
        else:
            assert np.array_equal(av, ev), f"col {c} differs"


def test_synth_distributed_matches_single_node(spark):
    """Generation is partition-invariant: 3 partitions == 8 == single-node."""
    small = SynthConfig(n_rows=5_000, n_sources=8)
    a = synth_dataframe(spark, small, with_tokens=True, num_partitions=3).toPandas()
    b = synth_pandas(small, with_tokens=True)
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a["doc_id"].equals(b["doc_id"])
    assert a["n_tok"].equals(b["n_tok"])
    assert a["source"].equals(b["source"])
    assert (a["event_ts"] == b["event_ts"]).all()
    for x, y in zip(a["tokens"], b["tokens"]):
        assert np.array_equal(np.asarray(x), np.asarray(y))


def test_token_invariant(spark):
    small = SynthConfig(n_rows=2_000, n_sources=4)
    raw = synth_dataframe(spark, small, with_tokens=True)
    assert token_invariant_check(raw).count() == 0


def test_tier1_rollup_bitmatch(spark, raw_spark, oracle):
    got = rollup_tier1(raw_spark, "1h").toPandas()
    assert_frames_bitequal(got, oracle["t1"])


def test_tier1_salted_rollup_identical(spark, raw_spark, oracle):
    got = rollup_tier1(raw_spark, "1h", salted=True).toPandas()
    assert_frames_bitequal(got, oracle["t1"])


def test_gapfill_bitmatch_and_has_gaps(spark, raw_spark, oracle):
    filled = gapfill(rollup_tier1(raw_spark, "1h"), "1h").toPandas()
    assert filled["gapfilled"].sum() > 0, "synth config should produce real gaps"
    assert_frames_bitequal(filled, oracle["t1_filled"])


def test_downsample_cascade_bitmatch(spark, raw_spark, oracle):
    t1f = gapfill(rollup_tier1(raw_spark, "1h"), "1h")
    t2 = downsample(t1f, "1h", "6h")
    assert_frames_bitequal(t2.toPandas(), oracle["t2"])
    t3 = downsample(t2, "6h", "1d")
    assert_frames_bitequal(t3.toPandas(), oracle["t3"])


def test_pages_byte_equal(spark, raw_spark, oracle):
    t1f = gapfill(rollup_tier1(raw_spark, "1h"), "1h")
    got = encode_pages(t1f, "1h", page_size=PAGE).toPandas()
    exp = oracle["pages"]["1h"]
    key = ["source", "page_start_ts"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(got) == len(exp)
    assert np.array_equal(
        got["n_points"].to_numpy(np.int64), exp["n_points"].to_numpy(np.int64)
    )
    for g, e in zip(got["page"], exp["page"]):
        assert bytes(g) == bytes(e), "encoded tier page bytes differ"


def test_pages_decode_roundtrip(spark, raw_spark):
    t1f = gapfill(rollup_tier1(raw_spark, "1h"), "1h")
    pages = encode_pages(t1f, "1h", page_size=PAGE)
    decoded = decode_pages(pages).toPandas().drop(columns=["tier"])
    original = t1f.toPandas()
    assert_frames_bitequal(
        decoded, original[["source", "bucket_ts", "n_docs", "sum_n_tok", "min_n_tok", "max_n_tok", "mean_n_tok"]]
    )


def test_detector_scores_bitmatch(spark, raw_spark, oracle):
    t1f = gapfill(rollup_tier1(raw_spark, "1h"), "1h")
    got = score_rollup(t1f, **DETECT).toPandas()
    assert_frames_bitequal(got, oracle["scores"])
    # sanity: detectors actually fire somewhere on skewed synth data
    assert got["sr_score"].notna().any()
    assert got["mmd_stat"].notna().any()
