"""Structured Streaming: watermarked rollup equals the batch rollup for every
closed window; checkpoint resume emits the remainder exactly once; every
stateful streaming twin bit-matches its batch replay across micro-batches and
restarts, and logs every row it drops; streaming dedup keeps first arrivals."""

import logging
import os

import numpy as np
import pandas as pd
import pytest

from alibi_detect_spark.functions.ewma import ewma
from alibi_detect_spark.functions.online_thresholds import lsdd2_decision_thresholds
from alibi_detect_spark.operators.rollup import rollup_tier1
from alibi_detect_spark.streaming.rollup_stream import (
    cvm_stream,
    ewma_stream,
    fet_stream,
    lsdd_stream,
    mmd_stream,
    run_stream_rollup_once,
    ssa_stream,
)
from alibi_detect_spark.synth import SynthConfig, synth_batch


def _write_batches(tmp, cfg, splits):
    """Write the synthetic table as consecutive row-index slices (files arrive
    in time order, like an ingest feed)."""
    paths = []
    lo = 0
    os.makedirs(f"{tmp}/in", exist_ok=True)
    for i, hi in enumerate(splits):
        pdf = synth_batch(np.arange(lo, hi, dtype=np.int64), cfg, with_tokens=False)
        p = f"{tmp}/in/part-{i:03d}.parquet"
        # Spark streams µs timestamps; pandas defaults to ns
        pdf.to_parquet(p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
        paths.append(p)
        lo = hi
    return paths


@pytest.fixture(scope="module")
def cfg():
    return SynthConfig(n_rows=40_000, n_sources=4, rows_per_bucket=64)


def _read_out(spark, path):
    df = spark.read.parquet(path).toPandas()
    return df.sort_values(["source", "bucket_ts"]).reset_index(drop=True)


def test_stream_rollup_matches_batch_and_resumes(spark, tmp_path, cfg):
    tmp = str(tmp_path)
    _write_batches(tmp, cfg, [20_000])

    run_stream_rollup_once(
        spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt", watermark_delay="1 minute"
    )
    first = _read_out(spark, f"{tmp}/out")
    assert len(first) > 0

    # batch truth over the first slice
    raw1 = spark.createDataFrame(
        synth_batch(np.arange(0, 20_000, dtype=np.int64), cfg, with_tokens=False)
    )
    batch1 = rollup_tier1(raw1, "1h").toPandas().sort_values(["source", "bucket_ts"]).reset_index(drop=True)
    # append emits only watermark-closed windows: everything except the tail
    closed1 = batch1[batch1["bucket_ts"] < batch1["bucket_ts"].max()].reset_index(drop=True)
    got1 = first[["source", "bucket_ts", "n_docs", "sum_n_tok", "min_n_tok", "max_n_tok"]]
    want1 = closed1[["source", "bucket_ts", "n_docs", "sum_n_tok", "min_n_tok", "max_n_tok"]]
    pd.testing.assert_frame_equal(got1, want1, check_dtype=False)

    # second slice arrives; SAME checkpoint → resume, no duplicates
    _write_batches(tmp, cfg, [20_000, 40_000])  # rewrites slice 0 identically + adds slice 1
    run_stream_rollup_once(
        spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt", watermark_delay="1 minute"
    )
    both = _read_out(spark, f"{tmp}/out")
    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    batch = rollup_tier1(raw, "1h").toPandas().sort_values(["source", "bucket_ts"]).reset_index(drop=True)
    closed = batch[batch["bucket_ts"] < batch["bucket_ts"].max()].reset_index(drop=True)
    got = both[["source", "bucket_ts", "n_docs", "sum_n_tok", "min_n_tok", "max_n_tok"]]
    want = closed[["source", "bucket_ts", "n_docs", "sum_n_tok", "min_n_tok", "max_n_tok"]]
    assert len(got) == len(want), "resume must emit each closed window exactly once"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_ewma_stream_bitmatches_recursion(spark, tmp_path, cfg):
    tmp = str(tmp_path)
    # feed the BATCH rollup rows as a stream, two files in time order
    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    rollup = rollup_tier1(raw, "1h").toPandas().sort_values(["source", "bucket_ts"])
    cut = rollup["bucket_ts"].median()
    os.makedirs(f"{tmp}/rin", exist_ok=True)
    rollup[rollup["bucket_ts"] <= cut].to_parquet(f"{tmp}/rin/p0.parquet", index=False)
    rollup[rollup["bucket_ts"] > cut].to_parquet(f"{tmp}/rin/p1.parquet", index=False)

    src = (
        spark.readStream.schema(
            "source string, bucket_ts long, n_docs long, sum_n_tok long,"
            " min_n_tok int, max_n_tok int, mean_n_tok double, gapfilled boolean"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/rin")
    )
    out = ewma_stream(src, lam=0.1)
    q = (
        out.writeStream.format("parquet")
        .option("path", f"{tmp}/rout")
        .option("checkpointLocation", f"{tmp}/rckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = _read_out(spark, f"{tmp}/rout")

    for source, grp in rollup.groupby("source"):
        want = ewma(grp["sum_n_tok"].to_numpy(np.float64), 0.1)
        g = got[got["source"] == source]["ewma"].to_numpy(np.float64)
        assert np.array_equal(g.view(np.uint64), want.view(np.uint64)), source


def test_mmd_stream_bitmatches_batch(spark, tmp_path, cfg):
    """Streaming online-MMD (fit batch-side, state in the state store) must
    reproduce the batch replay trajectories bit-for-bit across micro-batches."""
    tmp = str(tmp_path)
    from alibi_detect_spark.functions.mmd import OnlineMMD
    from alibi_detect_spark.operators.detect import source_seed
    from alibi_detect_spark.streaming.rollup_stream import mmd_stream

    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    rollup = rollup_tier1(raw, "1h").toPandas().sort_values(["source", "bucket_ts"])
    n_ref, W = 48, 6

    # fit per-source detectors batch-side (ref = head of each series)
    dets, batch_out = {}, {}
    for source, grp in rollup.groupby("source"):
        x = grp["sum_n_tok"].to_numpy(np.float64)[:, None]
        det = OnlineMMD.fit(x[:n_ref], ert=40.0, window_size=W, n_bootstraps=100,
                            seed=source_seed(source, 42))
        dets[source] = det
        stats, thr, drift, _ = det.score_stream(x[n_ref:])
        batch_out[source] = (grp["bucket_ts"].to_numpy()[n_ref:], stats, thr, drift)

    # stream only the post-ref rows, two files in time order
    post = rollup[rollup.groupby("source").cumcount() >= n_ref]
    cut = post["bucket_ts"].median()
    os.makedirs(f"{tmp}/min", exist_ok=True)
    post[post["bucket_ts"] <= cut].to_parquet(f"{tmp}/min/p0.parquet", index=False)
    post[post["bucket_ts"] > cut].to_parquet(f"{tmp}/min/p1.parquet", index=False)
    src = (
        spark.readStream.schema(
            "source string, bucket_ts long, n_docs long, sum_n_tok long,"
            " min_n_tok int, max_n_tok int, mean_n_tok double, gapfilled boolean"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/min")
    )
    q = (
        mmd_stream(src, dets)
        .writeStream.format("parquet")
        .option("path", f"{tmp}/mout")
        .option("checkpointLocation", f"{tmp}/mckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{tmp}/mout").toPandas().sort_values(["source", "bucket_ts"])

    for source, (ts, stats, thr, drift) in batch_out.items():
        g = got[got["source"] == source].sort_values("bucket_ts")
        assert np.array_equal(g["bucket_ts"].to_numpy(), ts), source
        assert np.array_equal(
            g["mmd_stat"].to_numpy(np.float64).view(np.uint64), stats.view(np.uint64)
        ), source
        assert np.array_equal(g["mmd_is_drift"].to_numpy(np.int64), drift.astype(np.int64)), source


def test_cvm_stream_bitmatches_batch(spark, tmp_path, cfg):
    """Streaming multi-window online-CVM must reproduce the batch replay
    bit-for-bit across micro-batches (integer window counts make the chunked
    scoring exact)."""
    tmp = str(tmp_path)
    from alibi_detect_spark.functions.cvm import OnlineCVM, fit_thresholds
    from alibi_detect_spark.streaming.rollup_stream import cvm_stream

    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    rollup = rollup_tier1(raw, "1h").toPandas().sort_values(["source", "bucket_ts"])
    n_ref, wins = 48, (5, 10)
    thr_shared = fit_thresholds(n_ref, wins, ert=40.0, n_bootstraps=200, seed=42)

    dets, batch_out = {}, {}
    for source, grp in rollup.groupby("source"):
        x = grp["sum_n_tok"].to_numpy(np.float64)
        det = OnlineCVM.fit(x[:n_ref], ert=40.0, window_sizes=wins, thresholds=thr_shared)
        dets[source] = det
        stats, thr, drift, _ = det.score_stream(x[n_ref:])
        batch_out[source] = (grp["bucket_ts"].to_numpy()[n_ref:], stats, drift)

    post = rollup[rollup.groupby("source").cumcount() >= n_ref]
    cut = post["bucket_ts"].median()
    os.makedirs(f"{tmp}/cin", exist_ok=True)
    post[post["bucket_ts"] <= cut].to_parquet(f"{tmp}/cin/p0.parquet", index=False)
    post[post["bucket_ts"] > cut].to_parquet(f"{tmp}/cin/p1.parquet", index=False)
    src = (
        spark.readStream.schema(
            "source string, bucket_ts long, n_docs long, sum_n_tok long,"
            " min_n_tok int, max_n_tok int, mean_n_tok double, gapfilled boolean"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/cin")
    )
    q = (
        cvm_stream(src, dets)
        .writeStream.format("parquet")
        .option("path", f"{tmp}/cout")
        .option("checkpointLocation", f"{tmp}/cckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{tmp}/cout").toPandas().sort_values(["source", "bucket_ts"])

    for source, (ts, stats, drift) in batch_out.items():
        g = got[got["source"] == source].sort_values("bucket_ts")
        assert np.array_equal(g["bucket_ts"].to_numpy(), ts), source
        got_stats = np.stack(g["cvm_stats"].to_numpy())
        assert np.array_equal(
            np.nan_to_num(got_stats, nan=-1.0).view(np.uint64),
            np.nan_to_num(stats, nan=-1.0).view(np.uint64),
        ), source
        assert np.array_equal(g["cvm_is_drift"].to_numpy(np.int64), drift.astype(np.int64)), source


def test_fet_stream_bitmatches_batch(spark, tmp_path, cfg):
    """Streaming multi-window online-FET: the EWMA carries in the state store
    continue the recursion exactly across micro-batches."""
    tmp = str(tmp_path)
    from alibi_detect_spark.functions.fet import OnlineFET
    from alibi_detect_spark.operators.detect import source_seed
    from alibi_detect_spark.streaming.rollup_stream import fet_stream

    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    rollup = rollup_tier1(raw, "1h").toPandas().sort_values(["source", "bucket_ts"])
    med = rollup["sum_n_tok"].median()
    rollup["bit"] = (rollup["sum_n_tok"] > med).astype(np.int64)
    n_ref, wins = 60, (8, 15)

    dets, batch_out = {}, {}
    for source, grp in rollup.groupby("source"):
        bits = grp["bit"].to_numpy(np.int64)
        det = OnlineFET.fit(bits[:n_ref], ert=40.0, window_sizes=wins,
                            n_bootstraps=400, seed=source_seed(source, 7))
        dets[source] = det
        stats, thr, drift, _ = det.score_stream(bits[n_ref:])
        batch_out[source] = (grp["bucket_ts"].to_numpy()[n_ref:], stats, drift)

    post = rollup[rollup.groupby("source").cumcount() >= n_ref]
    cut = post["bucket_ts"].median()
    os.makedirs(f"{tmp}/fin", exist_ok=True)
    post[post["bucket_ts"] <= cut].to_parquet(f"{tmp}/fin/p0.parquet", index=False)
    post[post["bucket_ts"] > cut].to_parquet(f"{tmp}/fin/p1.parquet", index=False)
    src = (
        spark.readStream.schema(
            "source string, bucket_ts long, n_docs long, sum_n_tok long,"
            " min_n_tok int, max_n_tok int, mean_n_tok double, gapfilled boolean, bit long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/fin")
    )
    q = (
        fet_stream(src, dets)
        .writeStream.format("parquet")
        .option("path", f"{tmp}/fout")
        .option("checkpointLocation", f"{tmp}/fckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{tmp}/fout").toPandas().sort_values(["source", "bucket_ts"])

    for source, (ts, stats, drift) in batch_out.items():
        g = got[got["source"] == source].sort_values("bucket_ts")
        assert np.array_equal(g["bucket_ts"].to_numpy(), ts), source
        got_stats = np.stack(g["fet_stats"].to_numpy())
        assert np.array_equal(
            np.nan_to_num(got_stats, nan=-1.0).view(np.uint64),
            np.nan_to_num(stats, nan=-1.0).view(np.uint64),
        ), source
        assert np.array_equal(g["fet_is_drift"].to_numpy(np.int64), drift.astype(np.int64)), source


def test_lsdd_stream_bitmatches_batch(spark, tmp_path, cfg):
    """Streaming online-LSDD (normalized FIFO window in the state store)
    reproduces the batch replay bit-for-bit across micro-batches."""
    tmp = str(tmp_path)
    from alibi_detect_spark.functions.lsdd import OnlineLSDD
    from alibi_detect_spark.operators.detect import source_seed
    from alibi_detect_spark.streaming.rollup_stream import lsdd_stream

    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    rollup = rollup_tier1(raw, "1h").toPandas().sort_values(["source", "bucket_ts"])
    rollup["v2"] = rollup["n_docs"].astype(np.float64)
    n_ref, W = 60, 6

    dets, batch_out = {}, {}
    for source, grp in rollup.groupby("source"):
        x = grp[["sum_n_tok", "v2"]].to_numpy(np.float64)
        det = OnlineLSDD.fit(x[:n_ref], ert=40.0, window_size=W, n_bootstraps=100,
                             seed=source_seed(source, 11))
        dets[source] = det
        stats, thr, drift, _ = det.score_stream(x[n_ref:])
        batch_out[source] = (grp["bucket_ts"].to_numpy()[n_ref:], stats, drift)

    post = rollup[rollup.groupby("source").cumcount() >= n_ref]
    cut = post["bucket_ts"].median()
    os.makedirs(f"{tmp}/lin", exist_ok=True)
    post[post["bucket_ts"] <= cut].to_parquet(f"{tmp}/lin/p0.parquet", index=False)
    post[post["bucket_ts"] > cut].to_parquet(f"{tmp}/lin/p1.parquet", index=False)
    src = (
        spark.readStream.schema(
            "source string, bucket_ts long, n_docs long, sum_n_tok long,"
            " min_n_tok int, max_n_tok int, mean_n_tok double, gapfilled boolean, v2 double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/lin")
    )
    q = (
        lsdd_stream(src, dets, value_cols=["sum_n_tok", "v2"])
        .writeStream.format("parquet")
        .option("path", f"{tmp}/lout")
        .option("checkpointLocation", f"{tmp}/lckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{tmp}/lout").toPandas().sort_values(["source", "bucket_ts"])

    for source, (ts, stats, drift) in batch_out.items():
        g = got[got["source"] == source].sort_values("bucket_ts")
        assert np.array_equal(g["bucket_ts"].to_numpy(), ts), source
        assert np.array_equal(
            g["lsdd_stat"].to_numpy(np.float64).view(np.uint64), stats.view(np.uint64)
        ), source
        assert np.array_equal(g["lsdd_is_drift"].to_numpy(np.int64), drift.astype(np.int64)), source


def test_sr_stream_bitmatches_chunked_batch(spark, tmp_path, cfg):
    """Streaming chunk+halo SR reproduces sr_score_chunked bit-for-bit, and
    the trajectory is invariant to micro-batch slicing (two slicings)."""
    tmp = str(tmp_path)
    from alibi_detect_spark.functions.sr import sr_score_chunked
    from alibi_detect_spark.streaming.rollup_stream import sr_stream

    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    rollup = rollup_tier1(raw, "1h").toPandas().sort_values(["source", "bucket_ts"])
    chunk_size, halo = 64, 32

    batch_out = {}
    for source, grp in rollup.groupby("source"):
        x = grp["sum_n_tok"].to_numpy(np.float64)
        scores = sr_score_chunked(x, chunk_size, halo)
        n_emit = (len(x) // chunk_size) * chunk_size
        batch_out[source] = (grp["bucket_ts"].to_numpy()[:n_emit], scores)

    schema = (
        "source string, bucket_ts long, n_docs long, sum_n_tok long,"
        " min_n_tok int, max_n_tok int, mean_n_tok double, gapfilled boolean"
    )
    for tag, n_files in (("a", 2), ("b", 7)):
        os.makedirs(f"{tmp}/sr_in_{tag}", exist_ok=True)
        cuts = np.quantile(
            rollup["bucket_ts"].to_numpy(), np.linspace(0, 1, n_files + 1)
        )
        for i in range(n_files):
            lo, hi = cuts[i], cuts[i + 1]
            part = rollup[
                (rollup["bucket_ts"] > lo if i else rollup["bucket_ts"] >= lo)
                & (rollup["bucket_ts"] <= hi)
            ]
            part.to_parquet(f"{tmp}/sr_in_{tag}/p{i:02d}.parquet", index=False)
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/sr_in_{tag}")
        )
        q = (
            sr_stream(src, chunk_size=chunk_size, halo=halo)
            .writeStream.format("parquet")
            .option("path", f"{tmp}/sr_out_{tag}")
            .option("checkpointLocation", f"{tmp}/sr_ckpt_{tag}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = (
            spark.read.parquet(f"{tmp}/sr_out_{tag}")
            .toPandas()
            .sort_values(["source", "bucket_ts"])
        )
        for source, (ts, scores) in batch_out.items():
            g = got[got["source"] == source].sort_values("bucket_ts")
            assert np.array_equal(g["bucket_ts"].to_numpy(), ts), (tag, source)
            assert np.array_equal(
                g["sr_score"].to_numpy(np.float64).view(np.uint64),
                scores.view(np.uint64),
            ), (tag, source)


def test_ssa_stream_bitmatches_batch(spark, tmp_path, cfg):
    """Streaming window-4 SSA (fit batch-side, halo in the state store) must
    reproduce the batch operator's finalized scores bit-for-bit across
    micro-batches (the last w-1 positions stay pending in a stream)."""
    tmp = str(tmp_path)
    from alibi_detect_spark.operators.detect import (
        ssa_outlier_wfeat_over,
        ssa_wfeat_par,
    )
    from alibi_detect_spark.streaming.rollup_stream import ssa_stream

    w = 4
    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    rollup_df = rollup_tier1(raw, "1h")
    rollup = rollup_df.toPandas().sort_values(["source", "bucket_ts"])

    # fit half: the SAME JVM-computed eigenvectors ship in the stream closure
    par = ssa_wfeat_par(rollup_df, "source", "bucket_ts", "sum_n_tok", w).collect()
    vectors = {r["source"]: [float(r[f"v{j}"]) for j in range(w)] for r in par}

    batch = (
        ssa_outlier_wfeat_over(rollup_df, "source", "bucket_ts", "sum_n_tok", w)
        .toPandas()
        .sort_values(["source", "bucket_ts"])
    )

    # stream the rollup rows as three files in time order
    cuts = rollup["bucket_ts"].quantile([0.3, 0.7]).to_numpy()
    os.makedirs(f"{tmp}/sin", exist_ok=True)
    rollup[rollup["bucket_ts"] <= cuts[0]].to_parquet(f"{tmp}/sin/p0.parquet", index=False)
    rollup[(rollup["bucket_ts"] > cuts[0]) & (rollup["bucket_ts"] <= cuts[1])].to_parquet(
        f"{tmp}/sin/p1.parquet", index=False
    )
    rollup[rollup["bucket_ts"] > cuts[1]].to_parquet(f"{tmp}/sin/p2.parquet", index=False)
    src = (
        spark.readStream.schema(
            "source string, bucket_ts long, n_docs long, sum_n_tok long,"
            " min_n_tok int, max_n_tok int, mean_n_tok double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/sin")
    )
    q = (
        ssa_stream(src, vectors, w=w)
        .writeStream.format("parquet")
        .option("path", f"{tmp}/sout")
        .option("checkpointLocation", f"{tmp}/sckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{tmp}/sout").toPandas().sort_values(["source", "bucket_ts"])

    for source, bg in batch.groupby("source"):
        bg = bg.sort_values("bucket_ts").iloc[: -(w - 1)]  # finalized prefix
        g = got[got["source"] == source].sort_values("bucket_ts")
        assert np.array_equal(g["bucket_ts"].to_numpy(), bg["bucket_ts"].to_numpy()), source
        assert np.array_equal(
            g["ssa4_score"].to_numpy(np.float64).view(np.uint64),
            bg["ssa4_score"].to_numpy(np.float64).view(np.uint64),
        ), source


def test_mahalanobis_stream_bitmatches_batch(spark, tmp_path):
    """Streaming online-Mahalanobis (six-integer prefix-moment state)
    reproduces the batch operator bit-for-bit across micro-batches."""
    import os

    from alibi_detect_spark.operators.detect import mahalanobis_online_stats_over
    from alibi_detect_spark.operators.rollup import rollup_tier1
    from alibi_detect_spark.streaming.rollup_stream import mahalanobis_stream
    from alibi_detect_spark.synth import SynthConfig, synth_batch

    tmp = str(tmp_path)
    cfg = SynthConfig(n_rows=40_000, n_sources=4, rows_per_bucket=64)
    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    rollup = rollup_tier1(raw, "1h").toPandas().sort_values(["source", "bucket_ts"])
    rollup["v2"] = rollup["n_docs"].astype(np.float64)
    rollup["sum_n_tok"] = rollup["sum_n_tok"].astype(np.float64)

    batch = (
        mahalanobis_online_stats_over(
            spark.createDataFrame(rollup),
            "source",
            "bucket_ts",
            ("sum_n_tok", "v2"),
            quant=100,  # sum_n_tok ~5e4: keep second moments well inside int64
        )
        .toPandas()
        .sort_values(["source", "bucket_ts"])
    )

    cut = rollup["bucket_ts"].median()
    os.makedirs(f"{tmp}/min", exist_ok=True)
    rollup[rollup["bucket_ts"] <= cut].to_parquet(f"{tmp}/min/p0.parquet", index=False)
    rollup[rollup["bucket_ts"] > cut].to_parquet(f"{tmp}/min/p1.parquet", index=False)
    src = (
        spark.readStream.schema(
            "source string, bucket_ts long, n_docs long, sum_n_tok double,"
            " min_n_tok int, max_n_tok int, mean_n_tok double, gapfilled boolean, v2 double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/min")
    )
    q = (
        mahalanobis_stream(src, value_cols=("sum_n_tok", "v2"), quant=100)
        .writeStream.format("parquet")
        .option("path", f"{tmp}/mout")
        .option("checkpointLocation", f"{tmp}/mckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{tmp}/mout").toPandas().sort_values(["source", "bucket_ts"])
    assert len(got) == len(batch) > 0
    assert np.array_equal(got["bucket_ts"].to_numpy(), batch["bucket_ts"].to_numpy())
    assert np.array_equal(
        got["maha_score"].to_numpy(np.float64).view(np.uint64),
        batch["maha_score"].to_numpy(np.float64).view(np.uint64),
    )


def test_lsdd_hash_stream_bitmatches_batch(spark, tmp_path):
    """Streaming twin of the declarative online LSDD (centers + integer ref
    sums + kq tail in the state store) reproduces the batch operator
    bit-for-bit — including when a micro-batch boundary splits the first two
    rows the centers derive from."""
    import os

    from alibi_detect_spark.operators.detect import lsdd_online_stats_over
    from alibi_detect_spark.operators.rollup import rollup_tier1
    from alibi_detect_spark.streaming.rollup_stream import lsdd_hash_stream
    from alibi_detect_spark.synth import SynthConfig, synth_batch

    tmp = str(tmp_path)
    cfg = SynthConfig(n_rows=40_000, n_sources=4, rows_per_bucket=64)
    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    rollup = rollup_tier1(raw, "1h").toPandas().sort_values(["source", "bucket_ts"])

    batch = (
        lsdd_online_stats_over(
            spark.createDataFrame(rollup), "source", "bucket_ts", "mean_n_tok",
            n_ref=40, window_size=6,
        )
        .toPandas()
        .sort_values(["source", "bucket_ts"])
    )

    lo = rollup["bucket_ts"].min()
    cut0, cut1 = lo + 3600, rollup["bucket_ts"].median()
    os.makedirs(f"{tmp}/lin", exist_ok=True)
    rollup[rollup["bucket_ts"] < cut0].to_parquet(f"{tmp}/lin/p0.parquet", index=False)
    rollup[(rollup["bucket_ts"] >= cut0) & (rollup["bucket_ts"] <= cut1)].to_parquet(
        f"{tmp}/lin/p1.parquet", index=False
    )
    rollup[rollup["bucket_ts"] > cut1].to_parquet(f"{tmp}/lin/p2.parquet", index=False)
    src = (
        spark.readStream.schema(
            "source string, bucket_ts long, n_docs long, sum_n_tok long,"
            " min_n_tok int, max_n_tok int, mean_n_tok double, gapfilled boolean"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/lin")
    )
    q = (
        lsdd_hash_stream(src, value_col="mean_n_tok", n_ref=40, window_size=6)
        .writeStream.format("parquet")
        .option("path", f"{tmp}/lhout")
        .option("checkpointLocation", f"{tmp}/lhckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{tmp}/lhout").toPandas().sort_values(["source", "bucket_ts"])
    assert len(got) == len(batch) > 0
    assert np.array_equal(got["bucket_ts"].to_numpy(), batch["bucket_ts"].to_numpy())
    assert np.array_equal(
        got["lsdd_stat"].to_numpy(np.float64).view(np.uint64),
        batch["lsdd_stat"].to_numpy(np.float64).view(np.uint64),
    )


def test_lsdd_hash_stream_decisions_match_batch(spark, tmp_path):
    """lsdd_hash_stream with decision_thresholds emits the SAME decisions the
    batch lsdd_decisions comparison produces: rounded stat > thr[min(t, W)]
    with t the absolute step index — across micro-batch boundaries."""
    import os

    import numpy as np

    from alibi_detect_spark.operators.detect import lsdd_online_stats_over
    from alibi_detect_spark.operators.rollup import rollup_tier1
    from alibi_detect_spark.streaming.rollup_stream import lsdd_hash_stream
    from alibi_detect_spark.synth import SynthConfig, synth_batch

    tmp = str(tmp_path)
    cfg = SynthConfig(n_rows=40_000, n_sources=4, rows_per_bucket=64)
    raw = spark.createDataFrame(
        synth_batch(np.arange(0, 40_000, dtype=np.int64), cfg, with_tokens=False)
    )
    rollup = rollup_tier1(raw, "1h").toPandas().sort_values(["source", "bucket_ts"])
    W = 6
    thr = lsdd2_decision_thresholds(n_ref=40, window_size=W, n_bootstraps=200, lo=0.0, hi=200.0)

    batch = (
        lsdd_online_stats_over(
            spark.createDataFrame(rollup), "source", "bucket_ts", "mean_n_tok",
            n_ref=40, window_size=W,
        )
        .toPandas()
        .sort_values(["source", "bucket_ts"])
    )
    batch["t"] = batch.groupby("source").cumcount() + 1
    tarr = np.asarray(thr)[np.minimum(batch["t"].to_numpy(), W) - 1]
    batch_drift = (batch["lsdd_stat"].to_numpy() > tarr).astype(np.int32)

    cut = rollup["bucket_ts"].median()
    os.makedirs(f"{tmp}/din", exist_ok=True)
    rollup[rollup["bucket_ts"] <= cut].to_parquet(f"{tmp}/din/p0.parquet", index=False)
    rollup[rollup["bucket_ts"] > cut].to_parquet(f"{tmp}/din/p1.parquet", index=False)
    src = (
        spark.readStream.schema(
            "source string, bucket_ts long, n_docs long, sum_n_tok long,"
            " min_n_tok int, max_n_tok int, mean_n_tok double, gapfilled boolean"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/din")
    )
    q = (
        lsdd_hash_stream(
            src, value_col="mean_n_tok", n_ref=40, window_size=W,
            decision_thresholds=thr,
        )
        .writeStream.format("parquet")
        .option("path", f"{tmp}/dout")
        .option("checkpointLocation", f"{tmp}/dckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{tmp}/dout").toPandas().sort_values(["source", "bucket_ts"])
    assert len(got) == len(batch) > 0
    assert np.array_equal(got["bucket_ts"].to_numpy(), batch["bucket_ts"].to_numpy())
    assert np.array_equal(
        got["lsdd_stat"].to_numpy(np.float64).view(np.uint64),
        batch["lsdd_stat"].to_numpy(np.float64).view(np.uint64),
    )
    assert np.array_equal(got["lsdd_is_drift"].to_numpy(np.int32), batch_drift)
    assert got["lsdd_is_drift"].sum() > 0  # thresholds inside the stat range


def test_dedup_stream_first_arrival_survives(spark, tmp_path):
    """Streaming exact dedup: across micro-batches, exactly the first arrival
    of each content hash is emitted; uniques all pass."""
    import os

    import pandas as pd

    from alibi_detect_spark.streaming.rollup_stream import dedup_stream

    tmp = str(tmp_path)
    base_ts = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    for i in range(40):
        text = f"doc number {i % 25}"  # ids 0..14 duplicated across batches
        rows.append((i, text, base_ts + pd.Timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "event_ts"])
    os.makedirs(f"{tmp}/ddin", exist_ok=True)
    pdf.iloc[:20].to_parquet(f"{tmp}/ddin/p0.parquet", index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    pdf.iloc[20:].to_parquet(f"{tmp}/ddin/p1.parquet", index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    src = (
        spark.readStream.schema("doc_id long, text string, event_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/ddin")
    )
    q = (
        dedup_stream(src, watermark_delay="1 hour")
        .writeStream.format("parquet")
        .option("path", f"{tmp}/ddout")
        .option("checkpointLocation", f"{tmp}/ddckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(f"{tmp}/ddout").toPandas()
    assert len(got) == 25  # one survivor per distinct text
    # the survivor of each hash is its FIRST arrival (doc_id == i%25 index)
    assert sorted(got["doc_id"]) == sorted(range(25))


class _CaptureRollup:
    """Stand-in rollup DataFrame: keeps the function a twin hands to
    ``applyInPandasWithState`` so it can be driven without Spark."""

    def groupBy(self, *cols):
        return self

    def applyInPandasWithState(self, fn, **kwargs):
        self.fn = fn
        return self


class _State:
    """Minimal ``GroupState``: ``exists``/``get``/``update``."""

    def __init__(self, value=None):
        self.value = value

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def update(self, value):
        self.value = tuple(value)


def _must_not_be_read():
    raise AssertionError("the rows of an unfitted source were read")
    yield  # makes this a generator: it raises only when iterated


_ROWS = pd.DataFrame({"source": "s", "bucket_ts": [3600, 10800], "sum_n_tok": [1.0, 2.0]})


@pytest.mark.parametrize(
    "twin, make, state, batch, emitted_ts, message",
    [
        ("mmd_stream", lambda r: mmd_stream(r, {}), None, _must_not_be_read, [], "no fitted"),
        ("cvm_stream", lambda r: cvm_stream(r, {}), None, _must_not_be_read, [], "no fitted"),
        ("fet_stream", lambda r: fet_stream(r, {}), None, _must_not_be_read, [], "no fitted"),
        ("lsdd_stream", lambda r: lsdd_stream(r, {}), None, _must_not_be_read, [], "no fitted"),
        ("ssa_stream", lambda r: ssa_stream(r, {}), None, _must_not_be_read, [], "no fitted"),
        # last_ts = 7200 is past the row at 3600: that row is late
        ("ewma_stream", ewma_stream, (5.0, 7200), lambda: iter([_ROWS]), [10800], "late"),
    ],
    ids=["mmd-unfitted", "cvm-unfitted", "fet-unfitted", "lsdd-unfitted", "ssa-unfitted", "ewma-late"],
)
def test_stream_drops_are_logged(caplog, twin, make, state, batch, emitted_ts, message):
    """Spark-free: an unfitted source is dropped with one warning naming the
    twin and the source, without reading its rows; a late row is dropped with
    a warning and never emitted."""
    rollup = _CaptureRollup()
    make(rollup)
    st = _State(state)
    with caplog.at_level(logging.WARNING):
        out = list(rollup.fn(("s",), batch(), st))
    emitted = [int(t) for o in out for t in o["bucket_ts"]]
    assert emitted == emitted_ts
    warnings = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1, warnings
    assert twin in warnings[0] and "'s'" in warnings[0] and message in warnings[0]
    if emitted_ts:
        assert st.value[-1] == emitted_ts[-1]  # high-water mark advanced


@pytest.mark.parametrize("twin", ["ewma", "mmd"])
def test_stream_restart_bitmatches_batch(spark, tmp_path, twin):
    """Stop a stateful twin after its first input file, add the second and
    restart from the same checkpoint: the output equals the uninterrupted
    batch replay bit-for-bit."""
    from alibi_detect_spark.functions.mmd import OnlineMMD
    from alibi_detect_spark.operators.detect import source_seed

    tmp = str(tmp_path)
    rng = np.random.default_rng(3)
    n, n_ref = 96, 32
    rollup = pd.concat(
        pd.DataFrame(
            {
                "source": s,
                "bucket_ts": np.arange(n, dtype=np.int64) * 3600,
                "sum_n_tok": rng.integers(900, 1100, n),
            }
        )
        for s in ("s0", "s1", "s2")
    )
    want = {}
    if twin == "ewma":
        for s, g in rollup.groupby("source"):
            want[s] = g["bucket_ts"].to_numpy(), ewma(g["sum_n_tok"].to_numpy(np.float64), 0.1)
        make, col = (lambda src: ewma_stream(src, lam=0.1)), "ewma"
    else:
        dets = {}
        for s, g in rollup.groupby("source"):
            x = g["sum_n_tok"].to_numpy(np.float64)[:, None]
            dets[s] = OnlineMMD.fit(
                x[:n_ref], ert=40.0, window_size=6, n_bootstraps=50, seed=source_seed(s, 42)
            )
            want[s] = g["bucket_ts"].to_numpy()[n_ref:], dets[s].score_stream(x[n_ref:])[0]
        rollup = rollup[rollup["bucket_ts"] >= n_ref * 3600]  # stream the post-ref rows
        make, col = (lambda src: mmd_stream(src, dets)), "mmd_stat"

    cut = rollup["bucket_ts"].median()
    os.makedirs(f"{tmp}/in")
    files = [rollup[rollup["bucket_ts"] <= cut], rollup[rollup["bucket_ts"] > cut]]
    for i, part in enumerate(files):
        part.to_parquet(f"{tmp}/in/p{i}.parquet", index=False)
        src = spark.readStream.schema("source string, bucket_ts long, sum_n_tok long").parquet(
            f"{tmp}/in"
        )
        (
            make(src)
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        if i == 0:  # stopped after the first file
            assert len(_read_out(spark, f"{tmp}/out")) == len(part)
    got = _read_out(spark, f"{tmp}/out")
    for s, (ts, vals) in want.items():
        g = got[got["source"] == s]
        assert np.array_equal(g["bucket_ts"].to_numpy(), ts), s
        assert np.array_equal(g[col].to_numpy(np.float64).view(np.uint64), vals.view(np.uint64)), s
