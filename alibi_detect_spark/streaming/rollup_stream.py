"""Streaming tier rollup + the stateful streaming detector twins.

Late data: the reference assumes a strictly ordered stream and has no late
handling (SURVEY §2.6); here the watermark makes that contract explicit —
rows later than ``watermark_delay`` are dropped, and a (source, bucket) row
is emitted exactly once when its window closes. The checkpoint directory
carries all rollup state, so a killed job resumes mid-stream with no
recomputation and no duplicates (exactly-once file sink).

The nine stateful twins share one per-source scaffold, :func:`_per_source`,
and its drop contract: a row at or behind its source's high-water mark (the
last ``bucket_ts`` folded into the state) is dropped, since replaying it would
corrupt the carried state, and a twin fitted batch-side drops every row of a
source it has no detector for. Each drop logs a WARNING naming the twin and
the source (executor log); no row is dropped without one.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.closed_form import lsdd2_hinv, lsdd2_stat, online_mahalanobis_2x2
from ..operators.rollup import tier_aggs
from ..schemas import TIER_SECONDS

_log = logging.getLogger(__name__)


def stream_rollup(
    spark: SparkSession,
    input_path: str,
    tier: str = "1h",
    watermark_delay: str = "1 minute",
    max_files_per_trigger: int | None = None,
    schema=None,
) -> DataFrame:
    """Tier-1 rollup as a streaming aggregation over a parquet file source.

    Same aggregate set as the batch :func:`..operators.rollup.rollup_tier1`
    (integer stats → order-independent → equals the batch/oracle result for
    every emitted window). Append output mode: a row per (source, bucket)
    exactly once, after the watermark passes the window end.
    """
    secs = TIER_SECONDS[tier]
    if schema is None:
        schema = "doc_id string, n_tok int, source string, event_ts timestamp"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(input_path)
    agg = (
        raw.withWatermark("event_ts", watermark_delay)
        .groupBy("source", F.window("event_ts", f"{secs} seconds").alias("win"))
        .agg(*tier_aggs())
        .select(
            "source",
            F.unix_timestamp(F.col("win.start")).alias("bucket_ts"),
            "n_docs",
            "sum_n_tok",
            "min_n_tok",
            "max_n_tok",
            (F.col("sum_n_tok") / F.col("n_docs")).alias("mean_n_tok"),
        )
    )
    return agg


def run_stream_rollup_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
    tier: str = "1h",
    watermark_delay: str = "1 minute",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available input with ``trigger(availableNow)`` and stop —
    the batch-ish harness for tests and backfills; a production run uses the
    same query with a continuous trigger."""
    agg = stream_rollup(spark, input_path, tier, watermark_delay, max_files_per_trigger)
    q = (
        agg.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _out(**cols) -> StructType:
    """A twin's output schema: ``source``, ``bucket_ts``, then ``cols``."""
    return StructType(
        [StructField("source", StringType()), StructField("bucket_ts", LongType())]
        + [StructField(name, t) for name, t in cols.items()]
    )


def _state(**carry) -> StructType:
    """A twin's state schema: its carry, then the ``last_ts`` high-water mark
    that :func:`_per_source` owns."""
    return StructType(
        [StructField(name, t) for name, t in carry.items()] + [StructField("last_ts", LongType())]
    )


def _per_source(
    rollup: DataFrame, name: str, out_schema: StructType, state_schema: StructType,
    init: tuple, step, detectors: dict | None = None,
) -> DataFrame:
    """The ``applyInPandasWithState`` scaffold of every stateful twin, keyed
    by ``source``. Per micro-batch and source: look up the fitted detector
    (twins with ``detectors``), decode the state or start from ``init``,
    stable-sort the rows by ``bucket_ts``, drop (and log) rows at or behind
    the high-water mark (the state's LAST field), then call ``step(det, rows,
    carry) -> (columns | None, carry)``, ``carry`` being the state without
    the high-water mark, which the scaffold advances itself."""

    def fn(key, pdf_iter, state):
        (source,) = key
        det = None if detectors is None else detectors.get(source)
        if det is None and detectors is not None:
            # pdf_iter stays untouched: an unfitted source costs no Arrow
            # decode, but a source appearing mid-stream is still visible
            _log.warning(
                "%s: source %r has no fitted detector — dropping its rows; re-fit to include it",
                name, source,
            )
            return
        *carry, last_ts = tuple(state.get) if state.exists else init
        # gather ALL Arrow chunks of this group's micro-batch before sorting:
        # chunk arrival order is nondeterministic (shuffle fetch), and a
        # per-chunk last_ts filter would silently drop earlier-timestamped
        # rows from later chunks, corrupting the carried state
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        rows = pd.concat(chunks).sort_values("bucket_ts", kind="mergesort")
        late = rows["bucket_ts"].to_numpy() <= last_ts
        if late.any():
            _log.warning(
                "%s: source %r dropped %d late row(s) at or behind bucket_ts=%d",
                name, source, int(late.sum()), last_ts,
            )
            rows = rows[~late]
        if not len(rows):
            return
        cols, carry = step(det, rows, tuple(carry))
        if cols is not None:
            yield pd.DataFrame({"source": source, **cols})
        state.update((*carry, int(rows["bucket_ts"].iloc[-1])))

    return rollup.groupBy("source").applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append", timeoutConf="NoTimeout",
    )


def _drift_cols(rows: pd.DataFrame, prefix: str, stat: str, stats, thr, drift) -> dict:
    """Output columns of the thresholded drift twins (MMD, CVM, FET, LSDD)."""
    return {
        "bucket_ts": rows["bucket_ts"].to_numpy(dtype=np.int64),
        f"{prefix}_{stat}": stats,
        f"{prefix}_threshold": thr,
        f"{prefix}_is_drift": drift.astype(np.int64),
    }


def _fifo_window_step(value_cols: list[str], prefix: str):
    """Step of the FIFO-test-window twins (online MMD and LSDD): the carry is
    (raw time t, flattened window), ``None`` window = the fitted initial one."""

    def step(det, rows, carry):
        t, flat = carry
        st = det.initial_state()
        if flat is not None:
            st.t, st.test_window = int(t), np.asarray(flat, dtype=np.float64).reshape(det.window_size, -1)
        x = rows[value_cols].to_numpy(dtype=np.float64)
        stats, thr, drift, st = det.score_stream(x, st)
        cols = _drift_cols(rows, prefix, "stat", stats, thr, drift)
        return cols, (st.t, [float(v) for v in st.test_window.ravel()])

    return step


MMD_OUT_SCHEMA = _out(mmd_stat=DoubleType(), mmd_threshold=DoubleType(), mmd_is_drift=LongType())
MMD_STATE_SCHEMA = _state(t=LongType(), window_flat=ArrayType(DoubleType()))


def mmd_stream(
    rollup: DataFrame,
    detectors: dict,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Streaming online-MMD drift as a custom stateful operator
    (``applyInPandasWithState``): the detector configs (ref subset, kernel
    bandwidth, bootstrap thresholds) are FITTED BATCH-SIDE and shipped in the
    closure (exactly the reference's fit-then-stream lifecycle,
    ``cd/base_online.py``); the state store carries (t, FIFO test window) per
    source, so trajectories bit-match the batch replay across micro-batches
    and restarts."""
    step = _fifo_window_step([value_col], "mmd")
    return _per_source(
        rollup, "mmd_stream", MMD_OUT_SCHEMA, MMD_STATE_SCHEMA, (0, None, -1), step, detectors
    )


EWMA_OUT_SCHEMA = _out(ewma=DoubleType())
EWMA_STATE_SCHEMA = _state(carry=DoubleType())


def ewma_stream(
    rollup: DataFrame, lam: float = 0.1, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Custom stateful streaming operator: per-source EWMA with the carry in
    the state store (``applyInPandasWithState``), the streaming twin of
    :func:`..operators.detect.ewma_over`. Exactness contract: within a
    micro-batch rows are sorted by ``bucket_ts``; across micro-batches the
    carry reproduces the uninterrupted recursion as long as batches arrive in
    time order (true for the append-mode rollup upstream, whose emissions are
    watermark-ordered)."""
    from ..functions.ewma import ewma

    def step(_, rows, carry):
        out = ewma(rows[value_col].to_numpy(dtype=np.float64), lam, carry=carry[0])
        cols = {"bucket_ts": rows["bucket_ts"].to_numpy(dtype=np.int64), "ewma": out}
        return cols, (float(out[-1]),)

    return _per_source(rollup, "ewma_stream", EWMA_OUT_SCHEMA, EWMA_STATE_SCHEMA, (None, -1), step)


CVM_OUT_SCHEMA = _out(
    cvm_stats=ArrayType(DoubleType()), cvm_threshold=DoubleType(), cvm_is_drift=LongType()
)
CVM_STATE_SCHEMA = _state(t=LongType(), tail=ArrayType(DoubleType()))


def cvm_stream(rollup: DataFrame, detectors: dict, value_col: str = "sum_n_tok") -> DataFrame:
    """Streaming online-CVM drift (multi-window) as a custom stateful operator
    (``applyInPandasWithState``): detectors are fitted batch-side — the
    distribution-free thresholds once on the driver — and shipped in the
    closure; the state store carries (raw time t, the last ``max_ws−1``
    stream points) per source. Because the CVM window counts are integers,
    chunked micro-batch scoring reproduces the batch replay bit-for-bit."""

    def step(det, rows, carry):
        t0, tail = carry
        x = rows[value_col].to_numpy(dtype=np.float64)
        stats, thr, drift, c = det.score_stream(x, t0=int(t0), warm=np.asarray(tail, dtype=np.float64))
        cols = _drift_cols(rows, "cvm", "stats", [list(row) for row in stats], thr, drift)
        return cols, (int(c["t"]), [float(v) for v in c["tail"]])

    return _per_source(
        rollup, "cvm_stream", CVM_OUT_SCHEMA, CVM_STATE_SCHEMA, (0, [], -1), step, detectors
    )


FET_OUT_SCHEMA = _out(
    fet_stats=ArrayType(DoubleType()), fet_threshold=DoubleType(), fet_is_drift=LongType()
)
FET_STATE_SCHEMA = _state(t=LongType(), ewma=ArrayType(DoubleType()), tail=ArrayType(LongType()))


def fet_stream(rollup: DataFrame, detectors: dict, bit_col: str = "bit") -> DataFrame:
    """Streaming online-FET drift (multi-window): state = (raw time, per-window
    EWMA carries, last ``max_ws−1`` bits). The EWMA recursion continues across
    micro-batches exactly, so trajectories bit-match the batch replay."""

    def step(det, rows, carry):
        t0, ewma_c, tail = carry
        bits = rows[bit_col].to_numpy(dtype=np.int64)
        stats, thr, drift, c = det.score_stream(
            bits,
            t0=int(t0),
            carry=np.asarray(ewma_c, dtype=np.float64) if len(ewma_c) else None,
            warm=np.asarray(tail, dtype=np.int64),
        )
        cols = _drift_cols(rows, "fet", "stats", [list(row) for row in stats], thr, drift)
        return cols, (int(c["t"]), [float(v) for v in c["ewma"]], [int(v) for v in c["tail"]])

    return _per_source(
        rollup, "fet_stream", FET_OUT_SCHEMA, FET_STATE_SCHEMA, (0, [], [], -1), step, detectors
    )


LSDD_OUT_SCHEMA = _out(
    lsdd_stat=DoubleType(), lsdd_threshold=DoubleType(), lsdd_is_drift=LongType()
)
LSDD_STATE_SCHEMA = _state(t=LongType(), window_flat=ArrayType(DoubleType()))


def lsdd_stream(
    rollup: DataFrame, detectors: dict, value_cols: list[str] | None = None
) -> DataFrame:
    """Streaming online-LSDD drift (``cd/pytorch/lsdd_online.py`` lifecycle):
    detectors fitted batch-side (kernel centers, λ-regularized H inverse,
    bootstrap thresholds), FIFO normalized test window carried in the state
    store — trajectories bit-match the batch replay across micro-batches."""
    step = _fifo_window_step(value_cols or ["sum_n_tok"], "lsdd")
    return _per_source(
        rollup, "lsdd_stream", LSDD_OUT_SCHEMA, LSDD_STATE_SCHEMA, (0, None, -1), step, detectors
    )


MAHA_OUT_SCHEMA = _out(maha_score=DoubleType())
MAHA_STATE_SCHEMA = _state(
    n=LongType(), sv=LongType(), svv=LongType(), su=LongType(), suu=LongType(), svu=LongType()
)


def mahalanobis_stream(
    rollup: DataFrame,
    value_cols: tuple[str, str] = ("sum_n_tok", "v2"),
    warmup: int = 30,
    quant: int = 10_000,
    var_eps: float = 1e-9,
) -> DataFrame:
    """Stateful streaming online-Mahalanobis — the streaming twin of
    :func:`..operators.detect.mahalanobis_online_stats_over`. The carried
    state is SIX integers (the exact quantized prefix moments) + a
    high-water timestamp: because the online state collapses to prefix sums,
    the state store holds no window buffer at all, and the stream reproduces
    the batch trajectory bit-for-bit under any micro-batch slicing (the
    moments are exact integers, and the scalar math is the batch operator's
    own chain, :func:`..operators.closed_form.online_mahalanobis_2x2`)."""
    vcol, ucol = value_cols
    q = float(quant)

    def cum(base, arr):
        # object dtype = arbitrary-precision Python ints: the second-moment
        # cumsums overflow int64 for large values (the batch twin accumulates
        # in DECIMAL(38,0)); then convert each exact integer to its nearest
        # double — bit-identical to the batch's decimal→double cast, BEFORE
        # any division (int/float true division is correctly rounded and
        # would differ by 1 ulp)
        c = np.concatenate([np.zeros(1, dtype=object), np.cumsum(arr)])[:-1]
        exact = base + c
        return exact, np.array([float(t) for t in exact], dtype=np.float64)

    def step(_, rows, carry):
        n0, sv, svv, su, suu, svu = carry
        v = rows[vcol].to_numpy(dtype=np.float64)
        u = rows[ucol].to_numpy(dtype=np.float64)
        pv = np.round(v * quant).astype(np.int64).astype(object)
        pu = np.round(u * quant).astype(np.int64).astype(object)
        csv_i, csv = cum(sv, pv)
        csvv_i, csvv = cum(svv, pv * pv)
        csu_i, csu = cum(su, pu)
        csuu_i, csuu = cum(suu, pu * pu)
        csvu_i, csvu = cum(svu, pv * pu)
        cn = n0 + np.arange(len(v), dtype=np.int64)
        cond = cn >= warmup
        with np.errstate(divide="ignore", invalid="ignore"):
            nn = cn.astype(np.float64)
            d2 = online_mahalanobis_2x2(nn, csv, csvv, csu, csuu, csvu, v, u, q, var_eps)
        sc = np.round(d2, 6) + 0.0
        n0 = int(n0 + len(v))
        sv = int(csv_i[-1] + pv[-1])
        svv = int(csvv_i[-1] + pv[-1] * pv[-1])
        su = int(csu_i[-1] + pu[-1])
        suu = int(csuu_i[-1] + pu[-1] * pu[-1])
        svu = int(csvu_i[-1] + pv[-1] * pu[-1])
        if max(abs(svv), abs(suu), abs(svu)) >= 2**62:
            raise OverflowError(
                "mahalanobis_stream moment state exceeds int64 — lower "
                "`quant` for this value scale (state carries exact "
                "integers in a LongType store)"
            )
        cols = None
        if cond.any():
            cols = {
                "bucket_ts": rows["bucket_ts"].to_numpy(dtype=np.int64)[cond],
                "maha_score": sc[cond],
            }
        return cols, (n0, sv, svv, su, suu, svu)

    init = (0, 0, 0, 0, 0, 0, -(2**62))
    return _per_source(rollup, "mahalanobis_stream", MAHA_OUT_SCHEMA, MAHA_STATE_SCHEMA, init, step)


LSDDH_OUT_SCHEMA = _out(lsdd_stat=DoubleType())
LSDDH_STATE_SCHEMA = _state(
    n=LongType(), c1=DoubleType(), c2=DoubleType(), sr1=LongType(), sr2=LongType(),
    tail1=ArrayType(LongType()), tail2=ArrayType(LongType()), pend=ArrayType(DoubleType()),
)


def lsdd_hash_stream(
    rollup: DataFrame,
    value_col: str = "sum_n_tok",
    n_ref: int = 64,
    window_size: int = 10,
    sigma: float = 5.0,
    lam: float = 0.25,
    quant: int = 1_000_000_000,
    decision_thresholds: tuple[float, ...] | None = None,
) -> DataFrame:
    """Stateful streaming twin of
    :func:`..operators.detect.lsdd_online_stats_over` (the declarative
    closed-form online LSDD). Carried state: the two kernel centers, the
    exact integer reference sums, the last ``window_size − 1`` quantized
    kernel features, and (during the first two rows only) the pending raw
    values the centers are derived from. Because every sum is an exact
    integer and the scalar chain is the batch operator's own
    (:func:`..operators.closed_form.lsdd2_hinv`, ``lsdd2_stat``), the stream
    reproduces the batch trajectory bit-for-bit under any micro-batch
    slicing.

    With ``decision_thresholds`` (e.g.
    ``functions.online_thresholds.lsdd2_decision_thresholds()``) the stream
    ALSO emits the decision path of the batch ``lsdd_decisions`` query:
    per-step threshold lookup on the absolute stream time (warm-up-varying,
    clamped at ``window_size`` — ``cd/base_online.py:131-144`` indexing) and
    ``lsdd_is_drift = stat > threshold`` over the identically-rounded stat,
    so streamed decisions equal the batch comparisons exactly."""
    if window_size < 2:
        # keep=0 would slice h[-0:] = the WHOLE array, growing the state
        # store unboundedly (and a 1-point LSDD window is degenerate anyway)
        raise ValueError(f"window_size must be >= 2, got {window_size}")
    out_schema = LSDDH_OUT_SCHEMA
    if decision_thresholds is not None:
        if len(decision_thresholds) < window_size:
            raise ValueError(
                f"decision_thresholds needs >= window_size={window_size} entries"
            )
        out_schema = _out(
            lsdd_stat=DoubleType(), lsdd_threshold=DoubleType(), lsdd_is_drift=IntegerType()
        )
    two_sig2 = 2.0 * sigma * sigma
    four_sig2 = 4.0 * sigma * sigma
    keep = window_size - 1

    def step(_, rows, carry):
        n0, c1, c2, sr1, sr2, tail1, tail2, pend = carry
        tail1, tail2, pend = list(tail1), list(tail2), list(pend)
        v = rows[value_col].to_numpy(dtype=np.float64)
        ts = rows["bucket_ts"].to_numpy(dtype=np.int64)
        # rows seen before the centers are fixed wait in `pend`
        # (both centers come from the first two rows in order)
        n_seen = n0 + len(pend)
        if n_seen < 2:
            need = 2 - n_seen
            pend.extend(float(x) for x in v[:need])
            if n0 + len(pend) < 2:
                return None, (n0, c1, c2, sr1, sr2, tail1, tail2, pend)
            c1, c2 = pend[0], pend[1]
            # reprocess the pended rows plus the rest of this batch; pended
            # rows are ref rows 1..2 — they never emit, so their timestamps
            # are placeholders
            v = np.concatenate([np.array(pend, dtype=np.float64), v[need:]])
            ts = np.concatenate([np.zeros(len(pend), dtype=np.int64), ts[need:]])
            pend = []
        kq1 = np.round(np.exp(-((v - c1) * (v - c1)) / two_sig2) * quant).astype(np.int64)
        kq2 = np.round(np.exp(-((v - c2) * (v - c2)) / two_sig2) * quant).astype(np.int64)
        rn = n0 + np.arange(len(v), dtype=np.int64) + 1
        refm = rn <= n_ref
        sr1 = int(sr1 + kq1[refm].sum())
        sr2 = int(sr2 + kq2[refm].sum())
        sm = rn > n_ref
        cols = None
        if sm.any():
            h1 = np.concatenate([np.array(tail1, dtype=np.int64), kq1[sm]])
            h2 = np.concatenate([np.array(tail2, dtype=np.int64), kq2[sm]])
            cs1 = np.concatenate([[0], np.cumsum(h1)])
            cs2 = np.concatenate([[0], np.cumsum(h2)])
            idx = len(tail1) + np.arange(int(sm.sum()))
            full = idx >= window_size - 1
            if full.any():
                i = idx[full]
                w1 = (cs1[i + 1] - cs1[i + 1 - window_size]).astype(np.float64)
                w2 = (cs2[i + 1] - cs2[i + 1 - window_size]).astype(np.float64)
                m11, m12 = lsdd2_hinv(float(np.exp(-((c1 - c2) * (c1 - c2)) / four_sig2)), lam)
                hh1 = sr1 / (n_ref * float(quant)) - w1 / (window_size * float(quant))
                hh2 = sr2 / (n_ref * float(quant)) - w2 / (window_size * float(quant))
                stat = lsdd2_stat(m11, m12, hh1, hh2)
                cols = {"bucket_ts": ts[sm][full], "lsdd_stat": np.round(stat, 9) + 0.0}
                if decision_thresholds is not None:
                    # 1-based step since the first full window, from the
                    # ABSOLUTE row number (the kq tail only holds the last
                    # window_size-1 features, so positions within this batch
                    # cannot index the thresholds)
                    t_step = rn[sm][full] - n_ref - window_size + 1
                    t_idx = np.minimum(t_step, window_size) - 1
                    thr = np.asarray(decision_thresholds, dtype=np.float64)[t_idx]
                    cols["lsdd_threshold"] = thr
                    cols["lsdd_is_drift"] = (cols["lsdd_stat"] > thr).astype(np.int32)
            tail1 = [int(x) for x in h1[-keep:]]
            tail2 = [int(x) for x in h2[-keep:]]
        return cols, (int(rn[-1]), c1, c2, sr1, sr2, tail1, tail2, pend)

    init = (0, float("nan"), float("nan"), 0, 0, [], [], [], -(2**62))
    return _per_source(rollup, "lsdd_hash_stream", out_schema, LSDDH_STATE_SCHEMA, init, step)


SR_OUT_SCHEMA = _out(sr_score=DoubleType())
SR_STATE_SCHEMA = _state(
    halo=ArrayType(DoubleType()), pend_v=ArrayType(DoubleType()), pend_ts=ArrayType(LongType())
)


def sr_stream(
    rollup: DataFrame,
    value_col: str = "sum_n_tok",
    chunk_size: int = 64,
    halo: int = 32,
    sr_params: dict | None = None,
) -> DataFrame:
    """Stateful streaming Spectral Residual — the streaming twin of the
    chunk+halo batch protocol (:func:`..functions.sr.sr_score_chunked`,
    reference scoring semantics ``od/sr.py:320-368`` applied per chunk).

    SR needs a whole series for its FFT, so the stream's unit of work is a
    FIXED chunk: rows buffer in the state store until ``chunk_size`` of them
    accumulate, then the chunk is scored on [carried ``halo`` tail ⧺ chunk]
    via the SAME kernel the batch operator calls (``sr_chunk_scores``) and
    only the carried tail + any partial chunk stay in state. Chunk boundaries
    are absolute stream positions, so the emitted trajectory is invariant to
    micro-batch slicing — bit-for-bit equal to the batch replay.

    State size is bounded by ``halo + chunk_size − 1`` doubles per key
    regardless of stream length."""
    from ..functions.sr import sr_chunk_scores

    if chunk_size <= max(
        (sr_params or {}).get("window_amp", 20),
        (sr_params or {}).get("window_local", 20),
    ):
        raise ValueError(
            f"chunk_size {chunk_size} must exceed the SR windows so the first"
            " (halo-less) chunk is scoreable"
        )
    if halo < 0:
        raise ValueError(f"halo must be >= 0, got {halo}")
    srp = dict(sr_params or {})

    def step(_, rows, carry):
        h, pv, pts = (list(f) for f in carry)
        pv.extend(float(v) for v in rows[value_col].to_numpy(dtype=np.float64))
        pts.extend(int(t) for t in rows["bucket_ts"].to_numpy(dtype=np.int64))
        out_ts, out_sc = [], []
        while len(pv) >= chunk_size:
            chunk = np.array(pv[:chunk_size], dtype=np.float64)
            out_ts.append(np.array(pts[:chunk_size], dtype=np.int64))
            out_sc.append(sr_chunk_scores(np.array(h, dtype=np.float64), chunk, **srp))
            # h[-0:] would be the WHOLE history — guard halo=0
            h = (h + [float(v) for v in chunk])[-halo:] if halo > 0 else []
            pv, pts = pv[chunk_size:], pts[chunk_size:]
        cols = None
        if out_ts:
            cols = {"bucket_ts": np.concatenate(out_ts), "sr_score": np.concatenate(out_sc)}
        return cols, (h, pv, pts)

    return _per_source(rollup, "sr_stream", SR_OUT_SCHEMA, SR_STATE_SCHEMA, ([], [], [], -(2**62)), step)


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "event_ts",
    watermark_delay: str = "10 minutes",
    prefix_words: int | None = None,
) -> DataFrame:
    """Streaming EXACT dedup at ingestion time — the streaming twin of
    :func:`..operators.dedup.exact_dup_groups`'s survivor semantics: the
    FIRST arrival of each content hash passes through, later duplicates are
    dropped. Built on Structured Streaming's native
    ``dropDuplicatesWithinWatermark``: the dedup state is keyed by the
    md5 content hash (computed map-side — the text never shuffles for the
    key) and EXPIRES past the watermark, so state is bounded by the
    duplicate-arrival horizon instead of the stream's full history — the
    only shape that survives an unbounded 100 TB ingest feed. Duplicates
    farther apart than ``watermark_delay`` are deliberately NOT caught here;
    the batch operator over the landed table is the exhaustive pass (the
    standard two-tier dedup architecture)."""
    from pyspark.sql import functions as F

    if prefix_words is None:
        key = F.md5(F.col(text_col))
    else:
        key = F.md5(
            F.concat_ws(" ", F.slice(F.split(F.col(text_col), " "), 1, prefix_words))
        )
    return (
        docs.withColumn("content_hash", key)
        .withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


SSA_OUT_SCHEMA = _out(ssa4_score=DoubleType())
SSA_STATE_SCHEMA = _state(
    n=LongType(), xs_tail=ArrayType(DoubleType()), ts_pend=ArrayType(LongType())
)


def ssa_stream(
    rollup: DataFrame,
    vectors: dict,
    w: int = 4,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Streaming window-``w`` SSA reconstruction scoring — the stateful twin
    of :func:`..operators.detect.ssa_outlier_wfeat_over` (fit batch-side via
    :func:`..operators.detect.ssa_wfeat_par`, the per-key eigenvector ships
    in the closure; ``od/seq2seq.py:199-244`` scoring contract).

    A position finalizes only once every lag window covering it is complete
    (its score needs ``x`` up to ``w−1`` steps ahead), so emission lags the
    stream head by ``w−1`` rows and the state carries the last ``2w−2``
    values plus the pending positions' timestamps. Arithmetic mirrors the
    batch SQL term-for-term: left-fold projections, newest-window-first
    contribution sums with ``+0.0`` for missing leading windows, HALF_UP 6dp
    rounding (Spark ``round``'s BigDecimal semantics via ``decimal``) — so
    finalized scores bit-match the batch operator under ANY micro-batch
    slicing."""
    from decimal import ROUND_HALF_UP, Decimal

    def _round6_half_up(val: float) -> float:
        # Spark's round(double, 6) = BigDecimal.valueOf(x) → setScale(6,
        # HALF_UP): it rounds the SHORTEST round-trip decimal repr (Java
        # Double.toString ≡ Python repr), not the exact binary expansion —
        # Decimal(val) directly would flip ~1% of 6dp digits at 1e8 scale
        return float(Decimal(repr(float(val))).quantize(Decimal("0.000001"), ROUND_HALF_UP)) + 0.0

    def step(v, rows, carry):
        n, xs, pend = int(carry[0]), [float(x) for x in carry[1]], [int(t) for t in carry[2]]
        out_ts, out_sc = [], []
        for ts, val in zip(
            rows["bucket_ts"].to_numpy(dtype=np.int64),
            rows[value_col].to_numpy(dtype=np.float64),
        ):
            xs.append(float(val))
            pend.append(int(ts))
            n += 1
            q = n - w  # 0-based position finalized by this arrival
            if q >= 0:
                # xs holds positions n-len(xs)..n-1; keep 2w-1 live
                off = n - len(xs)

                def proj(t: int) -> float:
                    acc = xs[t - off] * v[0]
                    for i in range(1, w):
                        acc = acc + xs[t - off + i] * v[i]
                    return acc

                # mirror the batch fold: i ascending = newest window
                # first, missing leading windows contribute +0.0
                num, cnt = None, 0
                for i in range(w):
                    t = q - i
                    term = proj(t) * v[i] if t >= 0 else 0.0
                    num = term if num is None else num + term
                    cnt += 1 if t >= 0 else 0
                d = xs[q - off] - num / cnt
                out_ts.append(pend[0])
                out_sc.append(_round6_half_up(d * d))
                pend = pend[1:]
            if len(xs) > 2 * w - 1:
                xs = xs[-(2 * w - 1):]
        cols = None
        if out_ts:
            cols = {
                "bucket_ts": np.asarray(out_ts, dtype=np.int64),
                "ssa4_score": np.asarray(out_sc, dtype=np.float64),
            }
        return cols, (n, xs, pend)

    return _per_source(
        rollup, "ssa_stream", SSA_OUT_SCHEMA, SSA_STATE_SCHEMA, (0, [], [], -1), step, vectors
    )
