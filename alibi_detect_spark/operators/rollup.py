"""Tier rollups: tumbling time-bucket aggregates of token statistics.

The hot path is a plain ``groupBy(source, bucket)`` — Catalyst gives partial
(map-side) + final hash aggregation, whole-stage codegen, and AQE-coalesced
shuffles. Only three narrow columns (``source, event_ts, n_tok``) are read:
the ``tokens`` array is pruned at the parquet scan and never shuffled.

All tier-1 statistics are integers (count / sum / min / max of ``n_tok``), so
the distributed result is bit-identical to the single-node oracle under ANY
aggregation order; ``mean_n_tok`` is a single float division of two exact
integers. This is what makes "bit-match the NumPy reference" compatible with
"let Catalyst pick the physical plan" (SURVEY §7.4).

Skew: a hot source does NOT bottleneck this stage — hash partial aggregation
collapses each (source, bucket) to one row per map task before the shuffle.
An explicit salted two-stage variant is provided anyway (``salted=True``,
``SALT_BUCKETS`` salts per cell) for the pathological case of a single
(source, bucket) cell dominating a task at 10^12 scale; integer aggregates
make the two-stage recombination exact. The tier pipeline runs unsalted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schemas import TIER_SECONDS
from .gapfill import fill_grid

SALT_BUCKETS = 32


def _bucket_col(ts_col: str, tier_seconds: int):
    epoch = F.unix_timestamp(F.col(ts_col))
    return (F.floor(epoch / tier_seconds) * tier_seconds).cast("long")


def tier_aggs():
    """The tier-1 aggregates of ``n_tok`` per cell (batch and streaming)."""
    # built lazily: Column construction requires an active SparkContext
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("sum_n_tok"),
        F.min("n_tok").alias("min_n_tok"),
        F.max("n_tok").alias("max_n_tok"),
    ]


def _merge_aggs():
    """Merge :func:`tier_aggs` cells into coarser ones (exact: all integer)."""
    return [
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_n_tok").alias("sum_n_tok"),
        F.min("min_n_tok").alias("min_n_tok"),
        F.max("max_n_tok").alias("max_n_tok"),
    ]


def rollup_tier1(raw: DataFrame, tier: str = "1h", salted: bool = False) -> DataFrame:
    """Tier-1 rollup of the raw token table → one row per (source, bucket)."""
    secs = TIER_SECONDS[tier]
    base = raw.select(
        "source",
        _bucket_col("event_ts", secs).alias("bucket_ts"),
        "n_tok",
        *(["doc_id"] if salted else []),
    )
    if salted:
        # two-stage: partial agg per (source, bucket, salt) → exact final merge
        partial = (
            base.withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(SALT_BUCKETS)))
            .groupBy("source", "bucket_ts", "_salt")
            .agg(*tier_aggs())
        )
        agg = partial.groupBy("source", "bucket_ts").agg(*_merge_aggs())
    else:
        agg = base.groupBy("source", "bucket_ts").agg(*tier_aggs())
    return agg.select(
        "source",
        "bucket_ts",
        "n_docs",
        "sum_n_tok",
        "min_n_tok",
        "max_n_tok",
        (F.col("sum_n_tok") / F.col("n_docs")).alias("mean_n_tok"),
        F.lit(False).alias("gapfilled"),
    )


def downsample(rollup: DataFrame, from_tier: str, to_tier: str) -> DataFrame:
    """Cascade a finer tier into a coarser one (1h → 6h → 1d).

    Reads the (already gap-filled or raw) finer rollup — NOT the raw table —
    so each retention step touches tier-sized data only. Gap rows (n_docs=0)
    contribute zero to sums and null to min/max, exactly as the oracle.
    """
    secs = TIER_SECONDS[to_tier]
    assert secs % TIER_SECONDS[from_tier] == 0, "tiers must nest"
    return (
        rollup.groupBy(
            "source",
            (F.floor(F.col("bucket_ts") / secs) * secs).cast("long").alias("bucket_ts"),
        )
        .agg(*_merge_aggs())
        .select(
            "source",
            "bucket_ts",
            "n_docs",
            "sum_n_tok",
            "min_n_tok",
            "max_n_tok",
            F.when(F.col("n_docs") > 0, F.col("sum_n_tok") / F.col("n_docs")).alias(
                "mean_n_tok"
            ),
            (F.col("n_docs") == 0).alias("gapfilled"),
        )
    )


def _metric_cells(agg: DataFrame, key: str) -> DataFrame:
    """The output cells shared by every metric tier, from the aggregated
    ``(key, bucket_ts, n_events, sum_dec, min_dec, max_dec)``: the exact
    DECIMALs presented as double, and ``avg_value`` from the exact sum."""
    return agg.select(
        key,
        "bucket_ts",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
        F.col("min_dec").cast("double").alias("min_value"),
        F.col("max_dec").cast("double").alias("max_value"),
        F.round(F.col("sum_dec").cast("double") / F.col("n_events"), 6).alias("avg_value"),
    )


def metric_rollup(
    df: DataFrame,
    key: str,
    ts_col: str,
    value: str,
    tier: str = "1h",
) -> DataFrame:
    """Generic tier-1 rollup of an arbitrary (key, ts, value) stream — the
    same plan shape as :func:`rollup_tier1` but over a float metric. The sum
    uses DECIMAL(18,2) accumulation: exact under any aggregation order, so
    distributed == oracle bit-for-bit (then presented as double)."""
    secs = TIER_SECONDS[tier]
    dec = F.col(value).cast("decimal(18,2)")
    return _metric_cells(
        df.select(F.col(key), _bucket_col(ts_col, secs).alias("bucket_ts"), dec.alias("v"))
        .groupBy(key, "bucket_ts")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").alias("sum_dec"),
            F.min("v").alias("min_dec"),
            F.max("v").alias("max_dec"),
        ),
        key,
    )


def metric_downsample(rollup: DataFrame, key: str, from_tier: str, to_tier: str) -> DataFrame:
    """Cascade a generic metric rollup to a coarser tier (reads tier-sized
    data, never the raw table). count/sum/min/max compose exactly; avg is
    recomputed from the composed sums."""
    secs = TIER_SECONDS[to_tier]
    assert secs % TIER_SECONDS[from_tier] == 0, "tiers must nest"
    return _metric_cells(
        rollup.select(
            key,
            (F.floor(F.col("bucket_ts") / secs) * secs).cast("long").alias("bucket_ts"),
            "n_events",
            F.col("sum_value").cast("decimal(18,2)").alias("sum_dec"),
            F.col("min_value").cast("decimal(18,2)").alias("min_dec"),
            F.col("max_value").cast("decimal(18,2)").alias("max_dec"),
        )
        .groupBy(key, "bucket_ts")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").alias("sum_dec"),
            F.min("min_dec").alias("min_dec"),
            F.max("max_dec").alias("max_dec"),
        ),
        key,
    )


def metric_gapfill(rollup: DataFrame, key: str, tier: str = "1h") -> DataFrame:
    """Generic gap-fill twin of :func:`..gapfill.gapfill` for metric rollups:
    zero-filled counts/sums, null min/max/avg, explicit ``gapfilled`` flag."""
    return fill_grid(
        rollup, key, tier,
        zeros={"n_events": 0, "sum_value": 0.0}, nulls=("min_value", "max_value", "avg_value"),
    )


def token_invariant_check(raw: DataFrame) -> DataFrame:
    """Per-row token-array equality invariant (input_hint): a pass-through
    projection must preserve ``tokens`` exactly. Returns rows that VIOLATE the
    invariant (expected: zero) by re-deriving ``n_tok`` and a content hash from
    the array and comparing against the stored columns."""
    derived = raw.select(
        "doc_id",
        F.size("tokens").alias("derived_n_tok"),
        F.col("n_tok"),
        F.xxhash64("tokens").alias("tok_hash"),
    )
    echoed = raw.select("doc_id", F.xxhash64("tokens").alias("tok_hash2"))
    return (
        derived.join(echoed, "doc_id")
        .where((F.col("derived_n_tok") != F.col("n_tok")) | (F.col("tok_hash") != F.col("tok_hash2")))
    )
