"""Gap-fill: make every per-source series strictly equidistant.

The reference *assumes* equidistant timestamps (``alibi_detect/od/sr.py:126``
docstring; ``score`` defaults ``t = arange(N)``) — gap-fill is what makes that
assumption true at scale (SURVEY §4).

Plan shape: per-source min/max (tiny agg) → ``sequence()`` + ``explode`` grid
→ LEFT join grid ↔ rollup on (source, bucket_ts). The grid side is
per-source bounded (series length, not row count), and the join key is exactly
the rollup's grouping key so AQE plans a cheap shuffle; at 10^12 scale the
grid is millions of rows vs trillions of raw rows — negligible.

Fill policy: counts/sums → 0 (exact), min/max/mean → null, ``gapfilled`` flag
set. Downstream detector fills are explicit (see ``operators/detect.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schemas import TIER_SECONDS


def gapfill(rollup: DataFrame, tier: str = "1h") -> DataFrame:
    return fill_grid(
        rollup.drop("gapfilled"), "source", tier,
        zeros={"n_docs": 0, "sum_n_tok": 0}, nulls=("min_n_tok", "max_n_tok", "mean_n_tok"),
    )


def fill_grid(rollup: DataFrame, key: str, tier: str, zeros: dict, nulls: tuple) -> DataFrame:
    """Per-``key`` bucket grid from its first to its last bucket, LEFT joined
    to ``rollup``: each ``zeros`` column is filled with its zero, ``nulls``
    columns stay null, and ``gapfilled`` flags the grid rows the rollup
    lacked (where the first ``zeros`` column, its count, is null)."""
    secs = TIER_SECONDS[tier]
    grid = (
        rollup.groupBy(key)
        .agg(F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
        .select(
            key,
            F.explode(F.sequence(F.col("lo"), F.col("hi"), F.lit(secs))).alias("bucket_ts"),
        )
    )
    return grid.join(rollup, [key, "bucket_ts"], "left").select(
        key,
        "bucket_ts",
        *(F.coalesce(F.col(c), F.lit(z)).alias(c) for c, z in zeros.items()),
        *nulls,
        F.col(next(iter(zeros))).isNull().alias("gapfilled"),
    )
