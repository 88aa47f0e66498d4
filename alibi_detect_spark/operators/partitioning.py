"""Partitioning helpers shared by the operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a small relation to the session's default parallelism
    when it carries fewer partitions (a small single-file scan is one
    partition, which single-threads the CPU-bound self-joins, verification
    scans and Python stages downstream). Guarded by the CURRENT partition
    count, so at warehouse scale — where the scan already has thousands of
    partitions — this is a no-op; the key-hash partitioning is deterministic
    (never repartition on rand()) and results are partitioning-invariant by
    construction."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, *keys)
    return df
