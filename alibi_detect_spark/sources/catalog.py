"""Tier-table catalog.

In production this engine targets **Apache Iceberg** (hidden partitioning on
``(source bucket, hours(ts))``, snapshot isolation, MERGE INTO for idempotent
resume, partition-drop retention expiry). The sandbox image has no Iceberg
runtime jar, so the catalog speaks the same API over plain parquet
directories; :func:`iceberg_session_conf` returns the exact session config a
cluster deployment would add, and every write here maps 1:1 onto an Iceberg
statement (documented per method).

Physical layout (both backends):

- raw table partition spec: ``days(event_ts), bucket(source, 64)`` — partition
  pruning serves both time-range retention scans and single-source reads.
- tier tables: ``tier`` partition + range distribution + a sort on
  ``(source, bucket_ts)`` within each file, so each file holds contiguous,
  sorted series runs (page decode locality, min/max file skipping on
  bucket_ts).

The write side owns the order, the stage that builds a frame owns its
distribution: :meth:`TierCatalog.write_rollup` only sorts within
partitions, and each stage range-distributes where that is cheapest. The
rollup tiers range their JVM output on ``(source, bucket_ts)``; the
scores stage ranges its *input* on ``source``, below the Arrow stage, so
the range sampler reads the 1h table and never runs a detector (a range
partitioning on ``source`` satisfies the per-source group's distribution,
and the UDF output inherits it).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from ..schemas import PAGE_SCHEMA, ROLLUP_SCHEMA, SCORE_SCHEMA, TIER_SECONDS

# every table the catalog writes has a fixed schema, so a read needs no
# footer inference (partition columns, like ``pages``' ``tier``, read last)
TABLE_SCHEMAS = {
    **{f"rollup_{tier}": ROLLUP_SCHEMA for tier in TIER_SECONDS},
    "pages": PAGE_SCHEMA,
    "scores_1h": SCORE_SCHEMA,
}


def iceberg_session_conf(warehouse: str, catalog: str = "tiers") -> dict[str, str]:
    """SparkSession config for the Iceberg deployment (needs iceberg-spark-runtime jar)."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    }


class TierCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write_rollup(self, df: DataFrame, name: str) -> dict:
        """Iceberg: ``ALTER TABLE ... WRITE ORDERED BY (source, bucket_ts)`` +
        ``REPLACE`` snapshot. ``df`` comes range-distributed by the stage
        that built it (see the module notes); the write sorts each
        partition by ``(source, bucket_ts)``, so every file holds
        contiguous, sorted series runs. Returns ``{"rows": ...}`` written."""
        return self._write(df.sortWithinPartitions("source", "bucket_ts"), name)

    def write_pages(self, df: DataFrame, name: str = "pages") -> dict:
        """Iceberg: append/merge into the page table partitioned by ``tier``.
        Returns the rows written, the points their pages hold and the pages'
        encoded bytes: ``{"rows", "points", "page_bytes"}``."""
        return self._write(
            df, name, "tier", points=F.sum("n_points"), page_bytes=F.sum(F.length("page"))
        )

    def _write(self, df: DataFrame, name: str, *partition_by: str, **sums: Column) -> dict:
        """Overwrite table ``name`` with ``df`` and return its row count
        (``rows``) and the ``sums`` aggregates, observed by the write job
        itself (no second scan). The observation must sit above any range
        exchange: the range partitioner's sampling job also runs the plan
        below it, which would count every row twice."""
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("rows"), *(c.alias(k) for k, c in sums.items())]
        writer = df.observe(obs, *aggs).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(name))
        return obs.get

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.schema(TABLE_SCHEMAS[name]).parquet(self._path(name))

    def expire(self, name: str, tier: str) -> None:
        """Retention expiry — Iceberg: ``DELETE WHERE tier=... AND bucket_ts < cutoff``
        → partition drop. Parquet fallback: remove the tier partition dir."""
        p = os.path.join(self._path(name), f"tier={tier}")
        if os.path.exists(p):
            shutil.rmtree(p)

    def exists(self, name: str) -> bool:
        return os.path.exists(self._path(name))


def write_bucketed_index(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> None:
    """Materialize a relation BUCKETED by its join key — the co-located-join
    path for the dedup inverted index (and any other repeatedly self-joined
    relation) at warehouse scale: both sides of an equi-join on
    ``bucket_col`` read pre-shuffled buckets, so the join plan contains NO
    Exchange. Iceberg twin: ``CREATE TABLE ... PARTITIONED BY
    (bucket(n, col))`` + storage-partitioned joins
    (``spark.sql.sources.v2.bucketing.enabled``); the parquet fallback uses
    Spark's native bucketing (requires ``saveAsTable``)."""
    (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .saveAsTable(table)
    )


def compact_tier(
    spark: SparkSession, path: str, sort_cols: tuple[str, ...] = ("source", "bucket_ts"),
    target_files: int = 1,
) -> tuple[int, int]:
    """Small-file compaction for a tier table directory: rewrite the
    partition's data as ``target_files`` sorted files. Iceberg twin:
    ``CALL system.rewrite_data_files(table => ..., strategy => 'sort')`` —
    this parquet fallback does the same rewrite via a staging directory and
    a swap. Returns (files_before, files_after).

    Crash-safety contract (this is two renames, not one atomic op): readers
    must be quiesced during the swap window — unlike Iceberg's snapshot
    commit, a concurrent reader can observe the directory missing between the
    two renames. A stale staging dir from a previously crashed run is
    discarded before writing, and if the second rename fails the original
    directory is restored from the swap location, so a crash never strands
    the table: the data is always at ``path`` or restorable from
    ``path + "__old"`` (which is only removed after the new data is in
    place).

    Streaming rollups and incremental appends accumulate one file per
    micro-batch/task; scan efficiency at 10^12 rows depends on periodically
    rewriting them into few large sorted files (row-group pruning on
    (source, bucket_ts) then works)."""
    import glob

    before = len(glob.glob(os.path.join(path, "*.parquet")))
    df = spark.read.parquet(path)
    staged = path.rstrip("/") + "__compacting"
    swap = path.rstrip("/") + "__old"
    for stale in (staged, swap):  # leftovers from a previously crashed run
        if os.path.exists(stale):
            shutil.rmtree(stale)
    (
        df.repartition(target_files)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(staged)
    )
    os.rename(path, swap)
    try:
        os.rename(staged, path)
    except OSError:
        os.rename(swap, path)  # restore the original table, then re-raise
        raise
    shutil.rmtree(swap)
    after = len(glob.glob(os.path.join(path, "*.parquet")))
    return before, after
