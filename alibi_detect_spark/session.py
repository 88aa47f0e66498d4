"""SparkSession factory tuned for the engine.

Local-mode defaults match the sandbox (single JVM, N executor threads); the
same config block is what we'd pass to ``spark-submit --py-files`` on a real
multi-executor cluster — nothing here is local-only except ``master``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "alibi_detect_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Parameters
    ----------
    parallelism
        Local core count (``local[parallelism]``). Defaults to
        ``$SPARK_GRAFT_CPUS`` or all cores. On a real cluster this arg is
        ignored in favour of the submit-time executor config.
    shuffle_partitions
        Defaults to the parallelism — shuffle partitions ≈ total cores is
        right for local mode; a cluster job would set ~2-3× total cores and
        rely on AQE coalescing.
    """
    # one BLAS thread per python worker: Spark already parallelizes across
    # workers, and an unpinned OpenBLAS spawns n_cpus threads PER worker —
    # n_workers × n_cpus oversubscription thrashes the detector-fit matmuls
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cores = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    shuffle = shuffle_partitions or cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalesces shuffles by BYTES and cannot see python-UDF compute:
        # with the default 1 MiB floor it collapses the (tiny-by-bytes,
        # heavy-by-CPU) applyInPandas detector/encode shuffles to ONE
        # partition, serializing them. A small floor keeps parallelism-first
        # coalescing at ~defaultParallelism partitions; large shuffles are
        # unaffected (their size/parallelism quotient dominates the floor).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16384")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # tier pages / detector chunks are bounded; keep file splits big enough
        # that a 100 TB scan doesn't explode into tiny tasks (Spark's default
        # is 128 MiB; its 4 MiB openCostInBytes default is kept). Another
        # split size, e.g. for a small-input parallelism study, goes through
        # ``extra_conf``.
        .config("spark.sql.files.maxPartitionBytes", "268435456")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # shuffle/spill scratch — point at tmpfs for parallelism studies so
        # a single sandbox disk doesn't serialize an IO-bound shuffle
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
