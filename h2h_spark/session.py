"""SparkSession factory tuned for this engine.

Local mode is one JVM with N threads; on a real cluster the same confs hold
(AQE, Arrow, UTC).  ``spark.sql.shuffle.partitions`` should track cluster
cores — at 100 TB you would set it to a few × total cores and let AQE
coalesce; locally we match the core count.

Python tasks start through :mod:`h2h_spark.worker_daemon`
(``spark.python.daemon.module``).  pyspark's stock daemon has every task
re-read the central directory of each zip on the workers' import path
(``pyspark.zip``, py4j, the spark-core jar), ~0.25 s of CPU per task
before its body runs; the engine's daemon re-reads a zip only when it
changed.  The module must be importable wherever the workers run, as the
engine's own task functions already must be.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def streaming_checkpoint_base() -> str:
    """Base directory for streaming checkpoints: tmpfs when available.

    The bounded-drain streaming queries (memory/foreachBatch sinks)
    never recover from a checkpoint, but Structured Streaming still
    fsyncs offset/commit logs per micro-batch — on disk that dominates
    the fixed cost of small test streams.  /dev/shm makes those writes
    memory-speed; each query still gets its own UUID subdirectory, and
    the per-process base is removed at exit.  Override with
    ``H2H_SPARK_CKPT_BASE``; falls back to the system tmpdir when no
    tmpfs exists (then this is purely the stock temp-checkpoint
    behavior, relocated)."""
    base = os.environ.get("H2H_SPARK_CKPT_BASE")
    if not base:
        root = "/dev/shm" if os.path.isdir("/dev/shm") else None
        if root is None:
            import tempfile

            root = tempfile.gettempdir()
        base = os.path.join(root, f"h2h_ckpt_{os.getpid()}")
        # Clean up at exit ONLY for the internally derived ephemeral
        # path.  A user-supplied H2H_SPARK_CKPT_BASE may point at a
        # durable directory (that is what the override is for) and must
        # never be deleted by us (ADVICE r12).
        if not getattr(streaming_checkpoint_base, "_registered", False):
            import atexit
            import shutil

            atexit.register(shutil.rmtree, base, ignore_errors=True)
            streaming_checkpoint_base._registered = True
    os.makedirs(base, exist_ok=True)
    return base


def get_spark(app_name: str = "h2h_spark", cpus: int | None = None) -> SparkSession:
    """Return (or create) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism.  All confs are
    cluster-safe: AQE for runtime re-planning (skew joins, partition
    coalescing), Arrow for the pandas-UDF fast path, UTC session timezone so
    timestamp semantics match the DuckDB oracle.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("H2H_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # see the module docstring: no per-task zip directory re-reads
        .config("spark.python.daemon.module", "h2h_spark.worker_daemon")
        # Parquet TIMESTAMP(NANOS) (e.g. the events table) has no Spark
        # timestamp type; read as long and convert explicitly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Parquet TIMESTAMP(MICROS) isAdjustedToUTC=false would otherwise
        # read as TIMESTAMP_NTZ (Spark 4), which watermarks/unix_micros
        # reject; under a UTC session tz the plain-TIMESTAMP read is
        # value-identical.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Runtime row-level join pruning: build a bloom filter from the
        # filtered dim side and push it into the fact scan — at 100 TB this
        # skips most of a selectively-joined fact table.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.warehouse.dir", "/tmp/h2h_spark_warehouse")
        # tmpfs checkpoints for the bounded-drain streaming queries:
        # per-micro-batch offset/commit log fsyncs at memory speed
        .config(
            "spark.sql.streaming.checkpointLocation",
            streaming_checkpoint_base(),
        )
        .config(
            "spark.sql.streaming.forceDeleteTempCheckpointLocation",
            "true",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
