"""SparkSession factory tuned for this engine.

Local testing runs a single JVM (``local[N]``); the configuration is chosen
so the same code scales to a multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), UTC session time zone so
event-time arithmetic matches the ANSI-SQL oracle, Arrow for any
Python-side exchange, ZSTD Parquet as the storage codec.

Streaming checkpoints (offsets, commits, source logs) are written through
Spark's ``FileSystemBasedCheckpointFileManager``, not the default
FileContext one.  Without the native Hadoop library, the local file
system runs some file calls as child processes: the FileContext manager's
rename forks ``readlink`` four times per metadata-log entry, on top of the
``chmod`` that any local create forks (the temp file and its ``.crc``,
whichever manager writes them).  The FileSystem manager writes the same
temp file and publishes it with ``FileSystem.rename``, which forks
nothing and is atomic on the local file system and on HDFS, so a log
entry is still either absent or complete.  An object store without
atomic rename would need the FileContext manager back.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "time_series_databse_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``shuffle_partitions`` should be ~cores locally; on a real cluster it is
    sized so a shuffle partition stays well under executor memory
    (AQE coalescing then trims small ones at runtime).

    ``extra_conf`` overlays/overrides builder configs — used by probes that
    need the UI/status API (``spark.ui.enabled``) which is off by default.
    Note getOrCreate() reuses any live session, so overrides only take
    effect when this call actually creates the JVM.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Read parquet TIMESTAMP (isAdjustedToUTC=false) as TimestampType so
        # event-time functions (window, unix_millis) work uniformly; with a
        # UTC session TZ this matches DuckDB's naive-UTC interpretation.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # The driver's events table carries parquet TIMESTAMP(NANOS), which
        # Spark's converter rejects; read it as int64 nanoseconds and let the
        # loader derive (ts: TimestampType µs, ts_ms: long) — see sources.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Whole-stage-codegen class cache (driver-side, data-size
        # independent).  The default 100 entries thrashes on any
        # application that runs a broad query suite: this engine's 153
        # benched queries compile ~15 codegen units each, and a 40-query
        # probe measured 588 Janino recompiles PER PASS at the default —
        # identical source recompiled every run — vs +4 once the cache
        # holds the working set (warm pass 26.4 s -> 21.4 s).  4096
        # entries bounds the cache at a few hundred MB of driver heap
        # worst-case and covers the suite with headroom.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # see the module docstring: no forked readlink per log entry
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
