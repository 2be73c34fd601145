"""SparkSession factory.

The reference delegates all execution tuning to Snowflake; here the
equivalent engine-level knobs are Spark conf. Defaults are chosen for
correctness-vs-oracle (UTC session timezone — DuckDB timestamps are
UTC-naive) and for scale (AQE on, so skewed shuffles re-plan at
runtime; shuffle partitions sized to cores locally, overridable for a
real cluster via ``spark.sql.shuffle.partitions``).

Stream checkpoints (``offsets/``, ``commits/``, ``sources/``) are
written through Spark's FileSystem-based checkpoint manager. The
default FileContext manager resolves symlinks before each rename, and
without the native Hadoop library the JVM forks ``readlink`` for
every one of them. The FileSystem rename is atomic on POSIX and on
HDFS, so a checkpoint file still appears whole or not at all, and
exactly-once recovery is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "martian-moments-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster the caller passes ``master`` and sizes
    ``shuffle_partitions`` to ~2-3x total cores; locally both default
    from SPARK_GRAFT_CPUS.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_MANAGER)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:
        pass  # Spark Connect sessions have no sparkContext; log level
        # is then the server's concern, not a correctness matter
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine conf to an externally created
    session (the driver hands us its own SparkSession).

    UTC is required for value-parity with the DuckDB oracle (DuckDB
    timestamps are UTC-naive); AQE settings are runtime-mutable and
    safe to assert here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    except Exception:
        pass  # static-only conf on some builds; AQE default-on in Spark 4
    return spark
