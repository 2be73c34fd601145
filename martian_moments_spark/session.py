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

Python workers get the directory that holds this package on their
``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``, merged by Spark with
its own entries). Query UDFs import ``martian_moments_spark`` inside
the worker; without it they fail with ``ModuleNotFoundError`` whenever
the driver found the package through ``sys.path`` alone and the worker
starts outside the checkout.

Two more fixed defaults let a session compile each query once; neither
changes a plan, a result or a job:

- ``spark.sql.codegen.cache.maxEntries`` is ``CODEGEN_CACHE_ENTRIES``
  (1024; Spark's default is 100). The cache maps generated Java source
  to its compiled class. The 12 headline relational queries need 153
  entries, so under the default LRU every class was evicted before its
  next use: each warm pass ran 141 Janino compiles, unloaded about 250
  classes and had the JIT compile the fresh ones again. With 1024
  entries a repeated pass compiles none. An entry retains about 64 KB
  of heap, Metaspace and code cache (a 3,401-class sweep grew them by
  174, 26 and 19 MB), so a full cache costs at most about 65 MB.
  Executors compile the same classes inside their tasks, so the size
  matters in every executor JVM too.
- ``spark.python.sql.dataFrameDebugging.enabled`` is ``false``. With it
  on, PySpark captures a Python stack on every ``F.col`` and Column
  method and sends about 6 extra Py4J commands per call:
  ``F.col("a").cast("long").alias("b")`` sends 35 commands with it on
  and 5 with it off, and capture was 3,117 of the 5,065 round trips in
  one headline pass's plan builds. It only adds a Python call site to
  error messages. PySpark reads it once per process, from the session
  active at the first Column call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# The directory holding this package, for the Python workers' path.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Generated-class cache entries: the engine's working set of whole-stage
# codegen classes fits, so a repeated query reuses its compiled classes.
CODEGEN_CACHE_ENTRIES = 1024


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
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

    ``get_spark``'s codegen cache size is a static conf, read once per
    JVM, so a session the driver created keeps Spark's 100 entries and
    recompiles classes the LRU evicted. Call-site capture is read once
    per Python process, so it is not set here either.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    except Exception:
        pass  # static-only conf on some builds; AQE default-on in Spark 4
    return spark
