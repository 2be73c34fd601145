"""Table catalog over the synthetic star schema (TESTDATA.md).

Mirrors the reference's source registry (dbt ``sources.yml`` declares
bronze tables; models refer to them by name) as a thin path registry:
tables resolve to parquet under an sf_dir. Reads are plain
``spark.read.parquet`` so Catalyst gets full pushdown/pruning —
column selection and filters in downstream plans reach the scan.

Role mapping (FIXTURES.md §4): lineitem≈fact_photos/fact_path,
orders≈flat_manifest_photos (expected grain for gap detection),
customer/supplier/nation/region≈dims, events≈Kafka control messages +
bronze JSON, documents/embeddings≈LLM-data extension tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast unconditionally at any scale the
# engine targets (region/nation are fixed-cardinality; supplier/customer
# grow with SF and are left to AQE's broadcast decision).
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns the testdata generator MAY write as parquet TIMESTAMP(NANOS)
# — Spark's vectorized reader has no nanos timestamp type, so those are
# read as epoch-nanos LongType (legacy conf) and converted to
# microsecond timestamps. Generator versions differ (some emit
# timestamp[us] directly), so the conversion is applied only when the
# column actually reads back as LongType; a native timestamp column
# passes through untouched. Lossless either way: stamps are at
# microsecond granularity (matches DuckDB→pandas us canon).
NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def fingerprint(path: str):
    """Staleness key of a dataset path for plan and probe memos: a
    file's ``st_mtime_ns``; for a directory, the newest file
    ``st_mtime_ns`` under it plus the file count, so rewriting one file
    in place, or adding or removing files, changes it. None when the
    path does not exist."""
    try:
        if not os.path.isdir(path):
            return os.stat(path).st_mtime_ns
        newest, count = 0, 0
        for root, _, files in os.walk(path):
            for f in files:
                newest = max(newest, os.stat(os.path.join(root, f)).st_mtime_ns)
                count += 1
        return newest, count
    except OSError:
        return None


#: per-session memo of ANALYZED table DataFrames (r12 VERDICT #8): a
#: plan-construction profile of the sub-1.5 s registry tail put
#: 100-230 ms of every query build in python plan construction, and
#: most of that in load()'s spark.read.parquet (file listing + schema
#: inference py4j round-trips) — paid once per load() call, i.e. 1-3x
#: per query build, ~300x per registry sweep. DataFrames are immutable
#: plan objects, so one per (session, sf_dir, table, fingerprint)
#: serves every consumer. This memoizes the PLAN, never data: every
#: action still scans parquet (bench/oracle runs recompute from the
#: files on every invocation). The WeakKeyDictionary drops entries
#: with their session; the fingerprint invalidates in-process dataset
#: rewrites (the same one keys parallelize._PROBE_MEMO), and
#: reset_load_memo() is the explicit hook for harnesses that rewrite
#: files without changing their mtimes.
import weakref

_LOAD_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def reset_load_memo() -> None:
    """Drop all memoized table DataFrames (test harnesses that rewrite
    datasets in place call this)."""
    _LOAD_MEMO.clear()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table. Columnar parquet scan; callers project/
    filter and Catalyst pushes both into the scan."""
    path = table_path(sf_dir, name)
    nanos_cols = NANOS_TS_COLUMNS.get(name, ())
    if nanos_cols:
        # set on memo hits too: the conf is read again when the plan
        # is executed, not only when it is analyzed
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        per_session = _LOAD_MEMO.setdefault(spark, {})
    except TypeError:  # unhashable/unweakrefable session stand-ins
        per_session = {}
    key = (sf_dir, name, fingerprint(path))
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for c in nanos_cols:
        if c not in df.columns:
            continue
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):
            # Integer DIV, not `/`: float division of epoch-nanos loses
            # the last microsecond digit (2^53 < 1.7e18).
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
        elif isinstance(dt, TimestampNTZType):
            # Generator variants write timestamp[us] without UTC
            # adjustment → Spark reads TIMESTAMP_NTZ, which rejects
            # casts to numeric epoch. The session tz is pinned UTC
            # (ensure_engine_conf), so the NTZ→LTZ cast is the identity
            # on the wall clock — same instants DuckDB's epoch() sees.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    per_session[key] = df
    return df


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count from parquet footer metadata — no Spark job.

    The planner's trick: every parquet footer records its row count,
    so COUNT(*) over a raw table is an O(files) driver-side metadata
    read, not a corpus scan. Queries that need a scalar ``n`` to size
    a data structure (the corpus-scaled k-means quantizer) use this to
    drop one full-table Spark job per invocation. At 100 TB the footer
    walk is the same O(files) listing the scan planner already pays.

    Returns None when the count can't be established from metadata
    (missing path, unreadable footer) — callers fall back to
    ``df.count()``. Only valid for the RAW catalog table: any filter
    applied after ``load`` invalidates the metadata count, which is
    why this takes (sf_dir, name) and not a DataFrame.
    """
    import glob

    try:
        import pyarrow.parquet as pq

        path = table_path(sf_dir, name)
        if os.path.isfile(path):
            files = [path]
        else:
            # recursive: a partitioned/nested dataset keeps data files
            # under subdirectories; a top-level-only glob would silently
            # undercount and desync every corpus-scaled k between Spark
            # and the DuckDB oracle (ADVICE r09). _SUCCESS/_metadata
            # markers don't match *.parquet so they never inflate it.
            files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if not files:
                return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None
