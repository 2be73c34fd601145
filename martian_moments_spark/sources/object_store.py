"""Object-store JSON routing (S4, S6, F4, X8).

The reference routes files by filename prefix twice: MinIO uploads go
to photos/ | coordinates/ | manifests/ (src/utils/minio.py:26-34) and
Snowflake COPY targets a bronze table by the same prefixes
(src/utils/snowflake.py:31-39), loading with MATCH_BY_COLUMN_NAME +
ON_ERROR='CONTINUE' (:45-51). Spark-side: the upload routing is a
partitioned write; the load routing is input_file_name()-driven; the
error tolerance is PERMISSIVE mode + a _corrupt_record column.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# filename-prefix → route, verbatim from the reference's two routers.
PREFIX_ROUTES: tuple[tuple[str, str], ...] = (
    ("mars_rover_photos", "photos"),
    ("rover_coordinates", "coordinates"),
    ("mission_manifests", "manifests"),
)


def route_for_filename(filename: Column) -> Column:
    """Prefix-match routing as a column expression (F4)."""
    out = F.lit("unrouted")
    for prefix, route in reversed(PREFIX_ROUTES):
        out = F.when(filename.startswith(prefix), route).otherwise(out)
    return out


def write_json_routed(df: DataFrame, base_dir: str, filename_col: str = "filename") -> None:
    """Object-store JSON sink with prefix routing (S4): one JSON-lines
    dataset per route directory — `partitionBy(route)` so the write is
    a single job and each route is a prefix (= MinIO folder)."""
    df.withColumn("route", route_for_filename(F.col(filename_col))).write.mode(
        "append"
    ).partitionBy("route").json(base_dir)


def bronze_load(
    spark: SparkSession, paths: list[str], schema: str, corrupt_col: str = "_corrupt_record"
) -> DataFrame:
    """Bulk JSON load (S6): schema-tolerant (missing fields → NULL, the
    MATCH_BY_COLUMN_NAME analog), per-record error tolerance
    (PERMISSIVE + corrupt-record column, the ON_ERROR='CONTINUE'
    analog), and source-file + route lineage columns for the
    filename-prefix table routing."""
    df = (
        spark.read.schema(f"{schema}, {corrupt_col} STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(paths)
    )
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return df.withColumn("source_file", fname).withColumn(
        "route", route_for_filename(fname)
    )


def csv_bronze_load(
    spark: SparkSession,
    paths: list[str],
    schema: str,
    corrupt_col: str = "_corrupt_record",
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV flavor of ``bronze_load`` — same ingestion discipline for
    the delimited files every data exchange still ships: explicit
    schema (never inferSchema at scale: one extra full pass and
    type drift per file), PERMISSIVE parsing with malformed rows
    routed to the corrupt-record column instead of failing the load
    (ON_ERROR='CONTINUE'), and the same source-file + prefix-route
    lineage columns."""
    df = (
        spark.read.schema(f"{schema}, {corrupt_col} STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(paths)
    )
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return df.withColumn("source_file", fname).withColumn(
        "route", route_for_filename(fname)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    rows_per_shard: int,
    order_col: str | None = None,
    fmt: str = "json",
) -> int:
    """Export a curated corpus as bounded-size training shards (the
    JSONL/parquet layout a training loader streams): every output file
    holds at most ``rows_per_shard`` rows, enforced by Spark's own
    ``maxRecordsPerFile`` (the writer rolls files JVM-side — no
    repartition-by-count shuffle, no driver involvement).

    With ``order_col`` the data is range-partitioned and sorted within
    shards first, so shard N's key range precedes shard N+1's — the
    deterministic, resumable layout curriculum or sequential readers
    need; without it shards follow the upstream partitioning (cheapest).
    Returns the number of shard files written.

    Scale: ``maxRecordsPerFile`` bounds memory per writer task at one
    shard; range partitioning samples boundaries exactly like a global
    sort. Reference analog: the object-store JSON sink (S4,
    src/utils/minio.py) with the file-size discipline a 100 TB corpus
    export needs."""
    import os

    out = df
    if order_col is not None:
        out = df.repartitionByRange(order_col).sortWithinPartitions(order_col)
    writer = out.write.mode("overwrite").option("maxRecordsPerFile", rows_per_shard)
    if fmt == "json":
        writer.json(path)
        suffix = ".json"
    elif fmt == "parquet":
        writer.parquet(path)
        suffix = ".parquet"
    elif fmt == "orc":
        writer.orc(path)
        suffix = ".orc"
    elif fmt == "csv":
        writer.option("header", "true").csv(path)
        suffix = ".csv"
    else:
        raise ValueError(f"unsupported shard format {fmt!r} (json|parquet|orc|csv)")
    return sum(
        1
        for name in os.listdir(path)
        if name.endswith(suffix) and not name.startswith((".", "_"))
    )
