"""Table layout: the Snowflake ``cluster_by`` analog (SURVEY X4).

The reference declares cluster_by=['rover_id','sol','earth_date'] etc.
on every materialized model (flat_photo_response.sql:5) and lets
Snowflake micro-partition. The Spark equivalent is explicit:
partition directories for pruning + within-file sort for row-group
skipping (parquet min/max stats) + bucketing for co-located joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def clustered_write(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    sort_by: Sequence[str] = (),
    files_per_partition: int = 1,
) -> None:
    """Write with the cluster_by layout: directory partitions on the
    coarse key (→ Catalyst partition pruning on equality/range
    predicates), rows sorted within files on the fine key (→ parquet
    row-group min/max skipping). ``files_per_partition`` sizes output
    files — at 100 TB aim for 128-512 MB files, here 1 file per
    partition keeps the test layout readable."""
    out = df
    if partition_by:
        out = out.repartition(files_per_partition, *partition_by)
    if sort_by:
        out = out.sortWithinPartitions(*[*partition_by, *sort_by])
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def bucketed_table(
    df: DataFrame,
    spark: SparkSession,
    table_name: str,
    bucket_by: Sequence[str],
    n_buckets: int,
    sort_by: Sequence[str] = (),
) -> None:
    """Bucketed saveAsTable: both sides of a recurring equi-join
    bucketed on the key join WITHOUT a shuffle (the reference's
    co-clustered fact joins, and this engine's 100 TB answer for
    lineitem⋈orders-shaped joins)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)


def z_value(a, b, bits: int = 16):
    """Morton/Z-order interleave of two non-negative int columns — the
    multi-dimension clustering key the reference approximates with
    composite cluster_by (flat_photo_response.sql:5: rover_id, sol,
    earth_date). Sorting files by z-value keeps points close in BOTH
    dimensions close on disk, so parquet min/max row-group stats prune
    2-D range predicates that a lexicographic sort only prunes on its
    leading column."""
    from functools import reduce

    from pyspark.sql import functions as F

    # widen to 64-bit BEFORE shifting: interleaving 16-bit inputs needs
    # bit positions up to 31, which overflows IntegerType shifts.
    ca = (a if not isinstance(a, str) else F.col(a)).cast("long")
    cb = (b if not isinstance(b, str) else F.col(b)).cast("long")
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(ca, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(cb, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda x, y: x.bitwiseOR(y), terms).cast("long")


def zorder_write(
    df,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 16,
) -> str:
    """Z-order-clustered parquet write (the OPTIMIZE ZORDER BY analog,
    X4's multi-dimensional form): range-partition rows by their Morton
    z-value into ``n_files`` output files and sort within each file by
    the same value, so every file (and every row group inside it)
    covers a compact region of the (col_a, col_b) plane. Parquet
    footer min/max stats then prune predicates on EITHER column —
    a lexicographic sort only prunes its leading column.

    At 100 TB this is the difference between a b-predicate scanning
    every file and scanning ~sqrt-fraction of them; the z computation
    itself is pure per-row bit math (no shuffle beyond the range
    partition, which a periodic re-cluster amortizes)."""
    from pyspark.sql import functions as F

    out = (
        df.withColumn("__z", z_value(col_a, col_b, bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    out.write.mode("overwrite").parquet(path)
    return path
