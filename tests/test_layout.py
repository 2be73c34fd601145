"""Layout utilities must actually enable pruning — asserted from the
physical plan, not assumed."""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F

from martian_moments_spark.operators.layout import clustered_write


def _explain(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_clustered_write_enables_partition_pruning(spark, tmp_path):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    path = str(tmp_path / "li_clustered")
    clustered_write(li, path, partition_by=("l_returnflag",), sort_by=("l_shipdate",))

    dirs = {d for d in os.listdir(path) if d.startswith("l_returnflag=")}
    assert dirs == {"l_returnflag=A", "l_returnflag=N", "l_returnflag=R"}

    filtered = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    plan = _explain(filtered)
    # equality on the partition column must become a PartitionFilter
    # (pruned scan), not a post-scan Filter over all partitions.
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan
    assert filtered.count() == li.filter("l_returnflag = 'R'").count()


def test_clustered_write_roundtrip_content(spark, tmp_path):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    path = str(tmp_path / "li_rt")
    clustered_write(li, path, partition_by=("l_linestatus",), sort_by=("l_orderkey",))
    back = spark.read.parquet(path)
    assert back.count() == li.count()
    a = li.agg(F.sum("l_orderkey"), F.sum("l_partkey")).first()
    b = back.agg(F.sum("l_orderkey"), F.sum("l_partkey")).first()
    assert tuple(a) == tuple(b)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with
    ZERO Exchange nodes — the co-located fact-fact join that makes
    lineitem⋈orders viable at 100 TB."""
    import re

    from martian_moments_spark.operators.layout import bucketed_table

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    bucketed_table(li, spark, "li_bkt", ["l_orderkey"], 8, sort_by=["l_orderkey"])
    bucketed_table(orders, spark, "ord_bkt", ["o_orderkey"], 8, sort_by=["o_orderkey"])
    try:
        j = spark.table("li_bkt").join(
            spark.table("ord_bkt"),
            spark.table("li_bkt").l_orderkey == spark.table("ord_bkt").o_orderkey,
        )
        plan = _explain(j)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
        assert j.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_z_value_matches_reference_interleave(spark):
    from martian_moments_spark.operators.layout import z_value

    def py_z(a, b, bits=16):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    cases = [(0, 0), (1, 0), (0, 1), (5, 9), (1023, 7), (65535, 65535)]
    df = spark.createDataFrame(cases, "a INT, b INT")
    got = {(r["a"], r["b"]): r["z"] for r in df.select("a", "b", z_value("a", "b").alias("z")).collect()}
    for a, b in cases:
        assert got[(a, b)] == py_z(a, b), (a, b)


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    """The point of z-ordering: parquet footer min/max stats must be
    able to skip files for a predicate on the NON-leading dimension,
    which a lexicographic sort cannot do at all."""
    import glob

    import pyarrow.parquet as pq

    from martian_moments_spark.operators.layout import zorder_write

    rows = [(a, b) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows, "a INT, b INT")

    zdir = str(tmp_path / "zord")
    ldir = str(tmp_path / "lex")
    zorder_write(df, zdir, "a", "b", n_files=16)
    (
        df.repartitionByRange(16, "a", "b")
        .sortWithinPartitions("a", "b")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    def file_bounds(d):
        out = []
        for p in sorted(glob.glob(d + "/*.parquet")):
            md = pq.ParquetFile(p).metadata
            mins, maxs = {}, {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    mins[name] = min(mins.get(name, st.min), st.min)
                    maxs[name] = max(maxs.get(name, st.max), st.max)
            if mins:
                out.append((mins["a"], maxs["a"], mins["b"], maxs["b"]))
        return out

    def files_scanned_for_b_range(bounds, lo, hi):
        return sum(1 for (_a0, _a1, b0, b1) in bounds if not (b1 < lo or b0 > hi))

    zb, lb = file_bounds(zdir), file_bounds(ldir)
    assert len(zb) > 4 and len(lb) > 4
    # a b-only range predicate: lexicographic (a-leading) layout keeps
    # the full b range in (nearly) every file -> scans everything;
    # z-order must skip at least half the files.
    z_scan = files_scanned_for_b_range(zb, 0, 7)
    l_scan = files_scanned_for_b_range(lb, 0, 7)
    assert l_scan == len(lb), "lexicographic layout unexpectedly pruned b"
    assert z_scan <= len(zb) // 2, f"z-order scanned {z_scan}/{len(zb)} files"
    # and the z layout still prunes the leading dimension too
    assert files_scanned_for_b_range(
        [(b0, b1, a0, a1) for (a0, a1, b0, b1) in zb], 0, 7
    ) <= len(zb) // 2
