"""Relational operator queries (SURVEY.md §2.2-§2.7).

Each query re-expresses one (or a cluster) of the reference's
relational operators on the synthetic star schema, with the FIXTURES.md
§4 role mapping: lineitem≈fact_photos/fact_path, orders≈manifest grain,
customer/supplier/nation/region≈dims, part≈camera categorization.

Scale notes apply to every query here: joins to `nation`/`region` are
explicit broadcasts (bounded dims — reference analog: 4-row rover dim,
dim_rovers.sql:7-13); fact-fact joins shuffle on their equi-keys and
AQE handles skew; aggregates are expressed declaratively so Catalyst
plans partial (map-side) + final hash aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from martian_moments_spark.catalog import load
from martian_moments_spark.operators.parallelize import spread
from martian_moments_spark.functions.numeric import (
    fixed_avg,
    fixed_sum,
    sql_fixed_avg,
    sql_fixed_sum,
)
from martian_moments_spark.plans.registry import register


@register(
    "daily_activity",
    ops=("P3", "P8", "J2", "A1", "A3", "A4", "F8"),
    bench=True,
    oracle=f"""
        SELECT
            o.o_orderdate AS activity_date,
            n.n_name      AS nation_name,
            COUNT(*)                                                    AS total_items,
            CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_items,
            CAST(SUM(CASE WHEN l.l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS accepted_items,
            CAST(SUM(CASE WHEN l.l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS neutral_items,
            {sql_fixed_sum("l.l_extendedprice * (1 - l.l_discount)")}   AS revenue,
            MAX(l.l_shipdate)                                           AS latest_shipdate
        FROM lineitem l
        JOIN orders   o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation   n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY o.o_orderdate, n.n_name
    """,
)
def daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's gold mart `daily_activity`
    (models/marts/daily_activity.sql:9-30) — per-day activity rollup
    with conditional per-category counts (SUM(CASE WHEN category ...))
    and an equality filter, over a fact x dims join chain
    (camera_travel_correlation.sql:35-42 shape).

    Scale: lineitem⋈orders shuffles on orderkey (co-partitionable at
    100 TB via bucketing both facts on the key); customer joins via
    AQE broadcast at small SF / shuffle at scale; nation is an
    explicit broadcast (25 rows, analog of the 4-row rover dim).
    """
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount", "l_shipdate"
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus"
    )
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    flag_count = lambda v: F.sum(F.when(F.col("l_returnflag") == v, 1).otherwise(0))  # noqa: E731
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_orderstatus") == "F")
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("o_orderdate").alias("activity_date"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("total_items"),
            flag_count("R").alias("returned_items"),
            flag_count("A").alias("accepted_items"),
            flag_count("N").alias("neutral_items"),
            fixed_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.max("l_shipdate").alias("latest_shipdate"),
        )
    )


@register(
    "pricing_summary",
    ops=("A1", "A3", "A4", "O1", "P3"),
    bench=True,
    oracle=f"""
        SELECT
            l_returnflag,
            l_linestatus,
            {sql_fixed_sum("l_quantity")}                                AS sum_qty,
            {sql_fixed_sum("l_extendedprice")}                           AS sum_base_price,
            {sql_fixed_sum("l_extendedprice * (1 - l_discount)")}        AS sum_disc_price,
            {sql_fixed_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
            {sql_fixed_avg("l_quantity")}                                AS avg_qty,
            {sql_fixed_avg("l_extendedprice")}                           AS avg_price,
            {sql_fixed_avg("l_discount", scale=1000000)}                 AS avg_disc,
            COUNT(*)                                                     AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate group-by + order-by (the reference's
    photo_summary mart shape, models/marts/photo_summary.sql, widened
    to the classic pricing-summary rollup).

    Scale: single shuffle on the two low-cardinality group keys;
    Catalyst plans partial hash aggregation map-side so the shuffle
    carries one row per (flag,status) per task, not per input row.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    kept = spread(
        # spread on two high-cardinality value columns: the group key
        # (flag, status) has only ~4 combinations and cannot fill the
        # session's partitions (guide §2.5)
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")),
        "l_extendedprice",
        "l_quantity",
        memo_key=sf_dir + ":lineitem",
        byte_cap=True,
    )
    return (
        kept.groupBy("l_returnflag", "l_linestatus")
        .agg(
            fixed_sum("l_quantity").alias("sum_qty"),
            fixed_sum("l_extendedprice").alias("sum_base_price"),
            fixed_sum(disc_price).alias("sum_disc_price"),
            fixed_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            fixed_avg("l_quantity").alias("avg_qty"),
            fixed_avg("l_extendedprice").alias("avg_price"),
            fixed_avg("l_discount", scale=1000000).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "gap_detection_anti_join",
    ops=("J4", "P5", "A1"),
    bench=True,
    oracle="""
        SELECT c.c_custkey, c.c_name, c.c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def gap_detection_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's gap detector: LEFT JOIN + WHERE right IS NULL
    (validation_photo_gaps.sql:54-59) — expected grain with no matching
    actual rows, driving the backfill feedback loop (E6). Expressed as
    Spark's first-class left_anti join rather than the join+filter idiom.

    Scale: anti-join shuffles both sides on the key; at 100 TB the
    expected/actual tables are bucketed on the key so this is a
    co-located zipper, and the anti side only carries the key column.
    """
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")


@register(
    "validation_gaps",
    ops=("J3", "J4", "P5", "P10", "P11", "P13", "A1", "A2", "O1"),
    bench=True,
    oracle=f"""
        WITH actual AS (
            SELECT
                l_orderkey,
                COUNT(*)                          AS actual_item_count,
                COUNT(DISTINCT l_suppkey)         AS actual_supplier_count,
                {sql_fixed_sum("l_extendedprice")} AS actual_total_price
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_orderkey
        )
        SELECT
            o.o_orderkey,
            o.o_orderdate,
            COALESCE(a.actual_item_count, 0)      AS actual_item_count,
            COALESCE(a.actual_supplier_count, 0)  AS actual_supplier_count,
            ROUND(o.o_totalprice - COALESCE(a.actual_total_price, 0), 2) AS price_diff,
            CASE
                WHEN a.l_orderkey IS NULL THEN 'MISSING_ORDER'
                WHEN a.actual_total_price > o.o_totalprice THEN 'PRICE_MISMATCH'
                WHEN a.actual_supplier_count > a.actual_item_count THEN 'SUPPLIER_COUNT_MISMATCH'
                ELSE 'VALID'
            END AS validation_status
        FROM orders o
        LEFT JOIN actual a ON o.o_orderkey = a.l_orderkey
        ORDER BY o.o_orderkey
    """,
)
def validation_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full reconciliation model
    (validation_photo_gaps.sql:6-62): aggregate the actual side,
    LEFT JOIN expected x actual, difference expressions, multi-branch
    CASE status, COALESCE defaults, ordered output. Unlike the
    reference (which keeps only MISSING_SOL rows — SURVEY §3.4 quirk),
    all statuses are emitted; the anti-join variant is
    `gap_detection_anti_join`.

    Scale: the actual-side aggregate and the join share the same key
    (orderkey), so Catalyst reuses one shuffle partitioning; the
    COUNT(DISTINCT) expands to a two-phase aggregate automatically.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_shipdate"
    )
    actual = (
        # spread on the agg key: the repartition establishes the very
        # hashpartitioning the (count-distinct two-phase) aggregate
        # needs, so it replaces the agg exchange rather than adding one
        spread(
            lineitem.filter(
                F.col("l_shipdate") <= F.lit("1997-01-01").cast("timestamp")
            ),
            "l_orderkey",
            memo_key=sf_dir + ":lineitem",
            byte_cap=True,
        )
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("actual_item_count"),
            F.countDistinct("l_suppkey").alias("actual_supplier_count"),
            fixed_sum("l_extendedprice").alias("actual_total_price"),
        )
    )
    joined = orders.join(actual, orders.o_orderkey == actual.l_orderkey, "left")
    status = (
        F.when(F.col("l_orderkey").isNull(), "MISSING_ORDER")
        .when(F.col("actual_total_price") > F.col("o_totalprice"), "PRICE_MISMATCH")
        .when(
            F.col("actual_supplier_count") > F.col("actual_item_count"),
            "SUPPLIER_COUNT_MISMATCH",
        )
        .otherwise("VALID")
    )
    return joined.select(
        "o_orderkey",
        "o_orderdate",
        F.coalesce("actual_item_count", F.lit(0)).alias("actual_item_count"),
        F.coalesce("actual_supplier_count", F.lit(0)).alias("actual_supplier_count"),
        F.round(
            F.col("o_totalprice") - F.coalesce("actual_total_price", F.lit(0.0)), 2
        ).alias("price_diff"),
        status.alias("validation_status"),
    ).orderBy("o_orderkey")


@register(
    "dim_small_join_chain",
    ops=("J1", "P1", "A1"),
    oracle=f"""
        SELECT
            r.r_name AS region_name,
            n.n_name AS nation_name,
            COUNT(s.s_suppkey)            AS supplier_count,
            {sql_fixed_sum("s.s_acctbal")} AS total_acctbal
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    """,
)
def dim_small_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-key inner equi-joins through small dims with projection +
    rename (dim_coordinate.sql:19-20 x fact_photos.sql:6-14 shapes).

    Scale: both dims broadcast — zero shuffles for the joins; the only
    shuffle is the final group-by.
    """
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_acctbal")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = load(spark, sf_dir, "region")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count("s_suppkey").alias("supplier_count"),
            fixed_sum("s_acctbal").alias("total_acctbal"),
        )
    )


@register(
    "left_join_coalesce",
    ops=("J3", "P11", "A1"),
    oracle=f"""
        WITH per_cust AS (
            SELECT o_custkey, COUNT(*) AS order_count,
                   {sql_fixed_sum("o_totalprice")} AS total_spend
            FROM orders GROUP BY o_custkey
        )
        SELECT c.c_custkey, c.c_mktsegment,
               COALESCE(p.order_count, 0)      AS order_count,
               COALESCE(p.total_spend, 0.0)    AS total_spend
        FROM customer c
        LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
    """,
)
def left_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping unmatched rows + COALESCE defaults
    (daily_activity.sql:12-13,20-25 — facts keep rows without a path
    match and default day_type/length)."""
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            fixed_sum("o_totalprice").alias("total_spend"),
        )
    )
    return customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("order_count", F.lit(0)).alias("order_count"),
        F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
    )


@register(
    "interval_containment",
    ops=("P6", "J6", "A1"),
    oracle="""
        SELECT
            l.l_orderkey,
            l.l_linenumber,
            l.l_shipdate,
            (l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY)
                AS shipped_within_90d
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def interval_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join + BETWEEN range predicate as a boolean column — the
    reference's photo-SCLK-in-travel-interval test
    (camera_travel_correlation.sql:33,41-42): equi-join on
    (rover_id, sol) then `photo_time BETWEEN sclk_start AND sclk_end`.

    Scale: the range test rides on the equi-join (no theta join);
    a standalone interval join would bucketize the range key first
    (see operators.relational.range_join)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.col("l_shipdate")
        .between(F.col("o_orderdate"), F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .alias("shipped_within_90d"),
    )


@register(
    "case_bucketize",
    ops=("P8", "A1"),
    oracle=f"""
        SELECT
            CASE
                WHEN l_quantity IS NULL OR l_quantity = 0 THEN 'Stationary'
                WHEN l_quantity < 5  THEN 'Minimal Movement'
                WHEN l_quantity < 20 THEN 'Short Travel'
                ELSE 'Long Travel'
            END AS day_type,
            COUNT(*) AS n_items,
            {sql_fixed_sum("l_extendedprice")} AS total_price
        FROM lineitem
        GROUP BY 1
    """,
)
def case_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketization — the reference's day_type buckets on
    travel length (fact_path.sql:20-29: NULL/0 Stationary, <5 Minimal
    Movement, <20 Short Travel, else Long Travel), applied to
    l_quantity."""
    li = load(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    day_type = (
        F.when(F.col("l_quantity").isNull() | (F.col("l_quantity") == 0), "Stationary")
        .when(F.col("l_quantity") < 5, "Minimal Movement")
        .when(F.col("l_quantity") < 20, "Short Travel")
        .otherwise("Long Travel")
    )
    return (
        li.withColumn("day_type", day_type)
        .groupBy("day_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            fixed_sum("l_extendedprice").alias("total_price"),
        )
    )


@register(
    "case_dict_map",
    ops=("P9", "A6"),
    oracle="""
        SELECT DISTINCT
            n_name AS nation_name,
            CASE n_name
                WHEN 'UNITED STATES' THEN 8
                WHEN 'CANADA'        THEN 7
                WHEN 'BRAZIL'        THEN 6
                WHEN 'ARGENTINA'     THEN 5
                ELSE 0
            END AS nation_code
        FROM nation
    """,
)
def case_dict_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hardcoded CASE dictionary map — the reference's rover_name →
    rover_id map (Perseverance=8, Spirit=7, Opportunity=6, Curiosity=5,
    else 0; dim_rovers.sql:7-13, duplicated in fact_path.sql:7-13 and
    dim_cameras.sql:7-13). At scale this is a broadcast lookup; as in
    the reference it is a literal expression."""
    nation = load(spark, sf_dir, "nation").select("n_name")
    code = (
        F.when(F.col("n_name") == "UNITED STATES", 8)
        .when(F.col("n_name") == "CANADA", 7)
        .when(F.col("n_name") == "BRAZIL", 6)
        .when(F.col("n_name") == "ARGENTINA", 5)
        .otherwise(0)
    )
    return nation.select(
        F.col("n_name").alias("nation_name"), code.alias("nation_code")
    ).distinct()


@register(
    "in_list_category",
    ops=("P7", "P8", "A1"),
    oracle=f"""
        SELECT
            CASE
                WHEN p_type IN ('ECONOMY', 'STANDARD') THEN 'Engineering'
                WHEN p_type IN ('PROMO', 'LARGE')      THEN 'Science'
                WHEN p_type IN ('MEDIUM')              THEN 'Entry, Descent, and Landing'
                ELSE 'Other'
            END AS part_category,
            COUNT(*) AS n_parts,
            {sql_fixed_avg("p_retailprice")} AS avg_price
        FROM part
        GROUP BY 1
    """,
)
def in_list_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list membership → category — the reference's camera
    categorization (dim_cameras.sql:17-31: three hardcoded name lists →
    Engineering / Science / EDL / Other)."""
    part = load(spark, sf_dir, "part").select("p_type", "p_retailprice")
    category = (
        F.when(F.col("p_type").isin("ECONOMY", "STANDARD"), "Engineering")
        .when(F.col("p_type").isin("PROMO", "LARGE"), "Science")
        .when(F.col("p_type").isin("MEDIUM"), "Entry, Descent, and Landing")
        .otherwise("Other")
    )
    return (
        part.withColumn("part_category", category)
        .groupBy("part_category")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            fixed_avg("p_retailprice").alias("avg_price"),
        )
    )


@register(
    "row_number_synthetic_key",
    ops=("W2", "P12"),
    oracle="""
        SELECT
            l_orderkey,
            l_linenumber,
            CAST(l_orderkey * 1000 + ROW_NUMBER() OVER (
                PARTITION BY l_orderkey ORDER BY l_linenumber
            ) AS BIGINT) AS item_id,
            CAST(ROW_NUMBER() OVER (
                PARTITION BY l_orderkey ORDER BY l_linenumber
            ) AS BIGINT) AS item_sequence
        FROM lineitem
    """,
)
def row_number_synthetic_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned ROW_NUMBER + arithmetic synthetic key — the
    reference's coordinate_id = rover_id*1e9 + sol*1000 + seq over
    (PARTITION BY rover_id, sol ORDER BY coord.index)
    (dim_coordinate.sql:7-8,18).

    Scale: partitioned window → one shuffle on the partition key; no
    global ordering required (contrast `global_row_number`)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    w = W.partitionBy("l_orderkey").orderBy("l_linenumber")
    seq = F.row_number().over(w).cast("long")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_orderkey") * 1000 + seq).alias("item_id"),
        seq.alias("item_sequence"),
    )


@register(
    "global_row_number",
    ops=("W1", "A6"),
    oracle="""
        SELECT
            p_brand,
            p_type,
            CAST(ROW_NUMBER() OVER (ORDER BY p_brand, p_type) AS BIGINT) AS brand_type_id
        FROM (SELECT DISTINCT p_brand, p_type FROM part)
    """,
)
def global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (unpartitioned) ROW_NUMBER over deduped rows — the
    reference's camera_id = ROW_NUMBER() OVER (ORDER BY camera_name,
    rover_id) on a grouped view (dim_cameras.sql:15,38-41). The
    reference's id is order-unstable (SURVEY §3.4 quirk); here the
    ORDER BY covers the full distinct key so the id is deterministic.

    Scale: a global window is a single-partition sort — acceptable only
    at dim cardinality (documented guard; the fact-side analog is
    `row_number_synthetic_key`)."""
    part = load(spark, sf_dir, "part").select("p_brand", "p_type").distinct()
    w = W.orderBy("p_brand", "p_type")
    return part.select(
        "p_brand", "p_type", F.row_number().over(w).cast("long").alias("brand_type_id")
    )


@register(
    "ordered_limit",
    ops=("O1", "O2"),
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 200
    """,
)
def ordered_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered top-K — the reference's scheduling batch fetch
    (SELECT ... FROM VALIDATION_PHOTO_GAPS LIMIT 200,
    src/utils/snowflake.py:76 with BATCH_SIZE=200 src/config.py:32, plus
    ORDER BY sol validation_photo_gaps.sql:62). Deterministic tiebreak
    on the key so the result is hash-stable.

    Scale: Spark plans TakeOrderedAndProject — per-partition top-K then
    a K-row merge at the driver; no global sort materialization."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    return orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(200)


@register(
    "union_all_batches",
    ops=("U1", "A1", "P3"),
    oracle=f"""
        SELECT source_batch, COUNT(*) AS n_rows, {sql_fixed_sum("l_quantity")} AS total_qty
        FROM (
            SELECT 'returned' AS source_batch, l_quantity FROM lineitem WHERE l_returnflag = 'R'
            UNION ALL
            SELECT 'accepted' AS source_batch, l_quantity FROM lineitem WHERE l_returnflag = 'A'
        )
        GROUP BY source_batch
    """,
)
def union_all_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-all of per-batch results — the reference's fan-in concat
    of per-(rover,sol) API batches (src/ingestion/photos.py:28-32,
    dags/photo_ingestion_dag.py:55-58) as `unionByName`."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    returned = li.filter(F.col("l_returnflag") == "R").select(
        F.lit("returned").alias("source_batch"), "l_quantity"
    )
    accepted = li.filter(F.col("l_returnflag") == "A").select(
        F.lit("accepted").alias("source_batch"), "l_quantity"
    )
    return (
        returned.unionByName(accepted)
        .groupBy("source_batch")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            fixed_sum("l_quantity").alias("total_qty"),
        )
    )


@register(
    "set_operations",
    ops=("U1",),
    oracle="""
        WITH big_spenders AS (
            SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
        ),
        urgent_buyers AS (
            SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        SELECT 'both' AS set_kind, custkey FROM (SELECT custkey FROM big_spenders INTERSECT SELECT custkey FROM urgent_buyers)
        UNION ALL
        SELECT 'only_big' AS set_kind, custkey FROM (SELECT custkey FROM big_spenders EXCEPT SELECT custkey FROM urgent_buyers)
    """,
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface (absent from the reference —
    SURVEY §2.7 notes Spark provides them free; included for the
    complete relational surface)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderpriority"
    )
    big = (
        orders.filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    both = big.intersect(urgent).select(F.lit("both").alias("set_kind"), "custkey")
    only_big = big.exceptAll(urgent).select(F.lit("only_big").alias("set_kind"), "custkey")
    return both.unionByName(only_big)


@register(
    "count_distinct",
    ops=("A1", "A2"),
    oracle="""
        SELECT
            l_returnflag,
            COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
            COUNT(DISTINCT l_partkey) AS distinct_parts,
            COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — the reference's per-sol distinct
    camera count (validation_photo_gaps.sql:22). Catalyst expands
    multi-distinct into an expand + two-phase aggregate."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_suppkey", "l_partkey")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "dedup_group_distinct",
    ops=("A6",),
    oracle="""
        SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
    """,
)
def dedup_group_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY as dedup — dim_cameras groups purely for distinct rows
    (dim_cameras.sql:38-41) → `dropDuplicates`."""
    return load(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").dropDuplicates()


@register(
    "scalar_subquery_watermark",
    ops=("P4", "A5"),
    oracle="""
        SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
        FROM lineitem
        WHERE l_shipdate > (SELECT MAX(l_shipdate) - INTERVAL 90 DAY FROM lineitem)
    """,
)
def scalar_subquery_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark delta selection — the incremental-model pattern
    `WHERE ingestion_date > (SELECT MAX(ingestion_date) FROM {{this}})`
    used by 7 reference models (flat_photo_response.sql:27-29 et al.).
    Implemented the engine way (SURVEY X1): scalar aggregate collapsed
    to a literal at plan time, so the filter pushes into the scan."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )
    wm = li.agg(F.max("l_shipdate").alias("wm")).first()["wm"]
    from datetime import timedelta

    return li.filter(F.col("l_shipdate") > F.lit(wm - timedelta(days=90)))


@register(
    "top_k_per_group",
    ops=("W2", "O2"),
    oracle="""
        SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, CAST(rn AS BIGINT) AS rn
        FROM (
            SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_suppkey
                       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
                   ) AS rn
            FROM lineitem
        )
        WHERE rn <= 3
    """,
)
def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via partitioned row_number ≤ K (beyond-reference
    window surface; generalizes the reference's LIMIT-batched fetch to
    per-key batches). Deterministic tiebreaks for hash stability.

    Scale: one shuffle on the group key; AQE handles group skew. No
    global sort."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    w = W.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w).cast("long")).filter(F.col("rn") <= 3)
    )


@register(
    "window_running_lag",
    ops=("W2",),
    oracle="""
        SELECT
            o_custkey,
            o_orderkey,
            o_orderdate,
            ROUND(SUM(o_totalprice) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ), 2) AS running_spend,
            LAG(o_orderkey) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ) AS prev_orderkey
        FROM orders
    """,
)
def window_running_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate + LAG with an explicit frame (beyond-reference
    window surface — the reference uses only row_number, SURVEY §2.5)."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2
        ).alias("running_spend"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


@register(
    "grouping_rollup",
    ops=("A1", "A3"),
    oracle=f"""
        SELECT
            COALESCE(l_returnflag, 'ALL') AS return_flag,
            COALESCE(l_linestatus, 'ALL') AS line_status,
            COUNT(*) AS n_items,
            {sql_fixed_sum("l_quantity")} AS total_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (beyond-reference aggregate surface —
    SURVEY §2.4 notes grouping sets absent from the reference; exposed
    for the complete engine)."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus", "l_quantity")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            fixed_sum("l_quantity").alias("total_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("return_flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("line_status"),
            "n_items",
            "total_qty",
        )
    )


@register(
    "conditional_pivot",
    ops=("A3", "A1"),
    oracle="""
        SELECT
            c_mktsegment,
            CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished_orders,
            CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_orders,
            CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS pending_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c_mktsegment
    """,
)
def conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual pivot via conditional aggregation — the reference's
    per-category photo counts (daily_activity.sql:14-16:
    SUM(CASE WHEN camera_category='Engineering' THEN 1 ELSE 0 END) x3)."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cnt = lambda s: F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0))  # noqa: E731
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            cnt("F").alias("finished_orders"),
            cnt("O").alias("open_orders"),
            cnt("P").alias("pending_orders"),
        )
    )


@register(
    "full_outer_join",
    ops=("J3",),
    oracle=f"""
        WITH cust_orders AS (
            SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
        ), big_cust AS (
            SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 7000
        )
        SELECT
            COALESCE(b.c_custkey, o.o_custkey) AS custkey,
            b.c_acctbal,
            o.n_orders,
            (b.c_custkey IS NULL)  AS only_in_orders,
            (o.o_custkey IS NULL)  AS only_in_big
        FROM big_cust b
        FULL OUTER JOIN cust_orders o ON b.c_custkey = o.o_custkey
    """,
)
def full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (absent from the reference — SURVEY §2.3 notes
    right/full outer come free from df.join(..., how); exposed for the
    complete join surface). Unmatched sides surface as NULLs on both
    ends."""
    cust_orders = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    big_cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 7000)
        .select("c_custkey", "c_acctbal")
    )
    j = big_cust.join(cust_orders, big_cust.c_custkey == cust_orders.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_acctbal",
        "n_orders",
        F.col("c_custkey").isNull().alias("only_in_orders"),
        F.col("o_custkey").isNull().alias("only_in_big"),
    )


@register(
    "semi_join",
    ops=("J4",),
    oracle="""
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
    """,
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join — the EXISTS dual of the gap detector's anti
    join: customers WITH at least one urgent order, no right columns,
    no row multiplication."""
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")


@register(
    "explode_outer_empty_arrays",
    ops=("N2",),
    oracle="""
        WITH per_cust AS (
            SELECT c.c_custkey,
                   (SELECT list(o.o_orderkey ORDER BY o.o_orderkey)
                    FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 400000) AS big_orders
            FROM customer c
        )
        SELECT c_custkey,
               UNNEST(CASE WHEN big_orders IS NULL OR len(big_orders) = 0
                           THEN [NULL] ELSE big_orders END) AS big_orderkey
        FROM per_cust
    """,
)
def explode_outer_empty_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer — empty-array retention (SURVEY N2 note): a
    customer with no qualifying orders still yields one row with NULL,
    where plain explode would drop it. The flatten-stage behavior that
    keeps sparse envelopes visible downstream."""
    customer = load(spark, sf_dir, "customer").select("c_custkey")
    big = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list("o_orderkey")).alias("big_orders"))
    )
    j = customer.join(big, customer.c_custkey == big.o_custkey, "left")
    return j.select("c_custkey", F.explode_outer("big_orders").alias("big_orderkey"))


@register(
    "pivot_wide",
    ops=("A3",),
    oracle="""
        SELECT
            c_mktsegment,
            CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS F,
            CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS O,
            CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS P
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c_mktsegment
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True pivot (groupBy().pivot(values).count()) — the declarative
    form of the reference's manual SUM(CASE WHEN) pivot
    (daily_activity.sql:14-16; manual form: `conditional_pivot`).
    Explicit pivot values keep the plan single-pass (no distinct-values
    pre-query)."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


# HLL++ with default rsd=0.05 has standard error ~5%; 3 sigma = 15% is
# the contract bound the gate checks (measured relative error on this
# data: 3.0% at sf0.01, 2.6% at sf0.1 — wide margin, deterministic).
APPROX_RSD_BOUND = 0.15


@register(
    "approx_count_distinct",
    ops=("A2",),
    oracle="""
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_suppliers,
               TRUE AS approx_within_bound
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the scale path for A2:
    at 100 TB an exact COUNT(DISTINCT) is a full shuffle of the keys;
    the sketch is mergeable map-side state with bounded error. The
    default rsd (5%) is the operating point ON PURPOSE — measured at
    sf1, rsd=0.01 (a 2^14-register sketch) is ~9x slower per
    update+merge and ~20x slower in this exact query (12.2 s vs
    0.63 s), because the exact audit column's distinct rewrite
    expands the relation the dense sketch then updates. If tighter
    error is ever needed, drop the audit column from the same plan.

    Oracle contract (closes the VERDICT r09 #1 gap): DuckDB cannot
    replay Spark's HLL++ registers, but it CAN state the estimator's
    guarantee — the hash-gated output is the exact count plus a
    boolean asserting |approx − exact| ≤ 3·rsd·exact, which Spark
    computes for real from the sketch and the oracle states as TRUE
    (the correct answer whenever the estimator honors its bound).
    A broken sketch, a wrong rsd, or a hash regression flips the
    boolean and fails the hash gate at ANY sf — unlike a pinned
    VALUES oracle this stays valid when the data scales.
    """
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_suppkey")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_suppkey").alias("approx_suppliers"),
        F.countDistinct("l_suppkey").alias("exact_suppliers"),
    )
    return agg.select(
        "l_returnflag",
        "exact_suppliers",
        (
            F.abs(F.col("approx_suppliers") - F.col("exact_suppliers"))
            <= F.lit(APPROX_RSD_BOUND) * F.col("exact_suppliers")
        ).alias("approx_within_bound"),
    )


RANK_BUCKET_WIDTH = 50_000  # price units per range bucket (phase-1 split)


@register(
    "global_rank_range_partitioned",
    ops=("W1", "W2", "A1", "J1"),
    oracle="""
        SELECT o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
                   AS global_rank
        FROM orders
    """,
)
def global_rank_range_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ROW_NUMBER over a fact-sized table WITHOUT the
    single-partition window (the W1 scale ceiling global_row_number
    documents): two-phase range ranking. Rows are bucketed by a range
    split of the order key's sort column; phase 1 counts each bucket
    (tiny aggregate), phase 2 prefix-sums those counts into per-bucket
    offsets (a window over B metadata rows, not the fact) and
    broadcast-joins them back so every row's global rank is its
    bucket's offset plus its WITHIN-bucket row_number — each bucket
    ranks independently under hash partitioning. Same result as the
    oracle's global window, but the fact table never funnels through
    one task.

    Scale: the fact shuffles once on the bucket id; B is chosen so
    buckets fit an executor (at 100 TB: finer width, or boundaries
    from a range sample exactly like Spark's own RangePartitioner —
    the fixed width here keeps the split deterministic for the
    oracle). Skewed buckets bound the parallelism, which is the
    classic distributed-sort trade; AQE splits oversized ones.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bucket = F.floor(F.col("o_totalprice") / F.lit(RANK_BUCKET_WIDTH)).cast("long")
    rows = orders.withColumn("bucket", bucket)
    counts = rows.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # offset of a bucket = rows in all HIGHER buckets (rank is by price
    # DESC); a running sum over the B-row counts table — metadata-scale.
    w_off = (
        W.orderBy(F.col("bucket").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("n").over(w_off), F.lit(0)).cast("long").alias("offset")
    )
    w_in = W.partitionBy("bucket").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        rows.join(F.broadcast(offsets), "bucket")
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.col("offset") + F.row_number().over(w_in)).cast("long").alias("global_rank"),
        )
    )


@register(
    "tpch_q10_returned_items",
    bench=True,
    ops=("J2", "A1", "P3", "P6", "O1", "O2"),
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               {sql_fixed_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
               c.c_acctbal, n.n_name AS nation_name
        FROM customer c
        JOIN orders   o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation   n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= DATE '1995-10-01'
          AND o.o_orderdate <  DATE '1996-01-01'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting), the classic shape on the
    star schema: customers who returned items in a quarter ranked by
    lost revenue. Recognizable benchmark semantics double as a
    reference point for the engine's join ordering.

    Scale: both selective predicates (quarter on orders, 'R' flag on
    lineitem) push to their scans BEFORE the fact-fact shuffle; nation
    broadcasts explicitly; the top-20 plans as TakeOrderedAndProject.
    Revenue is the fixed-point money sum (order-independent, exact
    oracle match). The deterministic (revenue DESC, custkey) tie-break
    makes the LIMIT stable."""
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation_name"))
        .agg(
            fixed_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation_name")
    )


@register(
    "tpch_q6_forecast_revenue",
    ops=("P3", "P6", "A1"),
    oracle=f"""
        SELECT {sql_fixed_sum("l_extendedprice * l_discount")} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lineitems
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate <  DATE '1996-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure
    predicate-pushdown showcase — a single scan where every filter
    (date range, discount band, quantity cap) reaches the parquet
    reader, aggregating to one row. No joins, no shuffle beyond the
    final 1-row combine; at 100 TB this query IS the scan, which is
    why its filters pushing down (pinned in test_plans) is the whole
    performance story."""
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
    )
    kept = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return kept.agg(
        fixed_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
    )


@register(
    "tpch_q5_local_supplier_volume",
    ops=("J1", "J2", "A1", "P3", "P6", "O1"),
    oracle=f"""
        SELECT n.n_name AS nation_name,
               {sql_fixed_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
        FROM customer c
        JOIN orders   o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation   n ON c.c_nationkey = n.n_nationkey
        JOIN region   r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= DATE '1996-01-01'
          AND o.o_orderdate <  DATE '1997-01-01'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n.n_name
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue per nation where the
    ordering customer and the supplying supplier share the nation,
    within one region and year — the classic 6-table join-ordering
    exercise, the hardest relational shape in the registry.

    Scale: region/nation broadcast explicitly (bounded dims); the
    selective year filter pushes to the orders scan before the
    fact-fact shuffle; supplier is small enough for AQE to broadcast
    at any tested SF, leaving ONE big shuffle (orders x lineitem); the
    c_nationkey = s_nationkey cross-dimension predicate rides the
    supplier join as an equi-key, never a post-join filter over an
    exploded intermediate."""
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    j = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return (
        j.groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            fixed_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "nation_name")
    )


@register(
    "set_operations_all",
    ops=("U1",),
    oracle="""
        WITH a AS (
            SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
        ),
        b AS (
            SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        SELECT 'intersect_all' AS set_kind, custkey
        FROM (SELECT custkey FROM a INTERSECT ALL SELECT custkey FROM b)
        UNION ALL
        SELECT 'except_all' AS set_kind, custkey
        FROM (SELECT custkey FROM a EXCEPT ALL SELECT custkey FROM b)
    """,
)
def set_operations_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations — the multiplicity-preserving
    INTERSECT ALL / EXCEPT ALL the distinct-flavored set_operations
    deliberately does not cover: a customer with three qualifying
    orders on one side and one on the other contributes
    min(3,1)/3-1 copies respectively — the semantics order-count
    reconciliation and inventory-diff queries need.

    Scale: Spark plans both as a single aggregate-on-key computing
    per-side multiplicities then regenerating rows — one shuffle per
    operation, no join explosion."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderpriority"
    )
    a = orders.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b).select(
        F.lit("intersect_all").alias("set_kind"), "custkey"
    ).unionByName(
        a.exceptAll(b).select(F.lit("except_all").alias("set_kind"), "custkey")
    )


@register(
    "topk_with_ties",
    ops=("W2", "A1", "O2"),
    oracle=f"""
        WITH rev AS (
            SELECT o_orderpriority, o_orderdate,
                   {sql_fixed_sum("o_totalprice")} AS day_revenue
            FROM orders GROUP BY o_orderpriority, o_orderdate
        )
        SELECT o_orderpriority, o_orderdate, day_revenue,
               CAST(rnk AS INT) AS revenue_rank
        FROM (
            SELECT *, dense_rank() OVER (
                PARTITION BY o_orderpriority
                ORDER BY day_revenue DESC
            ) AS rnk
            FROM rev
        )
        WHERE rnk <= 3
    """,
)
def topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES per group (dense_rank <= k) — the ranking
    semantics row_number-based top-k silently breaks: days with equal
    revenue share a rank and ALL of them survive the cut, and rank 2
    means strictly-second-best regardless of how many tied for first
    (the reference's order-dependent camera-id quirk, SURVEY §3.4, is
    fixed with exactly this deterministic ranking family).

    Scale: the window runs over the per-(priority, day) AGGREGATE
    (metadata-scale), not the fact; ties need no tie-break column by
    construction."""
    rev = (
        load(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderdate", "o_totalprice")
        .groupBy("o_orderpriority", "o_orderdate")
        .agg(fixed_sum(F.col("o_totalprice")).alias("day_revenue"))
    )
    w = W.partitionBy("o_orderpriority").orderBy(F.col("day_revenue").desc())
    return (
        rev.withColumn("revenue_rank", F.dense_rank().over(w).cast("int"))
        .filter(F.col("revenue_rank") <= 3)
    )


@register(
    "date_spine_zero_fill",
    ops=("F9", "J3", "A1", "P11"),
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('day', MIN(o_orderdate)) AS lo,
                   date_trunc('day', MAX(o_orderdate)) AS hi
            FROM orders
        ), spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
            FROM bounds
        ), daily AS (
            SELECT date_trunc('day', o_orderdate) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY date_trunc('day', o_orderdate)
        )
        SELECT s.day, COALESCE(d.n_orders, 0) AS n_orders,
               (d.n_orders IS NULL) AS is_gap_day
        FROM spine s LEFT JOIN daily d USING (day)
    """,
)
def date_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: a complete day spine over the data's
    [min, max] range left-joined onto daily order counts, zero-filled
    — reporting and time-series models need the EXPLICIT zero rows
    that a bare GROUP BY day can never produce (a day with no orders
    has no row to group). The gap-day flag is the detector
    gap_detection_anti_join generalizes.

    Scale: the spine is sequence() over a 1-row bounds aggregate
    exploded to one row per day (years of days is still metadata) and
    broadcasts onto the daily aggregate; the fact is touched once, by
    the GROUP BY."""
    orders = load(spark, sf_dir, "orders").select("o_orderdate")
    bounds = orders.agg(
        F.date_trunc("day", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("day", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.col("n_orders").isNull().alias("is_gap_day"),
        )
    )


RFM_ANCHOR = "2001-09-01"  # recency anchor just past the data's max date


@register(
    "customer_rfm",
    ops=("A1", "A4", "P8", "F8"),
    oracle=f"""
        WITH base AS (
            SELECT o_custkey,
                   CAST(datediff('day', MAX(o_orderdate),
                                 DATE '{RFM_ANCHOR}') AS BIGINT) AS recency_days,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   {sql_fixed_sum("o_totalprice")} AS monetary
            FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey, recency_days, frequency, monetary,
               CASE WHEN recency_days <= 365 AND frequency >= 10 THEN 'core'
                    WHEN recency_days <= 365 THEN 'active'
                    WHEN frequency >= 10 THEN 'lapsing-heavy'
                    ELSE 'dormant' END AS segment
        FROM base
    """,
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer RFM segmentation — the classic recency / frequency /
    monetary mart with deterministic threshold segments (quantile-cut
    variants compose this with curriculum_phases' two-phase ntile when
    relative cuts are wanted). Monetary is the fixed-point money sum;
    recency counts whole days from a fixed anchor, so every value is
    exact and engine-identical.

    Scale: one aggregate over orders on the customer key (map-side
    combine), then per-row CASE math — no joins, no windows."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    base = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(RFM_ANCHOR).cast("date"), F.max(F.col("o_orderdate")).cast("date"))
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        fixed_sum(F.col("o_totalprice")).alias("monetary"),
    )
    seg = (
        F.when((F.col("recency_days") <= 365) & (F.col("frequency") >= 10), "core")
        .when(F.col("recency_days") <= 365, "active")
        .when(F.col("frequency") >= 10, "lapsing-heavy")
        .otherwise("dormant")
    )
    return base.select(
        "o_custkey", "recency_days", "frequency", "monetary", seg.alias("segment")
    )


@register(
    "relational_division_years",
    ops=("J4", "A6", "A1", "O1"),
    oracle="""
        WITH years AS (
            SELECT unnest(generate_series(1996, 1998)) AS y
        ), counts AS (
            SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders_in_window
            FROM orders
            WHERE EXTRACT(year FROM o_orderdate) BETWEEN 1996 AND 1998
            GROUP BY o_custkey
        )
        SELECT c.c_custkey, c.c_name, n.n_orders_in_window
        FROM customer c
        JOIN counts n ON c.c_custkey = n.o_custkey
        WHERE NOT EXISTS (
            SELECT 1 FROM years yy
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND EXTRACT(year FROM o.o_orderdate) = yy.y
            )
        )
        ORDER BY c.c_custkey
    """,
)
def relational_division_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("customers who ordered in EVERY year of
    1996-1998" — the suppliers-who-supply-all-parts shape), expressed
    through the engine's pure-SQL surface: ``spark.sql`` over direct
    ``parquet.`` file scans, no DataFrame API and no pre-registered
    views. Spark's correlated-subquery support does not nest two
    levels, so the SQL uses the equivalent coverage-count-free
    formulation — divisor x dividend cross join, anti-join the
    achieved pairs, exclude any customer with a missing pair — while
    the oracle runs the classic double-NOT-EXISTS; the two
    formulations agreeing IS the division semantics check.

    Scale: the divisor (3 years) is a broadcast literal; achieved
    pairs dedup on (custkey, year) — one shuffle; the anti-join and
    the final exclusion ride the same custkey partitioning. Never a
    per-customer subquery execution."""
    from martian_moments_spark.catalog import table_path

    orders_p = table_path(sf_dir, "orders")
    customer_p = table_path(sf_dir, "customer")
    return spark.sql(
        f"""
        WITH years AS (
            SELECT explode(sequence(1996, 1998)) AS y
        ), win AS (
            SELECT o_custkey, year(o_orderdate) AS y
            FROM parquet.`{orders_p}`
            WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        ), counts AS (
            SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders_in_window
            FROM win GROUP BY o_custkey
        ), cust AS (
            SELECT DISTINCT o_custkey FROM win
        ), pairs AS (
            SELECT c.o_custkey, yy.y FROM cust c CROSS JOIN years yy
        ), ach AS (
            SELECT DISTINCT o_custkey, y FROM win
        ), missing AS (
            SELECT p.o_custkey FROM pairs p
            LEFT ANTI JOIN ach a ON p.o_custkey = a.o_custkey AND p.y = a.y
        ), complete AS (
            SELECT o_custkey FROM cust
            LEFT ANTI JOIN missing m ON cust.o_custkey = m.o_custkey
        )
        SELECT c.c_custkey, c.c_name, n.n_orders_in_window
        FROM parquet.`{customer_p}` c
        JOIN complete k ON c.c_custkey = k.o_custkey
        JOIN counts n ON c.c_custkey = n.o_custkey
        ORDER BY c.c_custkey
        """
    )


@register(
    "null_safe_join_semantics",
    ops=("J1", "P5", "P8", "A1", "O1"),
    oracle="""
        WITH a AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderstatus = 'P' THEN NULL
                        ELSE o_orderstatus END AS k
            FROM orders
        ), b AS (
            SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                        ELSE o_orderstatus END AS k,
                   CAST(COUNT(*) AS BIGINT) AS grp_n
            FROM orders
            GROUP BY 1
        )
        SELECT COALESCE(a.k, '<null>') AS join_key,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MAX(b.grp_n) AS BIGINT) AS matched_group_size
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        GROUP BY a.k
        ORDER BY join_key
    """,
)
def null_safe_join_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): rows whose
    key is NULL join each OTHER instead of vanishing — the semantics
    dimension-matching pipelines need when "unknown" is itself a
    matchable category (a plain `=` would silently drop every
    NULL-keyed row, the classic silent-loss bug). The 'P' status maps
    to NULL so the fixture exercises the NULL bucket at every SF.

    Scale: Spark plans `<=>` as an ordinary hash join (the null bucket
    hashes like any value — no nested loop), so the shape costs
    exactly what the regular equi-join costs; a skewed NULL bucket is
    a hot key like any other and salts the same way."""
    status_k = F.when(F.col("o_orderstatus") == "P", None).otherwise(
        F.col("o_orderstatus")
    )
    a = load(spark, sf_dir, "orders").select(
        "o_orderkey", status_k.alias("k")
    )
    b = (
        load(spark, sf_dir, "orders")
        .select(status_k.alias("kb"))
        .groupBy("kb")
        .agg(F.count(F.lit(1)).cast("long").alias("grp_n"))
    )
    return (
        a.join(b, F.col("k").eqNullSafe(F.col("kb")))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.max("grp_n").cast("long").alias("matched_group_size"),
        )
        .select(
            F.coalesce(F.col("k"), F.lit("<null>")).alias("join_key"),
            "n_rows",
            "matched_group_size",
        )
        .orderBy("join_key")
    )


_BENFORD = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}
# E0 suffix forces DuckDB to parse each literal as DOUBLE (a bare
# decimal literal becomes DECIMAL, whose double conversion can differ
# in the last ulp from the double the repr denotes)
_SQL_BENFORD_CASE = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN {p!r}E0" for d, p in _BENFORD.items()
) + " END"


@register(
    "benford_first_digit",
    ops=("A1", "P8", "F1"),
    oracle=f"""
        WITH digits AS (
            SELECT CAST(substr(CAST((CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100)
                       AS VARCHAR), 1, 1) AS INT) AS first_digit
            FROM orders
        ), counts AS (
            SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM digits GROUP BY first_digit
        ), tot AS (
            SELECT CAST(SUM(n_orders) AS BIGINT) AS total FROM counts
        )
        SELECT first_digit, n_orders,
               CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE) AS observed_share,
               {_SQL_BENFORD_CASE} AS expected_share,
               CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE)
                   - {_SQL_BENFORD_CASE} AS deviation
        FROM counts CROSS JOIN tot
        ORDER BY first_digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    synthetic-data / fraud screen: leading-digit frequencies of
    naturally-grown magnitudes follow log10(1+1/d); fabricated or
    uniform-generated values don't (TPC-H prices are uniform, so this
    table SHOWS the violation — the audit working as intended). The
    digit is taken lexically from the integer dollar string (no
    log10/pow in the extraction); expected shares are pinned literal
    doubles identical on both engines; per-digit deviations stay
    per-row, so no cross-row float summation enters the result.

    Scale: one map-side-combined aggregate on a 9-value key, a
    broadcast scalar total, per-row arithmetic after that."""
    digits = load(spark, sf_dir, "orders").select(
        F.substring(
            # integer floor division (DIV) mirrors the oracle's `// 100`
            # exactly — no float quotient anywhere near a digit boundary
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 100").cast(
                "string"
            ),
            1,
            1,
        )
        .cast("int")
        .alias("first_digit")
    )
    counts = digits.groupBy("first_digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    tot = counts.agg(F.sum("n_orders").cast("long").alias("total"))
    expected = F.element_at(
        F.create_map(*[F.lit(x) for d, p in _BENFORD.items() for x in (d, p)]),
        F.col("first_digit"),
    )
    share = F.col("n_orders").cast("double") / F.col("total").cast("double")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "first_digit",
            "n_orders",
            share.alias("observed_share"),
            expected.alias("expected_share"),
            (share - expected).alias("deviation"),
        )
        .orderBy("first_digit")
    )


@register(
    "running_record_highs",
    ops=("W2", "A1", "A4", "F8"),
    oracle="""
        WITH daily AS (
            SELECT o_custkey,
                   CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
            FROM orders GROUP BY o_custkey, o_orderdate
        ), marked AS (
            SELECT o_custkey, d, rev,
                   CASE WHEN MAX(rev) OVER (
                            PARTITION BY o_custkey ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR rev > MAX(rev) OVER (
                            PARTITION BY o_custkey ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        )
                        THEN 1 ELSE 0 END AS is_record
            FROM daily
        )
        SELECT o_custkey, d AS day_no, rev AS revenue_cents,
               is_record = 1 AS is_record,
               d - MAX(CASE WHEN is_record = 1 THEN d END) OVER (
                   PARTITION BY o_custkey ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS days_since_record
        FROM marked
    """,
)
def running_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-day detection per customer: a day is a RECORD when its
    order revenue beats every earlier day's (strictly — ties don't
    re-record), plus the days-since-last-record drought counter — the
    "all-time high" shape behind streak dashboards and alerting
    ("first record in 40 days"). Two windows, one partitioning: the
    strict prior running max marks records; a running max over the
    marked days' day-numbers carries the last record date forward
    without a self-join.

    Scale: one shuffle on the customer key serves the daily rollup
    and both windows (same partitioning and order — one sort)."""
    daily = (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pu"),
        )
        .groupBy("o_custkey", "d")
        .agg(F.sum("pu").cast("long").alias("rev"))
    )
    w_prev = (
        W.partitionBy("o_custkey").orderBy("d").rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("o_custkey")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_max = F.max("rev").over(w_prev)
    marked = daily.withColumn(
        "is_rec",
        F.when(prev_max.isNull() | (F.col("rev") > prev_max), 1).otherwise(0),
    )
    last_record_day = F.max(
        F.when(F.col("is_rec") == 1, F.col("d"))
    ).over(w_run)
    return marked.select(
        "o_custkey",
        F.col("d").alias("day_no"),
        F.col("rev").alias("revenue_cents"),
        (F.col("is_rec") == 1).alias("is_record"),
        (F.col("d") - last_record_day).alias("days_since_record"),
    )


from martian_moments_spark.llmops.textops import (  # noqa: E402
    portable_hash31,
    sql_portable_hash31,
)


@register(
    "cdc_apply_changes",
    ops=("E8", "W2", "U1"),
    oracle=f"""
        WITH feed AS (
            SELECT o_orderkey, 1 AS seq, 'I' AS op, o_totalprice AS price
            FROM orders
            UNION ALL
            SELECT o_orderkey, 2, 'U', o_totalprice + 10.0
            FROM orders
            WHERE {sql_portable_hash31("'cdc:' || CAST(o_orderkey AS VARCHAR)")} % 3 <> 0
            UNION ALL
            SELECT o_orderkey, 3, 'D', NULL
            FROM orders
            WHERE {sql_portable_hash31("'cdc:' || CAST(o_orderkey AS VARCHAR)")} % 5 = 0
        ), latest AS (
            -- n_changes must be computed in the SAME select as rn
            -- (before the rn = 1 filter), or it would count only the
            -- surviving row
            SELECT o_orderkey, op, price, n_changes
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY o_orderkey ORDER BY seq DESC) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY o_orderkey) AS BIGINT) AS n_changes
                FROM feed
            ) WHERE rn = 1
        )
        SELECT o_orderkey, op AS last_op, price AS final_price, n_changes
        FROM latest WHERE op <> 'D'
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with DELETE semantics — the change-data-capture
    counterpart of merge_upsert (E8 handles insert/update only): a
    keyed I/U/D change feed collapses to last-writer-wins per key, and
    keys whose final operation is a delete leave the table entirely.
    This is the Debezium->lakehouse apply step (APPLY CHANGES INTO);
    the feed here is derived deterministically from orders (every key
    inserts, 2/3 update, 1/5 finally delete) so the oracle replays the
    identical stream.

    Scale: apply is one row_number window per key over the feed — a
    single shuffle on the key, no join against the target needed for
    the collapse itself (at 100 TB the collapsed batch then MERGEs
    into the bucketed target exactly like merge_upsert_bucketed). The
    change count rides the same window partitioning.
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    h = portable_hash31(F.concat(F.lit("cdc:"), F.col("o_orderkey").cast("string")))
    ins = o.select(
        "o_orderkey",
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("price"),
    )
    upd = (
        o.filter(h % 3 != 0)
        .select(
            "o_orderkey",
            F.lit(2).alias("seq"),
            F.lit("U").alias("op"),
            (F.col("o_totalprice") + 10.0).alias("price"),
        )
    )
    dele = (
        o.filter(h % 5 == 0)
        .select(
            "o_orderkey",
            F.lit(3).alias("seq"),
            F.lit("D").alias("op"),
            F.lit(None).cast("double").alias("price"),
        )
    )
    feed = ins.unionByName(upd).unionByName(dele)
    w = W.partitionBy("o_orderkey")
    latest = (
        feed.withColumn("rn", F.row_number().over(w.orderBy(F.col("seq").desc())))
        .withColumn("n_changes", F.count(F.lit(1)).over(w).cast("long"))
        .filter(F.col("rn") == 1)
    )
    return latest.filter(F.col("op") != "D").select(
        "o_orderkey",
        F.col("op").alias("last_op"),
        F.col("price").alias("final_price"),
        "n_changes",
    )


@register(
    "snapshot_table_diff",
    ops=("J3", "P8", "P11"),
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
                   {sql_portable_hash31("'snap:' || CAST(o_orderkey AS VARCHAR)")} AS h
            FROM orders
        ), a AS (
            SELECT o_orderkey, o_orderstatus AS status_a, pc AS price_a_cents
            FROM base WHERE h % 11 <> 0
        ), b AS (
            SELECT o_orderkey,
                   CASE WHEN h % 17 = 0 THEN 'F' ELSE o_orderstatus END AS status_b,
                   pc + CASE WHEN h % 7 = 0 THEN 1000 ELSE 0 END AS price_b_cents
            FROM base WHERE h % 13 <> 0
        ), j AS (
            SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
                   status_a, status_b, price_a_cents, price_b_cents
            FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        ), labeled AS (
            SELECT COALESCE(ka, kb) AS o_orderkey,
                   CASE WHEN ka IS NULL THEN 'added'
                        WHEN kb IS NULL THEN 'removed'
                        WHEN status_a <> status_b
                             OR price_a_cents <> price_b_cents THEN 'changed'
                        ELSE 'unchanged' END AS diff_status,
                   status_a, status_b, price_a_cents, price_b_cents,
                   CASE WHEN ka IS NULL OR kb IS NULL THEN ''
                        ELSE (CASE WHEN status_a <> status_b THEN 'S' ELSE '' END)
                             || (CASE WHEN price_a_cents <> price_b_cents
                                      THEN 'P' ELSE '' END)
                        END AS change_mask
            FROM j
        )
        SELECT o_orderkey, diff_status, status_a, status_b,
               price_a_cents, price_b_cents, change_mask
        FROM labeled WHERE diff_status <> 'unchanged'
    """,
)
def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the inverse of CDC apply (cdc_apply_changes
    collapses a change feed INTO a table; this derives the change
    feed FROM two table versions): full outer join of snapshot A and
    snapshot B on the key, each surviving row labeled
    added/removed/changed with a column-level change mask ('S' status
    moved, 'P' price moved). This is the lakehouse reconciliation /
    time-travel-diff primitive — "what did last night's load actually
    change" — and the generator side of an incremental downstream
    refresh. Both snapshots derive deterministically from orders
    (1/11 of keys absent from A, 1/13 absent from B, 1/7 repriced,
    1/17 status-flipped), so the oracle replays identical versions.

    Prices diff as integer cents (the engine's established
    round-to-BIGINT seam), statuses as strings, so every label and
    mask is exact; unchanged rows are dropped (the diff of two 100 TB
    snapshots is small — materializing agreement would be the scale
    bug).

    Scale: one shuffle on the join key for the full outer join —
    at production scale both snapshots are bucketed by key, making
    the diff shuffle-free; everything after is per-row."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    h = portable_hash31(F.concat(F.lit("snap:"), F.col("o_orderkey").cast("string")))
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("pc"),
        h.alias("h"),
    )
    a = base.filter(F.col("h") % 11 != 0).select(
        F.col("o_orderkey").alias("ka"),
        F.col("o_orderstatus").alias("status_a"),
        F.col("pc").alias("price_a_cents"),
    )
    b = base.filter(F.col("h") % 13 != 0).select(
        F.col("o_orderkey").alias("kb"),
        F.when(F.col("h") % 17 == 0, F.lit("F"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status_b"),
        (
            F.col("pc")
            + F.when(F.col("h") % 7 == 0, F.lit(1000)).otherwise(F.lit(0))
        ).cast("long").alias("price_b_cents"),
    )
    j = a.join(b, a["ka"] == b["kb"], "full_outer")
    status_moved = F.col("status_a") != F.col("status_b")
    price_moved = F.col("price_a_cents") != F.col("price_b_cents")
    labeled = j.select(
        F.coalesce("ka", "kb").alias("o_orderkey"),
        F.when(F.col("ka").isNull(), F.lit("added"))
        .when(F.col("kb").isNull(), F.lit("removed"))
        .when(status_moved | price_moved, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("diff_status"),
        "status_a",
        "status_b",
        "price_a_cents",
        "price_b_cents",
        F.when(F.col("ka").isNull() | F.col("kb").isNull(), F.lit(""))
        .otherwise(
            F.concat(
                F.when(status_moved, F.lit("S")).otherwise(F.lit("")),
                F.when(price_moved, F.lit("P")).otherwise(F.lit("")),
            )
        )
        .alias("change_mask"),
    )
    return labeled.filter(F.col("diff_status") != "unchanged")
