"""Custom-join operator queries: as-of join and bucketized range join
(SURVEY §2.3 J6's generalizations — the operators Spark lacks as
primitives, composed from built-ins in operators.relational).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from martian_moments_spark.catalog import load
from martian_moments_spark.functions.numeric import fixed_sum
from martian_moments_spark.operators.relational import asof_join, bucketed_range_join
from martian_moments_spark.operators.parallelize import spread
from martian_moments_spark.plans.registry import register


@register(
    "asof_join_last_purchase",
    ops=("J6", "W2"),
    bench=True,
    oracle="""
        WITH merged AS (
            SELECT user_id, ts, 1 AS side, event_id, event_type, value,
                   NULL::BIGINT AS pv_id, NULL::DOUBLE AS pv_value
            FROM events
            UNION ALL
            SELECT user_id, ts, 0, event_id, event_type, value,
                   event_id, value
            FROM events WHERE event_type = 'purchase'
        ), carried AS (
            SELECT user_id, ts, side, event_id, event_type, value,
                   last_value(pv_id IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, side ASC, pv_id ASC NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS asof_event_id,
                   last_value(pv_value IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, side ASC, pv_id ASC NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS asof_value
            FROM merged
        )
        SELECT event_id, user_id, ts, event_type, value, asof_event_id, asof_value
        FROM carried WHERE side = 1
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event annotated with the user's latest
    purchase at-or-before it. Uses the merge-sort as-of algorithm
    (operators.relational.asof_join): ONE shuffle on user_id, no
    interval cross-join — the 100 TB form of the reference's
    photo-in-travel-interval correlation (J6). The oracle derives the
    identical carry-forward relationally.

    N.B. the oracle window orders pv_id NULLS FIRST to mirror Spark's
    asc_nulls_first; both engines then resolve equal-timestamp ties to
    the largest purchase event_id."""
    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        events,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        value_cols=["event_id", "value"],
        right_tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", "ts", "event_type", "value",
        F.col("asof_event_id"), F.col("asof_value"),
    )


@register(
    "range_join_bucketed",
    ops=("J6", "P6"),
    oracle="""
        WITH top_orders AS (
            SELECT o_orderkey, o_orderdate,
                   o_orderdate + INTERVAL 7 DAY AS window_end
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 20
        )
        SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate,
               t.o_orderkey AS interval_orderkey
        FROM lineitem l
        JOIN top_orders t
          ON l.l_shipdate BETWEEN t.o_orderdate AND t.window_end
    """,
)
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi-key): lineitem ship events falling in
    the 7-day windows opened by the top-20 orders. The engine never
    executes a theta join: intervals explode to day buckets, the join
    is equi on bucket id, BETWEEN filters the residue
    (operators.relational.bucketed_range_join). The oracle is the
    direct theta join — exact at test scale, quadratic at real scale,
    which is the point of the bucketed plan."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    top = (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select(
            F.col("o_orderkey").alias("interval_orderkey"),
            F.col("o_orderdate"),
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("window_end"),
        )
    )
    out = bucketed_range_join(
        li, top, point_col="l_shipdate", start_col="o_orderdate", end_col="window_end"
    )
    return out.select("l_orderkey", "l_linenumber", "l_shipdate", "interval_orderkey")


@register(
    "salted_skew_aggregation",
    ops=("A1", "A4"),
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_units,
               MAX(l_orderkey) AS max_orderkey
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def salted_skew_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a deliberately hot key
    (l_returnflag: 3 values over the whole fact — the worst GROUP BY
    skew shape). Results are identical to a plain GROUP BY (the
    oracle); the plan differs: phase 1 spreads each hot key over 16
    salts so no single task owns a key's whole partial
    (operators.skew.salted_agg)."""
    from martian_moments_spark.operators.skew import salted_agg

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity", "l_orderkey")
    return salted_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "n_rows": (F.count(F.lit(1)), "sum"),
            "qty_units": (F.sum(F.round(F.col("l_quantity") * 100).cast("long")), "sum"),
            "max_orderkey": (F.max("l_orderkey"), "max"),
        },
        n_salts=16,
        salt_source="l_orderkey",
    )


@register(
    "travel_correlation",
    ops=("F1", "J2", "J6", "P6", "A1", "A3"),
    bench=True,
    oracle="""
        SELECT
            n.n_name AS nation_name,
            (l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 30 DAY)
                AS shipped_promptly,
            COUNT(*) AS n_items,
            CAST(SUM(CASE WHEN CAST(regexp_extract(c.c_name, 'Customer#([0-9]{9})', 1) AS BIGINT) % 2 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS even_customer_items,
            MAX(l.l_shipdate) AS latest_shipdate
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    """,
)
def travel_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship gold mart shape end-to-end
    (camera_travel_correlation.sql:9-42): regex key extraction from a
    URL-ish string (F1, :15), a 3-way dim join chain (J2, :35-42), the
    interval-containment boolean (J6/P6, :33), and conditional
    aggregation over the result — one query exercising the whole
    silver→gold path.

    Scale: ONE fact-fact shuffle on orderkey; both dims pre-folded into
    a single narrow broadcast (c_custkey, n_name, is_even) BEFORE
    touching the fact — the regex key extraction runs once per
    CUSTOMER row (|customer|) instead of once per joined lineitem row
    (|lineitem|, ~40x more at TPC-H ratios), and the fact side takes
    one broadcast hash join instead of two. Measured 29% off the bench
    time (0.878 -> 0.625 s, r09 stage-isolation A/B); inner-join
    semantics are unchanged because dim pre-joining composes the same
    two inner equi-joins. At 100 TB the pre-joined dim is still
    customer-sized (broadcastable when customer is; AQE decides past
    the threshold exactly as it did for the unfolded form).

    r11: the whole probe pipeline (two broadcast probes + the
    interval boolean + partial aggregation) runs in the lineitem scan
    task, and the gate-scale scan has 1-3 splits; a byte-capped spread
    of the narrow (l_orderkey, l_shipdate) projection unserializes it
    (interleaved A/B: 1.10x / 1.14x in both arm orders). Identity at
    real scale (guide §2.4 dual)."""
    li = spread(
        load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate"),
        "l_orderkey",
        memo_key=sf_dir + ":lineitem",
        byte_cap=True,
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_name")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust_key = F.regexp_extract(F.col("c_name"), r"Customer#([0-9]{9})", 1).cast("long")
    dim = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "n_name", (cust_key % 2 == 0).alias("__even"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.col("l_shipdate")
            .between(F.col("o_orderdate"), F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
            .alias("shipped_promptly"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.when(F.col("__even"), 1).otherwise(0)).alias("even_customer_items"),
            F.max("l_shipdate").alias("latest_shipdate"),
        )
    )


@register(
    "salted_skew_join",
    ops=("J1", "J2", "A1"),
    oracle="""
        SELECT e.event_id, e.user_id, d.n_user_events
        FROM events e
        JOIN (
            SELECT user_id, COUNT(*) AS n_user_events
            FROM events GROUP BY user_id
        ) d USING (user_id)
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join over a hot-keyed fact (operators.skew.
    salted_join): events carry ~70 rows per user key — the shape where
    one hot key pins a join task. The big side is salted by a
    deterministic row hash, the small side replicated per salt, and
    the join runs on (key, salt): results identical to the plain join
    (the oracle), but no single task owns a key. The small side is
    merge-hinted so the demonstration stays a shuffle join rather than
    AQE broadcasting it away at test scale (at 100 TB a
    non-broadcastable dim is the premise)."""
    from martian_moments_spark.operators.skew import salted_join

    events = load(spark, sf_dir, "events").select("event_id", "user_id")
    dim = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_user_events"))
        .hint("merge")
    )
    return salted_join(events, dim, keys=["user_id"]).select(
        "event_id", "user_id", "n_user_events"
    )


@register(
    "bloom_prefilter_join",
    ops=("J1", "A1", "P3"),
    oracle="""
        SELECT l.l_linestatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT)) AS DOUBLE)
                   / CAST(100 AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
          AND o.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
        GROUP BY l.l_linestatus
    """,
)
def bloom_prefilter_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join pruned by an explicit Bloom-style digest
    (operators.relational.bloom_prefilter_join): the selective order
    filter (one priority, one quarter) is digested into hash buckets,
    and lineitem rows whose orderkey cannot match are dropped at the
    scan — before the join shuffle. The final join makes the digest's
    false positives harmless, so the result (and the oracle) is the
    plain join. At 100 TB this is the shuffle-bytes lever Spark's
    runtime bloom filter automates; the operator pins it explicitly.
    Revenue sums in fixed-point (functions/numeric.py) for
    partition-order-independent doubles."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & F.col("o_orderdate").between("1995-01-01", "1995-03-31")
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_extendedprice", "l_discount"
    )
    from martian_moments_spark.operators.relational import bloom_prefilter_join

    joined = bloom_prefilter_join(lineitem, orders, on=["l_orderkey"], how="left_semi")
    return joined.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        fixed_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


ASOF_TOLERANCE_S = 86_400  # accept purchases at most one day stale


@register(
    "asof_join_with_tolerance",
    ops=("J6", "W2"),
    oracle=f"""
        WITH merged AS (
            SELECT user_id, ts, 1 AS side, event_id, event_type,
                   NULL::BIGINT AS pv_id, NULL::TIMESTAMP AS pv_ts
            FROM events
            UNION ALL
            SELECT user_id, ts, 0, event_id, event_type, event_id, ts
            FROM events WHERE event_type = 'purchase'
        ), carried AS (
            SELECT user_id, ts, side, event_id, event_type,
                   last_value(pv_id IGNORE NULLS) OVER w AS asof_id,
                   last_value(pv_ts IGNORE NULLS) OVER w AS asof_ts
            FROM merged
            WINDOW w AS (
                PARTITION BY user_id
                ORDER BY ts ASC, side ASC, pv_id ASC NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            )
        )
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN date_diff('microsecond', asof_ts, ts) / 1000000.0
                         <= {ASOF_TOLERANCE_S} THEN asof_id END AS asof_event_id
        FROM carried WHERE side = 1
    """,
)
def asof_join_with_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness bound: each event is annotated
    with the user's latest purchase at-or-before it ONLY if that
    purchase happened within the last day — older context is stale and
    must read NULL (the pandas merge_asof ``tolerance`` semantics,
    needed whenever features expire: sensor readings, session context,
    price quotes). Same single-shuffle merge-sort plan as the plain
    as-of; the winner's own timestamp rides along in the same window
    pass, so the staleness test adds no extra shuffle."""
    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        events,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        value_cols=["event_id"],
        right_tiebreak="event_id",
        tolerance=ASOF_TOLERANCE_S,
    )
    return out.select(
        "event_id", "user_id", "ts", "event_type",
        F.col("asof_event_id"),
    )


@register(
    "clamped_running_balance",
    ops=("W2", "A1", "O1"),
    oracle="""
        WITH RECURSIVE seq AS (
            SELECT o_custkey,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS rn,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        ELSE -CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   END AS delta
            FROM orders
        ), walk(o_custkey, rn, bal, n_resets) AS (
            SELECT o_custkey, rn, GREATEST(CAST(0 AS BIGINT), delta),
                   CASE WHEN delta < 0 THEN 1 ELSE 0 END
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.o_custkey, s.rn,
                   GREATEST(CAST(0 AS BIGINT), w.bal + s.delta),
                   w.n_resets + CASE WHEN w.bal + s.delta < 0 THEN 1 ELSE 0 END
            FROM walk w JOIN seq s
              ON s.o_custkey = w.o_custkey AND s.rn = w.rn + 1
        )
        SELECT o_custkey AS custkey,
               CAST(bal AS DOUBLE) / 100.0 AS final_balance,
               CAST(n_resets AS BIGINT) AS n_resets,
               CAST(rn AS BIGINT) AS n_orders
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY o_custkey ORDER BY rn DESC) AS last
              FROM walk)
        WHERE last = 1
        ORDER BY custkey
    """,
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped (floor-at-zero) running balance per customer — urgent
    orders credit, others debit, and the balance can never go
    negative. The clamp LOOKS window-inexpressible (each step depends
    on the previous clamped value) but unrolls to a closed form over
    raw prefix sums: bal_t = max(0, P_t - min(0, min_{k<t} P_k)), and
    the clamp binds at t exactly when P_t sets a STRICT new running
    minimum below zero — so the whole stateful scan is two windows and
    an aggregate, all integer units, no Python in the path. (An
    earlier version ran this as an applyInPandas walk: semantically
    identical, but ~150k one-row pandas groups cost ~23s at sf1 where
    the window form is sub-second; the pandas seam's §2.11
    demonstrators are ewma_per_user / multimodal_feature_extract.)
    The oracle states the recurrence directly as a per-key recursive
    CTE, so the de-recursion is verified against the literal
    definition — the strongest check a closed form can get.

    Scale: one shuffle partitions by customer; both windows and the
    final aggregate reuse that partitioning. The same shape serves
    inventory levels, budget caps, and retry-token buckets."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey",
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            F.round(F.col("o_totalprice") * 100).cast("long"),
        )
        .otherwise(-F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("delta"),
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    p = F.sum("delta").over(w.rowsBetween(W.unboundedPreceding, 0))
    # min(0, prefix sums strictly before this row); P_0 = 0 folds in
    # via least(0, ...), null (first row) coalesces to 0
    m = F.least(
        F.lit(0).cast("long"),
        F.coalesce(
            F.min(p).over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ),
    )
    stepped = orders.select(
        F.col("o_custkey").alias("custkey"),
        "o_orderdate",
        "o_orderkey",
        p.alias("pf"),
        m.alias("mn"),
    )
    return (
        stepped.groupBy("custkey")
        .agg(
            (
                F.greatest(
                    F.lit(0).cast("long"),
                    F.max_by(
                        F.col("pf") - F.col("mn"),
                        F.struct("o_orderdate", "o_orderkey"),
                    ),
                ).cast("double")
                / F.lit(100.0)
            ).alias("final_balance"),
            F.sum((F.col("pf") < F.col("mn")).cast("long")).alias("n_resets"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .select("custkey", "final_balance", "n_resets", "n_orders")
        .orderBy("custkey")
    )


BUSDAY_SLA = 10  # business-day shipping SLA


@register(
    "business_day_latency",
    ops=("J1", "A1", "F8", "P8"),
    oracle=f"""
        WITH lat AS (
            SELECT o.o_orderpriority,
                   (CAST(l.l_shipdate AS DATE) - DATE '1970-01-01') AS d_ship,
                   (CAST(o.o_orderdate AS DATE) - DATE '1970-01-01') AS d_ord
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ), bd AS (
            SELECT o_orderpriority,
                   (5 * ((d_ship + 3) // 7) + LEAST(((d_ship + 3) % 7) + 1, 5))
                 - (5 * ((d_ord + 3) // 7) + LEAST(((d_ord + 3) % 7) + 1, 5))
                       AS busdays
            FROM lat
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               quantile_cont(busdays, 0.5) AS median_busdays,
               CAST(MAX(busdays) AS BIGINT) AS max_busdays,
               CAST(SUM(CASE WHEN busdays > {BUSDAY_SLA} THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS sla_breach_rate
        FROM bd GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency in BUSINESS days per priority class, with
    the >10-business-day SLA breach rate — the calendrical form ops
    teams actually report (a weekend between order and ship must not
    count against the SLA). Weekday counting is the closed form
    f(d) = 5*((d+3) DIV 7) + LEAST((d+3) MOD 7 + 1, 5) on epoch day
    numbers (+3 aligns 1970-01-01, a Thursday, to a Monday week
    origin); latency = f(ship) - f(order). Pure integer DIV/MOD on
    both engines — no calendar UDF, no date dimension table.

    Scale: per-row day arithmetic inside codegen; one fact-fact join
    on orderkey and one low-cardinality rollup. The exact interpolated
    median follows percentile_exact_median's bounded-group rule."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch = F.lit("1970-01-01").cast("date")
    lat = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), epoch).alias("d_ship"),
        F.datediff(F.col("o_orderdate"), epoch).alias("d_ord"),
    )

    def busday_index(d):
        m = F.col(d) + 3
        return F.lit(5) * F.expr(f"({d} + 3) DIV 7") + F.least(
            (m % 7) + 1, F.lit(5)
        )

    bd = lat.select(
        "o_orderpriority",
        (busday_index("d_ship") - busday_index("d_ord")).alias("busdays"),
    )
    n = F.count(F.lit(1))
    return (
        bd.groupBy("o_orderpriority")
        .agg(
            n.cast("long").alias("n_items"),
            F.percentile("busdays", F.lit(0.5)).alias("median_busdays"),
            F.max("busdays").cast("long").alias("max_busdays"),
            (
                F.sum(F.when(F.col("busdays") > BUSDAY_SLA, 1).otherwise(0)).cast("double")
                / n.cast("double")
            ).alias("sla_breach_rate"),
        )
        .orderBy("o_orderpriority")
    )


ASOF_NEAREST_TOL_S = 21_600  # 6 h — beyond it a purchase has no "near" error


@register(
    "asof_join_nearest",
    ops=("J6", "W2"),
    oracle=f"""
        WITH p AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ), e AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'error'
        ), cand AS (
            SELECT p.event_id, e.ts AS err_ts, e.value AS err_value,
                   abs(epoch_us(p.ts) - epoch_us(e.ts)) AS gap_us,
                   CASE WHEN e.ts <= p.ts THEN 0 ELSE 1 END AS dir
            FROM p JOIN e USING (user_id)
            WHERE abs(epoch_us(p.ts) - epoch_us(e.ts)) <= CAST({ASOF_NEAREST_TOL_S} AS BIGINT) * 1000000
        ), best AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY event_id ORDER BY gap_us, dir, err_value DESC) AS rn
                FROM cand
            ) WHERE rn = 1
        )
        SELECT p.event_id, p.user_id, p.ts,
               b.err_ts AS nearest_error_ts,
               b.err_value AS nearest_error_value,
               CAST(b.gap_us AS BIGINT) AS gap_us
        FROM p LEFT JOIN best b ON p.event_id = b.event_id
    """,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join: each purchase matched to the CLOSEST
    error event of the same user in either direction (tie -> the
    earlier one), within a 6 h tolerance — the diagnostic correlation
    "did an error happen around this purchase" that neither backward
    nor forward as-of answers alone. pandas merge_asof
    (direction='nearest') parity, distributed.

    Implementation is asof_join(direction="nearest")
    (operators/relational.py): ONE shuffle on the user key, both
    directional carries as window scans over the same merged frame,
    per-row closer-match choice; property-tested against brute force
    including tolerance (tests/test_properties.py). The oracle ranks
    the candidate cross product instead — same winner by construction
    (gap, direction, value tie-break), exact because gaps compare in
    integer microseconds.

    Scale: no interval explosion, no range cross-join; state is one
    carried row per direction. 100x the events is 100x rows through
    the same single-shuffle sort — the merge_asof shape at cluster
    scale.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    e = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "value")
    res = asof_join(
        p,
        e,
        on="user_id",
        left_time="ts",
        right_time="ts",
        value_cols=["ts", "value"],
        right_tiebreak="value",
        direction="nearest",
        tolerance=float(ASOF_NEAREST_TOL_S),
    )
    gap = F.abs(F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts")))
    return res.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ts").alias("nearest_error_ts"),
        F.col("asof_value").alias("nearest_error_value"),
        F.when(F.col("asof_ts").isNotNull(), gap).cast("long").alias("gap_us"),
    )


ZORDER_BITS = 16  # interleave width per dimension
ZBUCKET_SHIFT = 24  # keep the top 8 of the 32 interleaved bits


def _sql_z_value(a: str, b: str, bits: int = ZORDER_BITS) -> str:
    """DuckDB twin of operators.layout.z_value — the same bit
    interleave as integer arithmetic."""
    # every term fully parenthesized: DuckDB gives all binary bit
    # operators one precedence level (left-associative), so an
    # unparenthesized "x | y << s" parses as "(x | y) << s"
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " | ".join(terms) + " AS BIGINT)"


@register(
    "zorder_locality_buckets",
    ops=("A1", "A4"),
    oracle=f"""
        WITH z AS (
            SELECT l_partkey, l_suppkey,
                   {_sql_z_value("l_partkey", "l_suppkey")} >> {ZBUCKET_SHIFT} AS zbucket
            FROM lineitem
        )
        SELECT CAST(zbucket AS BIGINT) AS zbucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(l_partkey) AS BIGINT) AS min_partkey,
               CAST(MAX(l_partkey) AS BIGINT) AS max_partkey,
               CAST(MIN(l_suppkey) AS BIGINT) AS min_suppkey,
               CAST(MAX(l_suppkey) AS BIGINT) AS max_suppkey
        FROM z GROUP BY zbucket
    """,
)
def zorder_locality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering statistics: interleave the bits of
    (l_partkey, l_suppkey), bucket rows by the top bits of the
    z-value, and report each bucket's min/max range in BOTH
    dimensions — exactly the per-file column statistics a z-ordered
    table layout gives the scan planner (the OPTIMIZE ZORDER BY
    analog; operators/layout.zorder_write is the writer). Tight
    min/max ranges in both columns are what make 2-D range predicates
    prune files, where a lexicographic sort only prunes its leading
    column.

    The z-value is pure integer bit arithmetic (operators/layout.
    z_value), replayed verbatim by the oracle — the layout policy
    itself is oracle-checkable, not just the data it produces.

    Scale: the interleave is per-row expression work; the rollup
    shuffles one small key (256 buckets at this shift). On a real
    table this runs as the clustering step of a write, not a query.
    """
    from martian_moments_spark.operators.layout import z_value

    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    z = li.withColumn(
        "zbucket",
        F.shiftright(z_value("l_partkey", "l_suppkey", bits=ZORDER_BITS), ZBUCKET_SHIFT),
    )
    return z.groupBy("zbucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").cast("long").alias("min_partkey"),
        F.max("l_partkey").cast("long").alias("max_partkey"),
        F.min("l_suppkey").cast("long").alias("min_suppkey"),
        F.max("l_suppkey").cast("long").alias("max_suppkey"),
    )
