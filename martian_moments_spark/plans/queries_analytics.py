"""Corpus-analytics and statistics queries (north-star extensions +
SURVEY §2.2/§2.6 composites).

Adds the remaining LLM-data-pipeline operators — embedding-cosine
near-duplicate dedup and an end-to-end corpus-curation mart — plus
deterministic second-moment statistics (variance / correlation from
exact integer sums), a fixed-width histogram, and a classic
three-table shipping-priority join. Every aggregate follows the
engine's fixed-point rule (functions/numeric.py): doubles are
quantized per-row to integer units, summed as BIGINT (associative →
partition-order-independent), and only the final scalar arithmetic
happens in floating point — identical expressions on the Spark and
DuckDB sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from martian_moments_spark.catalog import load
from martian_moments_spark.functions.numeric import fixed_sum, sql_fixed_sum
from martian_moments_spark.llmops.dedup import deletion_neighborhood_candidates
from martian_moments_spark.llmops.similarity import (
    FIXED_SCALE,
)
from martian_moments_spark.llmops.textops import (
    portable_hash31,
    quality_metrics_packed,
    sql_portable_hash31,
    sql_quality_metrics,
    sql_tokens,
    tokens,
)
from martian_moments_spark.operators.parallelize import narrow
from martian_moments_spark.plans.registry import register

NEARDUP_TAU = 0.30  # cosine threshold for embedding near-dup (synthetic corpus scale)

_SQL_UNITS = (
    f"list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {FIXED_SCALE}, 0) AS BIGINT))"
)


@register(
    "dedup_embedding_neardup",
    ops=("J2", "A1", "J3"),
    oracle=f"""
        WITH n AS (
            SELECT vec_id, label, {_SQL_UNITS} AS units,
                   CAST(list_sum(list_transform(list_zip({_SQL_UNITS}, {_SQL_UNITS}),
                        z -> z[1] * z[2])) AS BIGINT) AS norm2
            FROM embeddings
        ), dup AS (
            SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dup_of
            FROM n a JOIN n b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE CAST(CAST(list_sum(list_transform(list_zip(a.units, b.units),
                         z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
                  / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
                  >= {NEARDUP_TAU}
            GROUP BY b.vec_id
        )
        SELECT e.vec_id, d.dup_of, d.dup_of IS NULL AS is_kept
        FROM embeddings e LEFT JOIN dup d ON e.vec_id = d.vec_id
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate dedup: a vector is a duplicate
    of the lowest-id earlier vector whose cosine similarity reaches
    NEARDUP_TAU, searched within its IVF cell (``label``) only — the
    semantic-dedup stage of a training-data pipeline.

    Scale: identical shape to embedding_ann_ivf — one shuffle on the
    cell key bounds the pairwise work to O(sum cell^2); the keep/drop
    decision is a per-vector MIN + left join back (no global order).
    Exactness: fixed-point int64 dot products make the >= tau cut
    bit-identical across engines and partitionings.
    """
    from martian_moments_spark.llmops.similarity import neardup_min_earlier_pandas

    # per-cell Arrow matmul (the sibling paths' pattern): one int64
    # Gram matrix per cell replaces an interpreted HOF cosine per
    # within-cell pair; the min-earlier-dup choice happens inside the
    # same pass. Value-identical to the join+filter+min formulation
    # the oracle renders.
    dup = neardup_min_earlier_pandas(
        load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding"),
        tau=NEARDUP_TAU,
    )
    return dup.select(
        "vec_id", "dup_of", F.col("dup_of").isNull().alias("is_kept")
    )


@register(
    "corpus_curation",
    ops=("A1", "A6", "J4", "P1"),
    bench=True,
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang, source, text,
                   {sql_quality_metrics("text")["n_tokens"]} AS n_tokens,
                   {sql_quality_metrics("text")["distinct_ratio"]} AS distinct_ratio
            FROM documents
        ), kept AS (
            SELECT * FROM scored
            WHERE n_tokens >= 10 AND distinct_ratio >= 0.3
        ), deduped AS (
            SELECT * FROM kept
            WHERE doc_id IN (SELECT MIN(doc_id) FROM kept GROUP BY md5(text))
        )
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens
        FROM deduped
        GROUP BY lang, source
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation mart: quality gate (token count +
    distinct-token ratio) -> exact dedup keeping the first writer ->
    per (lang, source) token budget. The composed shape every
    training-data pipeline runs before tokenization.

    Scale: quality scoring is per-row (no shuffle); dedup shuffles once
    on the content fingerprint as a min-struct GROUP BY — the
    fingerprint is computed map-side, ``text`` is DROPPED before the
    exchange (only the 32-char fp plus a 4-field struct shuffles, not
    the document body), and min(struct(doc_id, ...)) partial-aggregates
    map-side so at most one row per distinct fingerprint per task
    reaches the wire. The earlier window form
    (row_number over partitionBy(md5(text))) shuffled the full text
    column and sorted every partition; the r09 stage-isolation A/B
    measured the two within noise at sf0.1 (0.654 vs 0.645 s — 5k docs
    of short text), but at corpus scale shuffle bytes drop by the
    text:fp size ratio and the sort disappears, so the min-struct form
    is the keeper. The rollup shuffles once on the two low-cardinality
    keys with map-side partial aggregation. Token totals are exact
    integer sums, so the budget is reproducible.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    # r11: evaluate the packed quality struct ONCE per row. The plain
    # two-step unpack lets predicate pushdown substitute the whole
    # packed expression into the gate FILTER below the projection, so
    # the tokenize/score pipeline ran ~2x per row (once in Filter —
    # codegen CSE collapses its two field references — once in
    # Project; r11 before-plan shows the expression inlined three
    # times). explode(array(struct(...))) is a Generate: predicates on
    # generator output cannot push below it and CollapseProject cannot
    # re-inline through it, so the struct is computed exactly once.
    # One-row explode adds no rows; interleaved A/B 1.06x/1.12x/1.16x
    # across three runs (largest on the quietest window, B arm won
    # 8/8 interleaved pairs there).
    scored = docs.select(
        F.explode(
            F.array(
                F.struct(
                    "doc_id", "lang", "source", "text",
                    quality_metrics_packed("text").alias("__q"),
                )
            )
        ).alias("r")
    ).select(
        F.col("r.doc_id").alias("doc_id"),
        F.col("r.lang").alias("lang"),
        F.col("r.source").alias("source"),
        F.col("r.text").alias("text"),
        F.col("r.__q.n_tokens").alias("n_tokens"),
        F.col("r.__q.distinct_ratio").alias("distinct_ratio"),
    )
    kept = scored.filter((F.col("n_tokens") >= 10) & (F.col("distinct_ratio") >= 0.3))
    # min over struct orders by its first field — doc_id — so this is
    # exactly "the first writer's row" (doc_ids are unique).
    deduped = (
        kept.groupBy(F.md5("text").alias("__fp"))
        .agg(F.min(F.struct("doc_id", "lang", "source", "n_tokens")).alias("__r"))
        .select("__r.*")
    )
    return deduped.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_tokens"
        ),
    )


# Second moments: quantity in hundredths, discount in ten-thousandths —
# both exact per-row integer quantizations of the parquet doubles.
_QU = "CAST(ROUND(l_quantity * 100) AS BIGINT)"
_DU = "CAST(ROUND(l_discount * 10000) AS BIGINT)"


@register(
    "group_moments_stats",
    ops=("A1", "A4"),
    oracle=f"""
        WITH u AS (
            SELECT l_returnflag, {_QU} AS qu, {_DU} AS du FROM lineitem
        ), s AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(qu) AS BIGINT) AS sq,
                   SUM(CAST(qu AS HUGEINT) * qu) AS sq2,
                   CAST(SUM(du) AS BIGINT) AS sd,
                   SUM(CAST(du AS HUGEINT) * du) AS sd2,
                   SUM(CAST(qu AS HUGEINT) * du) AS sqd
            FROM u GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_qty,
               (CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                   / CAST(n AS DOUBLE) / 10000.0 AS var_pop_qty,
               (CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))
                   AS corr_qty_disc
        FROM s
    """,
)
def group_moments_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group variance and correlation. Spark's own
    stddev/corr partial-aggregate doubles, so results drift in the last
    ulps across partitionings; here the moments (sum x, sum x^2,
    sum xy) are exact wide-integer sums of fixed-point units (first
    moments BIGINT; second moments DECIMAL(38,0) / HUGEINT — BIGINT
    overflows past ~2e11 rows per group) and only the final scalar
    formula runs in floating point — bit-identical under any plan,
    and under DuckDB.

    Scale: one shuffle carrying six integers per group per task.
    """
    li = load(spark, sf_dir, "lineitem")
    qu = F.round(F.col("l_quantity") * 100).cast("long")
    du = F.round(F.col("l_discount") * 10000).cast("long")
    s = (
        li.select("l_returnflag", qu.alias("qu"), du.alias("du"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qu").alias("sq"),
            # DECIMAL(38,0) second moments: BIGINT sums of squared
            # units overflow past ~2e11 rows/group (HUGEINT on the
            # DuckDB side — same exact integer, same final double)
            F.sum(F.col("qu").cast("decimal(38,0)") * F.col("qu")).alias("sq2"),
            F.sum("du").alias("sd"),
            F.sum(F.col("du").cast("decimal(38,0)") * F.col("du")).alias("sd2"),
            F.sum(F.col("qu").cast("decimal(38,0)") * F.col("du")).alias("sqd"),
        )
    )
    n, sq, sq2, sd, sd2, sqd = (F.col(c).cast("double") for c in ("n", "sq", "sq2", "sd", "sd2", "sqd"))
    return s.select(
        "l_returnflag",
        F.col("n"),
        (sq / n / F.lit(100.0)).alias("mean_qty"),
        ((sq2 - sq * sq / n) / n / F.lit(10000.0)).alias("var_pop_qty"),
        ((n * sqd - sq * sd) / (F.sqrt(n * sq2 - sq * sq) * F.sqrt(n * sd2 - sd * sd))).alias(
            "corr_qty_disc"
        ),
    )


_BUCKET_UNITS = 2_500_000  # $25,000 buckets in price-hundredths


@register(
    "histogram_fixed_width",
    ops=("A1", "P8"),
    oracle=f"""
        WITH u AS (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pu FROM orders
        )
        SELECT pu // {_BUCKET_UNITS} AS bucket,
               CAST(pu // {_BUCKET_UNITS} AS DOUBLE) * 25000.0 AS bucket_low,
               COUNT(*) AS n_orders,
               CAST(MIN(pu) AS DOUBLE) / 100.0 AS min_price,
               CAST(MAX(pu) AS DOUBLE) / 100.0 AS max_price
        FROM u
        GROUP BY pu // {_BUCKET_UNITS}
    """,
)
def histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals ($25k buckets). Bucketing
    happens in integer units (exact floor division — no float-boundary
    ambiguity), min/max convert back to dollars only for display.

    Scale: a histogram is just a group-by on a derived integer — one
    shuffle, rows-per-task = number of distinct buckets after map-side
    combine.
    """
    orders = load(spark, sf_dir, "orders")
    pu = F.round(F.col("o_totalprice") * 100).cast("long")
    bucket = F.expr(f"CAST(ROUND(o_totalprice * 100) AS BIGINT) DIV {_BUCKET_UNITS}")
    return (
        orders.select(pu.alias("pu"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.min("pu").cast("double") / F.lit(100.0)).alias("min_price"),
            (F.max("pu").cast("double") / F.lit(100.0)).alias("max_price"),
        )
        .select(
            "bucket",
            (F.col("bucket").cast("double") * F.lit(25000.0)).alias("bucket_low"),
            "n_orders",
            "min_price",
            "max_price",
        )
    )


@register(
    "shipping_priority_topk",
    ops=("J1", "J2", "A1", "O1", "O2", "P3"),
    bench=True,
    oracle=f"""
        SELECT l.l_orderkey,
               {sql_fixed_sum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-table selective join + aggregate + global top-10 (the
    classic shipping-priority shape). Filters reach the parquet scans
    (PushedFilters), the filtered customer side broadcasts, and the
    final LIMIT plans as TakeOrderedAndProject — no full sort.

    Scale: only orders<->lineitem shuffles, on the order key; at 100 TB
    both facts are bucketed by order key so even that join is
    co-located. Revenue is a fixed-point sum, so the top-10 cut is
    deterministic (ties broken by order key).

    r11 measured rejection (do not retry): a byte-capped spread on the
    filtered orders probe benched 0.91x / 0.79x (interleaved A/B, both
    arm orders) — the group keys (l_orderkey, o_orderdate, o_orderpriority)
    differ from the spread key so the repartition replaces nothing,
    and the broadcast probes are too cheap to amortize the added
    exchange (same shape as the daily_activity / tpch_q10 rejections).
    """
    cutoff = F.lit("1995-03-15").cast("timestamp")
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    l = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        l, o.o_orderkey == l.l_orderkey
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(fixed_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "percent_rank_distribution",
    ops=("W1", "W2"),
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_units,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               CAST(ntile(4) OVER w AS INT) AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderkey)
    """,
)
def percent_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank / cume_dist /
    ntile) per priority class — the price-position features a scoring
    pipeline derives. Ordering is on integer price units with the order
    key as total tie-break, so every rank (and thus every ratio —
    int/int double divisions) is deterministic.

    Scale: one shuffle on the partition key; within-partition sort is
    the only cost. A skewed priority class sorts on one task — mitigate
    by pre-bucketing on (priority, key-range) and merging rank offsets.
    """
    pu = F.round(F.col("o_totalprice") * 100).cast("long")
    w = W.partitionBy("o_orderpriority").orderBy("price_units", "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", pu.alias("price_units"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            "price_units",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
        )
    )


@register(
    "trailing_range_frame_sum",
    ops=("W2", "A4", "F8"),
    oracle=f"""
        WITH d AS (
            SELECT o_custkey,
                   CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) AS BIGINT) AS day_no,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pu,
                   o_orderkey
            FROM orders
        )
        SELECT o_custkey, day_no, o_orderkey,
               CAST(SUM(pu) OVER (PARTITION BY o_custkey ORDER BY day_no
                                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                    AS DOUBLE) / 100.0 AS trailing_7d_spend
        FROM d
    """,
)
def trailing_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, total spend in the trailing
    7-day window of each order — a value-based frame (peers by day
    distance), not a row-count frame, so same-day orders aggregate
    together and gaps widen the reach-back. Day numbers are integers
    and the sum is fixed-point, keeping the frame edges and the total
    exact.

    Scale: shuffles once on the customer key; frames never cross
    partitions, so the window is embarrassingly parallel per customer.
    """
    d = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_no"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pu"),
    )
    w = W.partitionBy("o_custkey").orderBy("day_no").rangeBetween(-6, 0)
    return d.select(
        "o_custkey",
        "day_no",
        "o_orderkey",
        (F.sum("pu").over(w).cast("double") / F.lit(100.0)).alias("trailing_7d_spend"),
    )


@register(
    "percentile_exact_median",
    ops=("A1", "A4"),
    oracle="""
        WITH u AS (
            SELECT o_orderpriority,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pu
            FROM orders
        )
        SELECT o_orderpriority,
               quantile_cont(pu, 0.5) / 100.0 AS median_price,
               quantile_cont(pu, 0.9) / 100.0 AS p90_price
        FROM u
        GROUP BY o_orderpriority
    """,
)
def percentile_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median, p90) per priority class,
    computed over integer price units so the (n-1)*q interpolation is
    the same double arithmetic on both engines.

    Scale: exact percentile requires a per-group sort — fine for
    bounded groups. For high-cardinality keys at 100 TB switch to
    percentile_approx (t-digest sketch, map-side mergeable); kept
    exact here because the oracle gate needs bit-equality.
    """
    u = load(spark, sf_dir, "orders").select(
        "o_orderpriority", F.round(F.col("o_totalprice") * 100).cast("long").alias("pu")
    )
    return u.groupBy("o_orderpriority").agg(
        (F.percentile("pu", F.lit(0.5)) / F.lit(100.0)).alias("median_price"),
        (F.percentile("pu", F.lit(0.9)) / F.lit(100.0)).alias("p90_price"),
    )


@register(
    "cube_aggregation",
    ops=("A1", "A3", "A4"),
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n_items,
               {sql_fixed_sum("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with GROUPING() markers to
    disambiguate real NULL keys from subtotal rows — every margin of
    the two-way table in one pass.

    Scale: Catalyst expands the cube by replicating each input row per
    grouping set AFTER map-side partial aggregation of the finest
    grain, so the shuffle carries per-(set,key) partials, not 4x the
    input.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n_items"),
            fixed_sum("l_quantity").alias("sum_qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "n_items", "sum_qty"
        )
    )


@register(
    "forward_fill_gaps",
    ops=("W2", "P11"),
    oracle="""
        WITH s AS (
            SELECT o_custkey, o_orderkey,
                   CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) AS BIGINT) AS day_no,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                        ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS pu
            FROM orders
        )
        SELECT o_custkey, day_no, o_orderkey, pu,
               LAST_VALUE(pu IGNORE NULLS) OVER (
                   PARTITION BY o_custkey ORDER BY day_no, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pu_filled
        FROM s
    """,
)
def forward_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (last-observation-carried-forward): sensor-style
    gap repair where missing observations (urgent orders stand in for
    dropped readings) inherit the most recent non-null value per key.
    last_value(ignorenulls) over a running frame with a total order —
    the canonical timeseries gap-fill.

    Scale: one shuffle on the entity key; the running frame is a
    single forward scan per partition (no re-sort per row).
    """
    s = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_no"),
        F.when(
            F.col("o_orderpriority") == "1-URGENT", F.lit(None).cast("long")
        )
        .otherwise(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("pu"),
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("day_no", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return s.select(
        "o_custkey",
        "day_no",
        "o_orderkey",
        "pu",
        F.last("pu", ignorenulls=True).over(w).alias("pu_filled"),
    )


@register(
    "deterministic_split",
    ops=("P8", "A1", "A3"),
    oracle=f"""
        WITH assigned AS (
            SELECT lang,
                   CASE WHEN {sql_portable_hash31("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
                        WHEN {sql_portable_hash31("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT lang, split, COUNT(*) AS n_docs
        FROM assigned GROUP BY lang, split
    """,
)
def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by content-free
    keyed hash — the split survives reshuffles, retries, corpus
    re-reads, and engine changes (contrast rand(): partition-order
    dependent). The 'split:' salt decorrelates this hash from every
    other hash-of-doc_id use in the pipeline.

    Scale: assignment is per-row (no shuffle); the audit rollup
    shuffles once on two tiny keys.
    """
    h = portable_hash31(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    return (
        load(spark, sf_dir, "documents")
        .select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "unpivot_melt",
    ops=("A3", "U1", "A1"),
    oracle=f"""
        WITH agg AS (
            SELECT l_returnflag,
                   {sql_fixed_sum("l_quantity")} AS sum_qty,
                   {sql_fixed_sum("l_extendedprice")} AS sum_price
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM agg
        UNION ALL
        SELECT l_returnflag, 'sum_qty', sum_qty FROM agg
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-flag aggregates to long (key, metric,
    value) triples — the inverse of pivot_wide, feeding metric-generic
    sinks (dashboards, metric stores). Spark's stack() emits both rows
    per input row in one pass; no join, no union re-scan.

    Scale: the melt itself is per-row (no shuffle); only the upstream
    aggregate shuffles, on the single low-cardinality key.
    """
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        fixed_sum("l_quantity").alias("sum_qty"),
        fixed_sum("l_extendedprice").alias("sum_price"),
    )
    return agg.selectExpr(
        "l_returnflag",
        "stack(2, 'sum_price', sum_price, 'sum_qty', sum_qty) AS (metric, value)",
    )


@register(
    "edit_distance_pairs",
    ops=("J2", "F1", "P6"),
    bench=True,
    oracle="""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: Levenshtein distance <= 2 between
    customer names within a nation block — the entity-resolution
    primitive (typo-tolerant record linkage). Edit distance is an
    integer, so the <= 2 cut is engine-exact.

    The pair space is canopy-bounded, not blocked-quadratic: an
    earlier version self-joined the nation block (pairs grow as
    (customers/25)^2 — the sf1 sweep's slowest entry at 46 s), now a
    deletion-neighborhood canopy (dedup.deletion_neighborhood_
    candidates, the FastSS scheme) nominates only strings sharing a
    <=2-deletion variant. That canopy has recall exactly 1 at ed<=2
    (pigeonhole over an optimal edit script), so the banded verify
    sees the identical survivor set — the all-pairs oracle below stays
    the ground truth, and tests/test_properties.py pins the
    equivalence on adversarial corpora. The DP itself is banded:
    levenshtein(threshold=2) computes only the +/-2 diagonal band and
    early-exits, so each verified pair costs O(k*len).

    Scale: signature explode is per-row (~190 short rows per name);
    the only shuffles are the signature equi-join (O(collisions)) and
    the two id-keyed name re-joins. 100x the customers -> ~100x the
    candidates, never (100x)^2. The query is OUTPUT-bound: sf1's 150k
    names yield 17M true pairs, so most of its wall time is producing
    its own result. Measured rejection, do not retry: carrying the
    name strings through the signature join (to skip the two re-joins)
    ran 2.8x SLOWER — the pre-distinct collision volume is far larger
    than the distinct pair set, and widening those shuffle rows costs
    more than re-joining names onto the deduped pairs.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_name")
    cand = deletion_neighborhood_candidates(
        c, block_col="c_nationkey", id_col="c_custkey", text_col="c_name", k=2
    )
    names_a = c.select(F.col("c_custkey").alias("id_a"), F.col("c_name").alias("name_a"))
    names_b = c.select(F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b"))
    return (
        cand.join(names_a, "id_a")
        .join(names_b, "id_b")
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b", 2).cast("int"))
        .filter(F.col("edit_dist").between(0, 2))
        .select("id_a", "id_b", "edit_dist")
    )


def topk_nearest_matches(sym: DataFrame, k: int = 3) -> DataFrame:
    """Per-id top-k of (edit_dist, match_id) without a window: pack
    both into one int64 (dist in bits 61+, so dist <= 3 and
    0 <= match_id < 2^61 — holds for any realistic key domain; ids
    are unpacked with shifts/masks, never float division) and take
    slice(array_sort(collect_list(pk)), 1, k) inside an object-hash
    aggregate. A row_number window would sort whole shuffle
    partitions; this sorts only each id's own candidate list —
    measured 36.8 s vs 46.6 s at sf1 on edit_distance_topk, identical
    output verified by exceptAll both directions. Input columns:
    (c_custkey, match_id, edit_dist).

    Packing precondition is ENFORCED, not assumed: edit_dist > 3
    would shiftleft past the sign bit (4 << 61 wraps to
    Long.MIN_VALUE, sorting garbage FIRST), so a violating caller
    must fail loudly rather than return wrong top-k. NULL edit_dist
    or match_id fail the same guard (assert_true throws on a null
    condition) — deliberate: a null candidate row is a caller bug,
    not a row to drop silently, and the error message says so."""
    in_range = F.col("edit_dist").between(0, 3) & F.col("match_id").between(
        0, (1 << 61) - 1
    )
    # assert_true yields NULL when the check passes; adding the
    # coalesced zero keeps it inside the pk expression so column
    # pruning can never drop the guard.
    guard = F.coalesce(
        F.assert_true(
            in_range,
            F.lit(
                "topk_nearest_matches: need NON-NULL 0<=edit_dist<=3 "
                "and 0<=match_id<2^61"
            ),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    packed = sym.select(
        "c_custkey",
        (F.shiftleft(F.col("edit_dist").cast("long"), 61) + F.col("match_id") + guard).alias("pk"),
    )
    topk = packed.groupBy("c_custkey").agg(
        F.slice(F.array_sort(F.collect_list("pk")), 1, k).alias("top")
    )
    return topk.select(
        "c_custkey", F.posexplode("top").alias("i", "pk")
    ).select(
        "c_custkey",
        (F.col("i") + 1).cast("long").alias("match_rank"),
        F.col("pk").bitwiseAND(F.lit((1 << 61) - 1)).alias("match_id"),
        F.shiftright("pk", 61).cast("int").alias("edit_dist"),
    )


@register(
    "edit_distance_topk",
    ops=("J2", "W2", "F1", "O2"),
    bench=True,
    oracle="""
        WITH pairs AS (
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 2
        ), sym AS (
            SELECT id_a AS c_custkey, id_b AS match_id, edit_dist FROM pairs
            UNION ALL
            SELECT id_b AS c_custkey, id_a AS match_id, edit_dist FROM pairs
        )
        SELECT c_custkey, match_rank, match_id, edit_dist
        FROM (
            SELECT c_custkey, match_id, edit_dist,
                   CAST(ROW_NUMBER() OVER (PARTITION BY c_custkey
                            ORDER BY edit_dist, match_id) AS BIGINT) AS match_rank
            FROM sym
        )
        WHERE match_rank <= 3
    """,
)
def edit_distance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-output companion to edit_distance_pairs (VERDICT r05
    Next-round #5): the top-3 nearest names per customer (ed <= 2,
    within the nation block), totally ordered by (edit_dist, match_id).
    The pair-emitter's output grows with the number of true pairs (17M
    rows at sf1 -> 170B at 100x, output-bound by construction); this
    registered form caps output at 3 rows per id, so its cost scales
    with the corpus, not the pair count — the shape an entity-
    resolution consumer (best-match review queue) actually reads.

    Same FastSS deletion-neighborhood canopy as edit_distance_pairs
    (recall exactly 1 at ed <= 2, property-tested), same banded
    levenshtein verify; then one symmetrize pass via explode(array(..))
    (single lineage evaluation — union-of-two-selects re-evaluates the
    candidate join per branch). The per-id top-3 is NOT a row_number
    window: (edit_dist, match_id) packs into one int64 (dist in the
    top bits — dist <= 2 and id < 2^61, unpacked with shifts, never
    float division), so slice(array_sort(collect_list(pk)), 1, 3) does
    the selection inside an object-hash aggregate. Measured same-
    session A/B at sf1: 36.8 s vs 46.6 s for the window form (the
    window sorts whole 34M-row shuffle partitions; the aggregate sorts
    per-id lists) — identical output, exceptAll-verified both ways.

    Scale: shuffles are the signature equi-join (O(collisions)), two
    id-keyed name re-joins, and one hash aggregate on c_custkey; no
    partition-wide sort anywhere, and no skew (ids are unique).
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_name")
    cand = deletion_neighborhood_candidates(
        c, block_col="c_nationkey", id_col="c_custkey", text_col="c_name", k=2
    )
    names_a = c.select(F.col("c_custkey").alias("id_a"), F.col("c_name").alias("name_a"))
    names_b = c.select(F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b"))
    pairs = (
        cand.join(names_a, "id_a")
        .join(names_b, "id_b")
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b", 2).cast("int"))
        .filter(F.col("edit_dist").between(0, 2))
        .select("id_a", "id_b", "edit_dist")
    )
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("c_custkey"),
                    F.col("id_b").alias("match_id"),
                    F.col("edit_dist"),
                ),
                F.struct(
                    F.col("id_b").alias("c_custkey"),
                    F.col("id_a").alias("match_id"),
                    F.col("edit_dist"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return topk_nearest_matches(sym, k=3)


# Target mixture in basis points of 10000 (keep probability per source)
# — the literal config a corpus-mixing job would read from a manifest.
MIXTURE_BP = {
    f"src{i}": (10000 if i < 5 else 5000 if i < 10 else 2500) for i in range(20)
}


@register(
    "corpus_mixture_sample",
    ops=("J1", "A1", "A3"),
    oracle=f"""
        WITH w(source, keep_bp) AS (
            VALUES {", ".join(f"('{s}', {bp})" for s, bp in sorted(MIXTURE_BP.items()))}
        )
        SELECT d.source, w.keep_bp,
               COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN {sql_portable_hash31("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 < w.keep_bp
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM documents d JOIN w ON d.source = w.source
        GROUP BY d.source, w.keep_bp
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: each source keeps a hash-thresholded
    fraction of its documents per the target mixture (full weight for
    premium sources, downsampled tails) — how a training run hits its
    data-mixture spec reproducibly. The keep decision is per-row hash
    arithmetic; the weight table is a broadcast-joined literal config.

    Scale: the config join is a broadcast (20 rows vs billions); the
    audit rollup shuffles once on the source key. Changing the mixture
    re-filters without re-shuffling the corpus.
    """
    weights = spark.createDataFrame(
        sorted(MIXTURE_BP.items()), "source STRING, keep_bp INT"
    )
    h = portable_hash31(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 10000
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .join(F.broadcast(weights), "source")
        .groupBy("source", "keep_bp")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(h < F.col("keep_bp"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )


@register(
    "stratified_sample",
    ops=("W2", "O2", "A6"),
    oracle=f"""
        SELECT lang, doc_id
        FROM (
            SELECT lang, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY {sql_portable_hash31("'sample:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
            FROM documents
        )
        WHERE rn <= 10
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: the 10 smallest-hash docs per
    language — an order-statistic on a uniform hash, so it IS a uniform
    sample per stratum, yet reproducible anywhere (eval sets, debugging
    slices). Tie-break on doc_id makes the cut total.

    Scale: rank-over-hash shuffles once on the stratum key; at extreme
    stratum sizes pre-filter with an approximate hash threshold
    (hash < k/n_estimate margin) so the sort sees a sliver of rows.
    """
    h = portable_hash31(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        load(spark, sf_dir, "documents")
        .select("lang", "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .select("lang", "doc_id")
    )


INTERLEAVE_LCM = 6  # LCM of the weight domain {1,2,3}: virtual time is
# position * (LCM / weight) — exact integers, no rational comparison.
INTERLEAVE_TAKE = 200


@register(
    "corpus_interleave_schedule",
    ops=("W2", "J1", "O1", "O2"),
    oracle=f"""
        WITH pos AS (
            SELECT source, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS p,
                   CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS w
            FROM documents
        ), keyed AS (
            SELECT source, doc_id, p, w,
                   p * ({INTERLEAVE_LCM} // w) AS vtime
            FROM pos
        ), sched AS (
            SELECT source, doc_id, vtime
            FROM keyed
            ORDER BY vtime, source, doc_id
            LIMIT {INTERLEAVE_TAKE}
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vtime, source, doc_id) AS BIGINT)
                   AS schedule_pos,
               source, doc_id, CAST(vtime AS BIGINT) AS vtime
        FROM sched
    """,
)
def corpus_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus interleaving — the deterministic read SCHEDULE a
    multi-source training run follows (companion to
    corpus_mixture_sample, which decides WHAT to keep; this decides
    WHEN each document is read): weighted fair queuing with integer
    virtual time. A source of weight w emits its p-th document at
    vtime = p * (LCM / w), so heavier sources appear proportionally
    more often in any prefix of the schedule; the first
    INTERLEAVE_TAKE slots are materialized with their global position.

    Scale: per-source position is one window over the source
    partitioning; the global prefix is an ordered LIMIT
    (TakeOrderedAndProject — never a full sort); the final position
    numbering runs on the LIMIT-bounded (tiny) prefix only. All
    arithmetic is integer — exact in any engine."""
    docs = load(spark, sf_dir, "documents").select("source", "doc_id")
    p = F.row_number().over(W.partitionBy("source").orderBy("doc_id"))
    w = F.substring("source", 4, 10).cast("long") % 3 + 1
    slot = F.floor(F.lit(INTERLEAVE_LCM) / w).cast("long")  # 6 // w, exact
    keyed = docs.select(
        "source",
        "doc_id",
        (p.cast("long") * slot).alias("vtime"),
    )
    sched = keyed.orderBy("vtime", "source", "doc_id").limit(INTERLEAVE_TAKE)
    pos = F.row_number().over(
        W.orderBy("vtime", "source", "doc_id")
    )
    return sched.select(
        pos.cast("long").alias("schedule_pos"), "source", "doc_id", "vtime"
    )


@register(
    "ordered_event_sequences",
    ops=("A1", "N7", "W2"),
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               array_to_string(list(event_id ORDER BY ts, event_id), ',') AS event_id_seq,
               array_to_string(list(event_type ORDER BY ts, event_id), ',') AS event_type_seq,
               MIN(ts) AS first_ts,
               MAX(ts) AS last_ts
        FROM events
        GROUP BY user_id
    """,
)
def ordered_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-ordered event sequences as array columns — the
    sequence-assembly step that turns a row-per-event log into the
    row-per-example shape a training pipeline consumes (conversation
    turns, session traces); serialized to canonical CSV strings so the
    row is directly hash-comparable. ONE shuffle on user_id; ordering is
    done INSIDE the aggregate by array_sort over (ts, event_id) structs
    — no window, no secondary sort, and the tie-break by unique
    event_id makes the arrays deterministic under any partitioning
    (collect_list alone is order-nondeterministic — never ship it
    unsorted). At 100 TB groups stream through a hash aggregate;
    per-user state is the user's own events only."""
    events = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    sorted_seq = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(sorted_seq, lambda x: x["event_id"].cast("string")), ","
        ).alias("event_id_seq"),
        F.array_join(
            F.transform(sorted_seq, lambda x: x["event_type"]), ","
        ).alias("event_type_seq"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "winsorized_stats",
    ops=("A1", "A4", "J1", "P8"),
    oracle="""
        WITH u AS (
            SELECT o_orderpriority,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pu
            FROM orders
        ), cuts AS (
            SELECT o_orderpriority,
                   quantile_cont(pu, 0.05) AS lo,
                   quantile_cont(pu, 0.95) AS hi
            FROM u GROUP BY o_orderpriority
        )
        SELECT u.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(floor(LEAST(GREATEST(CAST(u.pu AS DOUBLE), c.lo), c.hi)) AS BIGINT)) AS BIGINT) AS wins_total_units,
               CAST(SUM(CAST(floor(LEAST(GREATEST(CAST(u.pu AS DOUBLE), c.lo), c.hi)) AS BIGINT)) AS DOUBLE)
                   / (100.0 * COUNT(*)) AS winsorized_mean,
               CAST(SUM(CASE WHEN CAST(u.pu AS DOUBLE) < c.lo
                             OR CAST(u.pu AS DOUBLE) > c.hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        FROM u JOIN cuts c USING (o_orderpriority)
        GROUP BY u.o_orderpriority
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clipped) spend statistics per priority —
    the robust-mean pattern metric pipelines use when a few huge
    orders would otherwise dominate: values clip to the exact
    per-group [p5, p95] interpolated percentiles, then aggregate.
    All arithmetic is on integer price units; the percentile cuts are
    doubles from exact ints (same interpolation both engines), the
    clipped values truncate back to BIGINT before summing, so the
    sums stay order-independent and the oracle hash-matches.

    Scale: phase 1 computes the per-group cuts (exact percentile —
    per-group sort, bounded groups; swap percentile_approx at
    unbounded cardinality), phase 2 re-aggregates with the TINY cuts
    table broadcast onto the fact — two passes over the group, no
    row-level materialization between them."""
    from pyspark.sql import functions as F

    u = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pu"),
    )
    cuts = u.groupBy("o_orderpriority").agg(
        F.percentile("pu", F.lit(0.05)).alias("lo"),
        F.percentile("pu", F.lit(0.95)).alias("hi"),
    )
    pud = F.col("pu").cast("double")
    # explicit floor: DuckDB's double->BIGINT cast ROUNDS while
    # Spark's truncates — floor is identical in both engines
    clipped = F.floor(F.least(F.greatest(pud, F.col("lo")), F.col("hi"))).cast("long")
    return (
        u.join(F.broadcast(cuts), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(clipped).cast("long").alias("wins_total_units"),
            (
                F.sum(clipped).cast("double")
                / (F.lit(100.0) * F.count(F.lit(1)).cast("double"))
            ).alias("winsorized_mean"),
            F.sum(
                F.when((pud < F.col("lo")) | (pud > F.col("hi")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped"),
        )
    )


MAD_K = 3.0  # flag |x - median| > K * MAD (the robust z-score rule)


@register(
    "mad_outliers",
    ops=("A1", "A4", "J1", "P8"),
    oracle=f"""
        WITH u AS (
            SELECT o_orderkey, o_orderpriority,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pu
            FROM orders
        ), med AS (
            SELECT o_orderpriority, quantile_cont(pu, 0.5) AS med
            FROM u GROUP BY o_orderpriority
        ), dev AS (
            SELECT u.o_orderkey, u.o_orderpriority, u.pu, m.med,
                   abs(CAST(u.pu AS DOUBLE) - m.med) AS adev
            FROM u JOIN med m USING (o_orderpriority)
        ), mad AS (
            SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY o_orderpriority
        )
        SELECT d.o_orderkey, d.o_orderpriority,
               d.pu / 100.0 AS price,
               d.med / 100.0 AS group_median,
               m.mad / 100.0 AS group_mad,
               (m.mad > 0 AND d.adev > {MAD_K} * m.mad) AS is_outlier
        FROM dev d JOIN mad m USING (o_orderpriority)
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier flags per priority class —
    the robust companion to rolling_zscore_anomaly (means and stddevs
    are themselves dragged by the outliers they should catch; medians
    are not). Two exact-median passes on integer price units; the
    |x - median| deviations are doubles of exact ints, so both engines
    interpolate identically and the K*MAD cut is bit-stable.

    Scale: two grouped exact percentiles (bounded groups — swap the
    approx sketch at unbounded cardinality) with the TINY per-group
    median/MAD tables broadcast back onto the fact; no window over the
    fact, no global sort."""
    from pyspark.sql import functions as F

    u = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pu"),
    )
    med = u.groupBy("o_orderpriority").agg(
        F.percentile("pu", F.lit(0.5)).alias("med")
    )
    dev = u.join(F.broadcast(med), "o_orderpriority").withColumn(
        "adev", F.abs(F.col("pu").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            (F.col("pu") / F.lit(100.0)).alias("price"),
            (F.col("med") / F.lit(100.0)).alias("group_median"),
            (F.col("mad") / F.lit(100.0)).alias("group_mad"),
            (
                (F.col("mad") > 0) & (F.col("adev") > F.lit(MAD_K) * F.col("mad"))
            ).alias("is_outlier"),
        )
    )


@register(
    "grouping_sets_report",
    ops=("A1", "A3"),
    oracle=f"""
        SELECT COALESCE(o_orderpriority, '(all)') AS priority,
               COALESCE(o_orderstatus, '(all)') AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {{rev}} AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """.format(rev=sql_fixed_sum("o_totalprice")),
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the arbitrary-subtotal shape that
    rollup (prefix hierarchy) and cube (every combination) cannot
    express: per-priority totals, per-status totals, and the grand
    total in ONE pass, nothing else. Expressed in Spark SQL (same
    Catalyst plan as the DataFrame API; the engine registers catalog
    views for exactly this).

    Scale: one Expand + aggregate — rows replicate once per matching
    grouping set (3 here), shuffled with map-side combine; cheaper
    than the 2^k cube whenever only k subtotal shapes are needed."""
    from martian_moments_spark.catalog import load as _load

    _load(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql(
        f"""
        SELECT COALESCE(o_orderpriority, '(all)') AS priority,
               COALESCE(o_orderstatus, '(all)') AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
                   AS total_price
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


from martian_moments_spark.llmops.textops import sql_tokens, tokens  # noqa: E402


@register(
    "mixture_temperature_weights",
    ops=("A1", "A5", "J1", "O1"),
    oracle=f"""
        WITH per_source AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS n_tokens
            FROM documents
            GROUP BY source
        ), tot AS (
            SELECT SUM(n_tokens) AS total_tokens FROM per_source
        ), raw AS (
            SELECT s.source, s.n_docs, s.n_tokens,
                   CAST(s.n_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE)
                       AS nat_share,
                   CAST(floor(sqrt(CAST(s.n_tokens AS DOUBLE)
                                   / CAST(t.total_tokens AS DOUBLE)) * 1000000000
                              + 0.5) AS BIGINT) AS wq
            FROM per_source s, tot t
        ), norm AS (
            SELECT SUM(wq) AS wq_sum FROM raw
        )
        SELECT r.source, r.n_docs, r.n_tokens, r.nat_share,
               CAST(r.wq AS DOUBLE) / CAST(n.wq_sum AS DOUBLE) AS sample_weight,
               (CAST(r.wq AS DOUBLE) / CAST(n.wq_sum AS DOUBLE)) / r.nat_share
                   AS boost
        FROM raw r, norm n
        ORDER BY r.source
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed corpus mixture weights (alpha = 0.5, the
    multilingual-LM standard): per-source sampling probability
    proportional to its natural token share raised to alpha —
    upweights small sources, damps head domains. The sqrt output is
    quantized to integer 1e-9 units BEFORE normalizing, so the
    normalizer is an order-independent BIGINT sum and every weight is
    bit-identical to the oracle (a raw float sum over sources would
    differ in ulps between engines).

    Scale: one token-count aggregate over the corpus (map-side
    combined), then all arithmetic on the tiny per-source table; both
    scalars are 1-row broadcasts. The boost column is the number a
    mixture scheduler multiplies into per-source sampling rates."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    )
    tot = per_source.agg(F.sum("n_tokens").alias("total_tokens"))
    nat_share = F.col("n_tokens").cast("double") / F.col("total_tokens").cast(
        "double"
    )
    raw = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        nat_share.alias("nat_share"),
        F.floor(F.sqrt(nat_share) * 1_000_000_000 + 0.5)
        .cast("long")
        .alias("wq"),
    )
    norm = raw.agg(F.sum("wq").alias("wq_sum"))
    sample_weight = F.col("wq").cast("double") / F.col("wq_sum").cast("double")
    return (
        raw.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "nat_share",
            sample_weight.alias("sample_weight"),
            (sample_weight / F.col("nat_share")).alias("boost"),
        )
        .orderBy("source")
    )


from martian_moments_spark.functions.sketches import (  # noqa: E402
    HIST_BINS,
    hist_build,
    hist_quantile,
    sql_hist_bin,
)

_HQ_LO, _HQ_HI = 0, 50_000_000  # price units range: $0 .. $500k


def _sql_hist_quantile(q: float) -> str:
    """DuckDB fragment mirroring hist_quantile's exact double-op order
    for one quantile; expects CTEs hcum(prio, bin, cnt, cum, cum_prev,
    total)."""
    width = f"(CAST({_HQ_HI} - {_HQ_LO} AS DOUBLE) / {HIST_BINS})"
    target = f"({q} * CAST(total AS DOUBLE))"
    return f"""
        SELECT o_orderpriority,
               {_HQ_LO} + (CAST(bin AS DOUBLE)
                   + ({target} - CAST(cum_prev AS DOUBLE)) / CAST(cnt AS DOUBLE))
                   * {width} AS est_units
        FROM hcum h
        WHERE bin = (SELECT MIN(bin) FROM hcum h2
                     WHERE h2.o_orderpriority = h.o_orderpriority
                       AND CAST(h2.cum AS DOUBLE) >= {q} * CAST(h2.total AS DOUBLE))
    """


@register(
    "quantile_sketch_accuracy",
    ops=("A1", "W2", "J1", "O1"),
    oracle=f"""
        WITH u AS (
            SELECT o_orderpriority,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pu
            FROM orders
        ), hist AS (
            SELECT o_orderpriority, {sql_hist_bin("pu", _HQ_LO, _HQ_HI)} AS bin,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM u GROUP BY o_orderpriority, {sql_hist_bin("pu", _HQ_LO, _HQ_HI)}
        ), hcum AS (
            SELECT o_orderpriority, bin, cnt,
                   SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum,
                   SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) - cnt AS cum_prev,
                   SUM(cnt) OVER (PARTITION BY o_orderpriority) AS total
            FROM hist
        ), e50 AS ({_sql_hist_quantile(0.5)}), e95 AS ({_sql_hist_quantile(0.95)}),
        exact AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   quantile_cont(pu, 0.5) / 100.0 AS exact_p50,
                   quantile_cont(pu, 0.95) / 100.0 AS exact_p95
            FROM u GROUP BY o_orderpriority
        )
        SELECT x.o_orderpriority, x.n_orders,
               a.est_units / 100.0 AS est_p50,
               b.est_units / 100.0 AS est_p95,
               x.exact_p50, x.exact_p95
        FROM exact x
        JOIN e50 a ON x.o_orderpriority = a.o_orderpriority
        JOIN e95 b ON x.o_orderpriority = b.o_orderpriority
        ORDER BY x.o_orderpriority
    """,
)
def quantile_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile estimation (functions/sketches.py histogram
    sketch) graded against the exact interpolated percentile: per
    priority class, p50/p95 from a 256-bin fixed-range integer
    histogram next to their exact values. The sketch is the engine's
    incremental/streaming percentile path — cell-wise mergeable like
    the CMS and HLL partials, with a DETERMINISTIC <= 1-bin-width
    error bound where t-digest/KLL give only probabilistic,
    non-reproducible estimates.

    Scale: the histogram is one (group, bin)-keyed aggregate with
    map-side combine (at most groups*256 cells survive); estimation
    runs on the tiny cell table. The exact percentile column exists
    only to grade the sketch — at 100 TB you keep the sketch and drop
    the per-group sort the exact path needs."""
    u = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pu"),
    )
    hist = hist_build(u, "pu", _HQ_LO, _HQ_HI, group_cols=("o_orderpriority",))
    e50 = hist_quantile(
        hist, 0.5, _HQ_LO, _HQ_HI, group_cols=("o_orderpriority",), out_col="eu50"
    )
    e95 = hist_quantile(
        hist, 0.95, _HQ_LO, _HQ_HI, group_cols=("o_orderpriority",), out_col="eu95"
    )
    exact = u.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.percentile("pu", F.lit(0.5)) / 100.0).alias("exact_p50"),
        (F.percentile("pu", F.lit(0.95)) / 100.0).alias("exact_p95"),
    )
    return (
        exact.join(e50, "o_orderpriority")
        .join(e95, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_orders",
            (F.col("eu50") / 100.0).alias("est_p50"),
            (F.col("eu95") / 100.0).alias("est_p95"),
            "exact_p50",
            "exact_p95",
        )
        .orderBy("o_orderpriority")
    )


@register(
    "skyline_pareto_parts",
    ops=("W1", "P3", "O1"),
    oracle="""
        WITH u AS (
            SELECT p_partkey, p_size,
                   CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_units
            FROM part
        )
        SELECT p.p_partkey, p.p_size,
               CAST(p.price_units AS DOUBLE) / 100.0 AS p_retailprice
        FROM u p
        WHERE NOT EXISTS (
            SELECT 1 FROM u q
            WHERE q.price_units <= p.price_units
              AND q.p_size >= p.p_size
              AND (q.price_units < p.price_units OR q.p_size > p.p_size)
        )
        ORDER BY p.price_units, p.p_partkey
    """,
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts no other part strictly
    dominates on (cheaper-or-equal price, bigger-or-equal size, one
    strict). The engine runs a TWO-PHASE window formulation — price
    buckets compute their local running-max in parallel, then a tiny
    prefix-max over lower buckets' maxima supplies the cross-bucket
    "strictly cheaper" bound (the same trick as
    global_rank_range_partitioned: never a single-partition global
    window) — while the oracle runs the textbook quadratic NOT EXISTS;
    the two formulations agreeing is the dominance-semantics proof.
    Prices compare in integer units, so no float boundary can split
    the frontier.

    Scale: phase 1 windows partition by price bucket (parallel, one
    shuffle); phase 2 is a prefix max over the per-bucket maxima —
    rows = bucket count, computed on a broadcast-sized table. The
    quadratic self-join the oracle uses is exactly what this plan
    avoids at 100 TB. Equal prices share a bucket by construction, so
    the strictness boundary never crosses buckets."""
    bucket_width = 500_000  # price units per bucket: ~100 buckets
    u = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_units"),
    ).withColumn("bucket", F.expr(f"price_units DIV {bucket_width}"))
    w_local = (
        W.partitionBy("bucket")
        .orderBy("price_units")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    w_same_price = W.partitionBy("price_units")
    flagged = u.select(
        "p_partkey",
        "p_size",
        "price_units",
        "bucket",
        F.max("p_size").over(w_local).alias("local_cheaper_max"),
        F.max("p_size").over(w_same_price).alias("max_size_same"),
    )
    bucket_max = u.groupBy("bucket").agg(F.max("p_size").alias("bmax"))
    w_prefix = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    prefix = bucket_max.select(
        "bucket", F.max("bmax").over(w_prefix).alias("lower_buckets_max")
    )
    skyline = flagged.join(F.broadcast(prefix), "bucket").filter(
        (
            F.greatest(
                F.coalesce(F.col("local_cheaper_max"), F.lit(-1)),
                F.coalesce(F.col("lower_buckets_max"), F.lit(-1)),
            )
            < F.col("p_size")
        )
        & (F.col("max_size_same") <= F.col("p_size"))
    )
    return skyline.select(
        "p_partkey",
        "p_size",
        (F.col("price_units").cast("double") / 100.0).alias("p_retailprice"),
    ).orderBy("p_retailprice", "p_partkey")


@register(
    "contingency_chi_square",
    ops=("A1", "A3", "J1", "O1"),
    oracle="""
        WITH obs AS (
            SELECT c.c_mktsegment, o.o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, o.o_orderpriority
        ), rows_t AS (
            SELECT c_mktsegment, CAST(SUM(n) AS BIGINT) AS r FROM obs
            GROUP BY c_mktsegment
        ), cols_t AS (
            SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS c FROM obs
            GROUP BY o_orderpriority
        ), tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS N FROM obs
        ), cells AS (
            SELECT o.c_mktsegment, o.o_orderpriority, r.r, c.c,
                   t.N AS grand_total,
                   CAST(floor(
                       CAST((o.n * t.N - r.r * c.c) AS DOUBLE)
                       * CAST((o.n * t.N - r.r * c.c) AS DOUBLE)
                       / (CAST(t.N AS DOUBLE) * CAST(r.r * c.c AS DOUBLE))
                       * 1000000000 + 0.5) AS BIGINT) AS contrib_nano
            FROM obs o
            JOIN rows_t r ON o.c_mktsegment = r.c_mktsegment
            JOIN cols_t c ON o.o_orderpriority = c.o_orderpriority
            CROSS JOIN tot t
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(contrib_nano) AS DOUBLE) / 1000000000.0 AS chi_square,
               CAST(MAX(grand_total) AS BIGINT) AS n_total
        FROM cells
    """,
)
def contingency_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for the (market segment x order
    priority) contingency table — the profiling statistic a feature
    store runs before trusting a categorical crossing. Each cell's
    contribution is computed as (n*N - r*c)^2 / (N*r*c) — exact BIGINT
    numerators (bounded far below 2^63 at any SF), one double
    division per cell — then quantized to 1e-9 units BEFORE the final
    sum, so the statistic is an order-independent BIGINT sum and
    hash-matches the oracle (a raw float sum over cells would differ
    in ulps across partitionings).

    Scale: one fact-dim join (customer broadcast by AQE or size), one
    grouped count, and all remaining arithmetic on a segments x
    priorities table (25 cells). Marginals re-aggregate from the
    cells, not the fact."""
    obs = (
        load(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderpriority")
        .join(
            load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows_t = obs.groupBy("c_mktsegment").agg(F.sum("n").alias("r"))
    cols_t = obs.groupBy("o_orderpriority").agg(F.sum("n").alias("c"))
    tot = obs.agg(F.sum("n").alias("grand_total"))
    num = F.col("n") * F.col("grand_total") - F.col("r") * F.col("c")
    contrib = (
        num.cast("double")
        * num.cast("double")
        / (F.col("grand_total").cast("double") * (F.col("r") * F.col("c")).cast("double"))
    )
    cells = (
        obs.join(F.broadcast(rows_t), "c_mktsegment")
        .join(F.broadcast(cols_t), "o_orderpriority")
        .crossJoin(F.broadcast(tot))
        .select(
            "grand_total",
            F.floor(contrib * 1_000_000_000 + 0.5).cast("long").alias(
                "contrib_nano"
            ),
        )
    )
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (F.sum("contrib_nano").cast("double") / F.lit(1_000_000_000.0)).alias(
            "chi_square"
        ),
        F.max("grand_total").cast("long").alias("n_total"),
    )


@register(
    "market_basket_lift",
    ops=("J2", "A1", "A5", "O1", "O2"),
    oracle="""
        WITH baskets AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ), n_orders AS (
            SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
            FROM baskets
        ), brand_freq AS (
            SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS f
            FROM baskets GROUP BY p_brand
        ), pair_freq AS (
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   CAST(COUNT(*) AS BIGINT) AS f_ab
            FROM baskets a JOIN baskets b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY a.p_brand, b.p_brand
        )
        SELECT pf.brand_a, pf.brand_b, pf.f_ab,
               CAST(pf.f_ab AS DOUBLE) / CAST(t.n AS DOUBLE) AS support,
               CAST(pf.f_ab AS DOUBLE) / CAST(fa.f AS DOUBLE) AS confidence,
               CAST(pf.f_ab AS DOUBLE) * CAST(t.n AS DOUBLE)
                   / (CAST(fa.f AS DOUBLE) * CAST(fb.f AS DOUBLE)) AS lift
        FROM pair_freq pf
        JOIN brand_freq fa ON pf.brand_a = fa.p_brand
        JOIN brand_freq fb ON pf.brand_b = fb.p_brand
        CROSS JOIN n_orders t
        ORDER BY lift DESC, pf.brand_a, pf.brand_b
        LIMIT 50
    """,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining (market basket): brand pairs
    co-purchased within an order, scored by support, confidence, and
    lift — the a-priori first step every recommender bootstrap runs.
    All three scores are ratios of BIGINT co-occurrence counts (one
    double division each), so the ranking hash-matches.

    Scale: baskets dedup on (order, brand) — one shuffle; the pair
    join is keyed on the ORDER (co-occurrence within a basket, never
    an all-pairs brand join), so its cost is sum over orders of
    (distinct brands per order)^2 — bounded by basket width, the same
    bound a-priori relies on; frequencies broadcast back onto the
    pair table."""
    baskets = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(load(spark, sf_dir, "part").select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
        # four consumers (order count, brand frequencies, both pair
        # sides) — two narrow columns, materialize the dedup once
        .localCheckpoint(eager=True)
    )
    n_orders = baskets.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    brand_freq = baskets.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    a = baskets.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = baskets.select(
        F.col("l_orderkey").alias("ok_b"), F.col("p_brand").alias("brand_b")
    )
    pair_freq = (
        a.join(
            b,
            (F.col("l_orderkey") == F.col("ok_b"))
            & (F.col("brand_a") < F.col("brand_b")),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("f_ab"))
    )
    fa = brand_freq.select(
        F.col("p_brand").alias("brand_a"), F.col("f").alias("f_a")
    )
    fb = brand_freq.select(
        F.col("p_brand").alias("brand_b"), F.col("f").alias("f_b")
    )
    return (
        pair_freq.join(F.broadcast(fa), "brand_a")
        .join(F.broadcast(fb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "f_ab",
            (F.col("f_ab").cast("double") / F.col("n").cast("double")).alias(
                "support"
            ),
            (F.col("f_ab").cast("double") / F.col("f_a").cast("double")).alias(
                "confidence"
            ),
            (
                F.col("f_ab").cast("double")
                * F.col("n").cast("double")
                / (F.col("f_a").cast("double") * F.col("f_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "brand_a", "brand_b")
        .limit(50)
    )


_GINI_BUCKET_W = 5_000_000  # revenue units per rank bucket (~100 buckets)


@register(
    "lorenz_gini_revenue",
    ops=("A1", "W1", "J1", "O1"),
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS r
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS i
            FROM per_cust
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(r) AS DOUBLE) / 100.0 AS total_revenue,
               (2.0 * CAST(SUM(CAST(i AS HUGEINT) * r) AS DOUBLE)
                - (CAST(COUNT(*) AS DOUBLE) + 1.0) * CAST(SUM(r) AS DOUBLE))
                   / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(r) AS DOUBLE)) AS gini
        FROM ranked
    """,
)
def lorenz_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration (the Lorenz
    summary a mixture designer checks before trusting "diverse"
    spend/data): G = (2*sum(i*r_i) - (n+1)*S) / (n*S) over ascending-
    rank revenue. The global rank uses the engine's two-phase
    range-bucketed pattern (global_rank_range_partitioned) — offsets
    from a metadata-scale prefix sum, within-bucket windows hash-
    partitioned — never a single-partition window; every product and
    sum stays BIGINT until the final ratio.

    Scale: one shuffle to the per-customer rollup, one on the rank
    bucket; the oracle's global window is the small-scale shortcut
    the engine deliberately avoids."""
    per_cust = (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("ru"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("ru").alias("r"))
    )
    rows = per_cust.withColumn(
        "bucket", F.floor(F.col("r") / F.lit(_GINI_BUCKET_W)).cast("long")
    )
    counts = rows.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_off = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).cast("long").alias("offset"),
    )
    w_in = W.partitionBy("bucket").orderBy("r", "o_custkey")
    ranked = rows.join(F.broadcast(offsets), "bucket").select(
        "r", (F.col("offset") + F.row_number().over(w_in)).cast("long").alias("i")
    )
    n = F.count(F.lit(1)).cast("double")
    s = F.sum("r").cast("double")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.sum("r").cast("double") / 100.0).alias("total_revenue"),
        (
            # rank x revenue products sum to ~n^2 * mean_r — DECIMAL(38,0)
            # accumulation (HUGEINT oracle); BIGINT overflows past ~1e9 keys
            (
                F.lit(2.0)
                * F.sum(F.col("i").cast("decimal(38,0)") * F.col("r")).cast("double")
                - (n + 1.0) * s
            )
            / (n * s)
        ).alias("gini"),
    )


@register(
    "decile_lift_table",
    ops=("A1", "A5", "W2", "J1", "O1"),
    oracle=f"""
        WITH scored AS (
            SELECT doc_id,
                   CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                        t -> t <> '')) AS BIGINT) AS score,
                   CAST(lang = 'en' AS INT) AS label
            FROM documents
        ), bounds AS (
            SELECT quantile_cont(score, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS b
            FROM scored
        ), assigned AS (
            SELECT s.label,
                   CAST(1 + len(list_filter(b.b, x -> CAST(s.score AS DOUBLE) > x))
                        AS INT) AS decile
            FROM scored s CROSS JOIN bounds b
        ), per_decile AS (
            SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(label) AS BIGINT) AS n_pos
            FROM assigned GROUP BY decile
        ), tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all,
                   CAST(SUM(n_pos) AS BIGINT) AS pos_all
            FROM per_decile
        )
        SELECT d.decile, d.n_docs, d.n_pos,
               CAST(d.n_pos AS DOUBLE) / CAST(d.n_docs AS DOUBLE) AS pos_rate,
               CAST(SUM(d.n_pos) OVER (ORDER BY d.decile DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / CAST(t.pos_all AS DOUBLE) AS cum_capture,
               (CAST(d.n_pos AS DOUBLE) / CAST(d.n_docs AS DOUBLE))
                   / (CAST(t.pos_all AS DOUBLE) / CAST(t.n_all AS DOUBLE)) AS lift
        FROM per_decile d CROSS JOIN tot t
        ORDER BY d.decile DESC
    """,
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation decile lift table: documents rank by a score
    (token count standing in for a classifier margin), split at the
    exact interpolated score deciles, and each decile reports its
    positive rate (label: lang = 'en'), cumulative capture from the
    top, and lift over the base rate — the table every targeting /
    quality-classifier rollout is judged on. Counts are BIGINT;
    boundary assignment compares against the broadcast 9-value cut
    list, so ties land identically on both engines.

    Scale: the cuts here are the exact percentile aggregate; at
    unbounded scale swap in hist_quantile (functions/sketches.py) for
    mergeable boundaries with a bounded error — the downstream decile
    arithmetic is unchanged. The cumulative window runs over 10
    metadata rows."""
    scored = load(spark, sf_dir, "documents").select(
        F.size(tokens("text")).cast("long").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    bounds = scored.agg(
        F.percentile(
            "score", F.array(*[F.lit(q / 10.0) for q in range(1, 10)])
        ).alias("b")
    )
    assigned = scored.crossJoin(F.broadcast(bounds)).select(
        "label",
        (
            F.lit(1)
            + F.size(
                F.filter(
                    F.col("b"), lambda x: F.col("score").cast("double") > x
                )
            )
        )
        .cast("int")
        .alias("decile"),
    )
    per_decile = assigned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("label").cast("long").alias("n_pos"),
    )
    tot = per_decile.agg(
        F.sum("n_docs").alias("n_all"), F.sum("n_pos").alias("pos_all")
    )
    w_cum = W.orderBy(F.col("decile").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        per_decile.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_docs",
            "n_pos",
            (F.col("n_pos").cast("double") / F.col("n_docs").cast("double")).alias(
                "pos_rate"
            ),
            (
                F.sum("n_pos").over(w_cum).cast("double")
                / F.col("pos_all").cast("double")
            ).alias("cum_capture"),
            (
                (F.col("n_pos").cast("double") / F.col("n_docs").cast("double"))
                / (F.col("pos_all").cast("double") / F.col("n_all").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("decile").desc())
    )


@register(
    "roc_auc_exact",
    ops=("A1", "W2", "A5", "O1"),
    oracle=f"""
        WITH scored AS (
            SELECT CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                        t -> t <> '')) AS BIGINT) AS score,
                   CAST(lang = 'en' AS INT) AS label
            FROM documents
        ), per_score AS (
            SELECT score,
                   CAST(SUM(label) AS BIGINT) AS n_pos,
                   CAST(SUM(1 - label) AS BIGINT) AS n_neg
            FROM scored GROUP BY score
        ), walked AS (
            SELECT score, n_pos, n_neg,
                   COALESCE(SUM(n_neg) OVER (ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_neg_below
            FROM per_score
        ), sums AS (
            SELECT CAST(SUM(n_pos) AS BIGINT) AS p,
                   CAST(SUM(n_neg) AS BIGINT) AS n,
                   SUM(CAST(n_pos AS HUGEINT) * cum_neg_below) AS concordant2,
                   SUM(CAST(n_pos AS HUGEINT) * n_neg) AS tied
            FROM walked
        )
        SELECT p AS n_positives, n AS n_negatives,
               (CAST(concordant2 AS DOUBLE) + 0.5 * CAST(tied AS DOUBLE))
                   / (CAST(p AS DOUBLE) * CAST(n AS DOUBLE)) AS auc
        FROM sums
    """,
)
def roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC via the Mann-Whitney pair count: AUC =
    (concordant pairs + half the score-tied pairs) / (P*N), computed
    from per-score positive/negative counts and a cumulative sum over
    the DISTINCT-score axis — never over rows. Everything before the
    final division is BIGINT, so the statistic (the one every
    quality-classifier gate reports) hash-matches exactly, ties
    handled by the standard 0.5 credit.

    Scale: one grouped count per distinct score (map-side combined),
    then a window over the distinct-score table — bounded by score
    cardinality, not corpus size (an unbounded-score deployment first
    quantizes scores through the histogram sketch, same arithmetic).
    Score = token count, label = lang='en', as in decile_lift_table."""
    scored = load(spark, sf_dir, "documents").select(
        F.size(tokens("text")).cast("long").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    per_score = scored.groupBy("score").agg(
        F.sum("label").cast("long").alias("n_pos"),
        F.sum(1 - F.col("label")).cast("long").alias("n_neg"),
    )
    w = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    walked = per_score.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0)).alias("cum_neg_below"),
    )
    return walked.agg(
        F.sum("n_pos").cast("long").alias("n_positives"),
        F.sum("n_neg").cast("long").alias("n_negatives"),
        (
            (
                # pair counts are ~P*N — DECIMAL(38,0) accumulation
                # (HUGEINT in the oracle): BIGINT overflows past ~1e9
                # positives x 1e10 negatives
                F.sum(
                    F.col("n_pos").cast("decimal(38,0)") * F.col("cum_neg_below")
                ).cast("double")
                + F.lit(0.5)
                * F.sum(F.col("n_pos").cast("decimal(38,0)") * F.col("n_neg")).cast(
                    "double"
                )
            )
            / (
                F.sum("n_pos").cast("double") * F.sum("n_neg").cast("double")
            )
        ).alias("auc"),
    )


@register(
    "metric_tree_decomposition",
    ops=("A1", "A3", "J3", "O1"),
    oracle="""
        WITH per AS (
            SELECT c.c_mktsegment,
                   CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS yr,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS rev_units
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE EXTRACT(year FROM o.o_orderdate) IN (1998, 1999)
            GROUP BY c.c_mktsegment, EXTRACT(year FROM o.o_orderdate)
        ), wide AS (
            SELECT c_mktsegment,
                   CAST(COALESCE(MAX(CASE WHEN yr = 1998 THEN n END), 0) AS BIGINT) AS n1,
                   CAST(COALESCE(MAX(CASE WHEN yr = 1998 THEN rev_units END), 0) AS BIGINT) AS r1,
                   CAST(COALESCE(MAX(CASE WHEN yr = 1999 THEN n END), 0) AS BIGINT) AS n2,
                   CAST(COALESCE(MAX(CASE WHEN yr = 1999 THEN rev_units END), 0) AS BIGINT) AS r2
            FROM per GROUP BY c_mktsegment
        )
        SELECT c_mktsegment,
               CAST(r2 - r1 AS DOUBLE) / 100.0 AS delta_revenue,
               CASE WHEN n1 = 0 THEN CAST(r2 AS DOUBLE) / 100.0
                    ELSE (CAST(n2 - n1 AS DOUBLE) * (CAST(r1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
                         / 100.0 END AS volume_effect,
               CASE WHEN n1 = 0 OR n2 = 0 THEN 0.0
                    ELSE (CAST(n2 AS DOUBLE)
                          * (CAST(r2 AS DOUBLE) / CAST(n2 AS DOUBLE)
                             - CAST(r1 AS DOUBLE) / CAST(n1 AS DOUBLE))) / 100.0
               END AS rate_effect
        FROM wide
        ORDER BY c_mktsegment
    """,
)
def metric_tree_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-tree decomposition of the 1998->1999 revenue change per
    market segment: delta = volume effect ((n2-n1) * old avg order
    value) + rate effect (n2 * change in avg order value) — the
    analytics-engineering drill-down that turns "revenue moved" into
    "how much was order count vs order size". The identity holds
    exactly: both effects derive from the same BIGINT (count, unit
    sum) pairs, and the decomposition arithmetic is the identical
    IEEE expression on both engines (degenerate empty-year segments
    get the documented conventions).

    Scale: one fact-dim join, one (segment, year) aggregate with
    map-side combine, then arithmetic on a segments-sized table."""
    per = (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1998, 1999))
        .select(
            "o_custkey",
            F.year("o_orderdate").cast("int").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("ru"),
        )
        .join(
            load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "yr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ru").alias("rev_units"),
        )
    )
    wide = per.groupBy("c_mktsegment").agg(
        F.coalesce(F.max(F.when(F.col("yr") == 1998, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n1"),
        F.coalesce(F.max(F.when(F.col("yr") == 1998, F.col("rev_units"))), F.lit(0))
        .cast("long")
        .alias("r1"),
        F.coalesce(F.max(F.when(F.col("yr") == 1999, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("n2"),
        F.coalesce(F.max(F.when(F.col("yr") == 1999, F.col("rev_units"))), F.lit(0))
        .cast("long")
        .alias("r2"),
    )
    avg1 = F.col("r1").cast("double") / F.col("n1").cast("double")
    avg2 = F.col("r2").cast("double") / F.col("n2").cast("double")
    volume = F.when(
        F.col("n1") == 0, F.col("r2").cast("double") / 100.0
    ).otherwise(
        (F.col("n2") - F.col("n1")).cast("double") * avg1 / 100.0
    )
    # degenerate segments (a year with zero orders) put the whole
    # delta in the volume term; rate needs both years' averages
    rate = F.when(
        (F.col("n1") == 0) | (F.col("n2") == 0), F.lit(0.0)
    ).otherwise(F.col("n2").cast("double") * (avg2 - avg1) / 100.0)
    return wide.select(
        "c_mktsegment",
        ((F.col("r2") - F.col("r1")).cast("double") / 100.0).alias("delta_revenue"),
        volume.alias("volume_effect"),
        rate.alias("rate_effect"),
    ).orderBy("c_mktsegment")


@register(
    "laspeyres_price_index",
    ops=("A1", "J2", "P3", "O1"),
    oracle="""
        WITH yr AS (
            SELECT l.l_partkey,
                   CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS y,
                   CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                       AS spend_units
            FROM lineitem l
            WHERE EXTRACT(year FROM l.l_shipdate) IN (1998, 1999)
            GROUP BY l.l_partkey, EXTRACT(year FROM l.l_shipdate)
        ), wide AS (
            SELECT l_partkey,
                   MAX(CASE WHEN y = 1998 THEN q END) AS q1,
                   MAX(CASE WHEN y = 1998 THEN spend_units END) AS s1,
                   MAX(CASE WHEN y = 1999 THEN spend_units END) AS s2,
                   MAX(CASE WHEN y = 1999 THEN q END) AS q2
            FROM yr GROUP BY l_partkey
            HAVING MAX(CASE WHEN y = 1998 THEN q END) IS NOT NULL
               AND MAX(CASE WHEN y = 1999 THEN q END) IS NOT NULL
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_common_parts,
               CAST(SUM(CAST(floor(CAST(s2 AS DOUBLE) / CAST(q2 AS DOUBLE)
                        * CAST(q1 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                   / CAST(SUM(CAST(floor(CAST(s1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                        * CAST(q1 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                   AS laspeyres_index
        FROM wide
    """,
)
def laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index, 1999 vs 1998 base: the base year's
    quantity basket repriced at each year's average unit price
    (spend/quantity per part), over parts traded in BOTH years — the
    index-number construction behind every inflation / pricing
    dashboard. Each per-part basket term is an IEEE expression over
    exact integers, then QUANTIZED to integer micro-units before
    summation (a raw SUM of doubles is partition-order-dependent; the
    quantized sums are associative BIGINTs, the engine's standard
    fixed-point discipline), so the index hash-matches the oracle.

    Scale: one (part, year) aggregate, a per-part pivot, and a 1-row
    combine. The common-parts HAVING is the index's domain rule."""
    yr = (
        load(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate").isin(1998, 1999))
        .select(
            "l_partkey",
            F.year("l_shipdate").cast("int").alias("y"),
            F.round(F.col("l_quantity")).cast("long").alias("qv"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("su"),
        )
        .groupBy("l_partkey", "y")
        .agg(F.sum("qv").alias("q"), F.sum("su").alias("spend_units"))
    )
    wide = (
        yr.groupBy("l_partkey")
        .agg(
            F.max(F.when(F.col("y") == 1998, F.col("q"))).alias("q1"),
            F.max(F.when(F.col("y") == 1998, F.col("spend_units"))).alias("s1"),
            F.max(F.when(F.col("y") == 1999, F.col("spend_units"))).alias("s2"),
            F.max(F.when(F.col("y") == 1999, F.col("q"))).alias("q2"),
        )
        .filter(F.col("q1").isNotNull() & F.col("q2").isNotNull())
    )
    num_term = F.col("s2").cast("double") / F.col("q2").cast("double") * F.col(
        "q1"
    ).cast("double")
    den_term = F.col("s1").cast("double") / F.col("q1").cast("double") * F.col(
        "q1"
    ).cast("double")
    # quantize each per-part term to integer micro-units so the two
    # basket totals are order-independent BIGINT sums (raw double SUMs
    # would differ in ulps between Spark's partials and the oracle)
    numq = F.floor(num_term * 1_000_000 + 0.5).cast("long")
    denq = F.floor(den_term * 1_000_000 + 0.5).cast("long")
    return wide.agg(
        F.count(F.lit(1)).cast("long").alias("n_common_parts"),
        (F.sum(numq).cast("double") / F.sum(denq).cast("double")).alias(
            "laspeyres_index"
        ),
    )


@register(
    "abc_inventory_classification",
    ops=("A1", "W1", "J1", "P8", "O1"),
    oracle="""
        WITH per_part AS (
            SELECT l_partkey,
                   SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100)
                       AS BIGINT)) AS r
            FROM lineitem GROUP BY l_partkey
        ), ranked AS (
            SELECT l_partkey, r,
                   SUM(r) OVER (ORDER BY r DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r,
                   SUM(r) OVER () AS total_r
            FROM per_part
        ), classed AS (
            SELECT CASE WHEN cum_r * 10 <= total_r * 8 THEN 'A'
                        WHEN cum_r * 100 <= total_r * 95 THEN 'B'
                        ELSE 'C' END AS abc_class,
                   r
            FROM ranked
        )
        SELECT abc_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(r) AS DOUBLE) / 100.0 AS class_revenue,
               CAST(SUM(r) AS DOUBLE)
                   / CAST((SELECT SUM(r) FROM per_part) AS DOUBLE)
                   AS revenue_share
        FROM classed
        GROUP BY abc_class
        ORDER BY abc_class
    """,
)
def abc_inventory_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC analysis: parts ranked by revenue, classed A while the
    running total stays within 80% of revenue, B to 95%, else C — the
    inventory-prioritization workhorse. Class cuts are cross-
    multiplied integers (cum*10 <= total*8), so no float boundary can
    reclassify a part; the running total reuses the two-phase
    range-bucket pattern on the Spark side (the oracle's global
    window is the small-scale shortcut this engine avoids).

    Scale: one partkey aggregate, then the bucketed prefix-sum over
    revenue ranges — per-bucket windows in parallel, carry-ins from a
    metadata-scale prefix, same machinery as lorenz_gini_revenue."""
    per_part = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("long")
            .alias("ru"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("ru").alias("r"))
    )
    rows = per_part.withColumn(
        "bucket", (-F.floor(F.col("r") / F.lit(_GINI_BUCKET_W))).cast("long")
    )  # negative bucket of revenue: ascending bucket = descending revenue
    counts = rows.groupBy("bucket").agg(F.sum("r").alias("bsum"))
    w_off = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("bsum").over(w_off), F.lit(0)).cast("long").alias("carry"),
    )
    w_in = (
        W.partitionBy("bucket")
        .orderBy(F.col("r").desc(), "l_partkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    total = per_part.agg(F.sum("r").alias("total_r"))
    ranked = (
        rows.join(F.broadcast(offsets), "bucket")
        .withColumn("cum_r", F.col("carry") + F.sum("r").over(w_in))
        .crossJoin(F.broadcast(total))
    )
    abc = (
        F.when(F.col("cum_r") * 10 <= F.col("total_r") * 8, "A")
        .when(F.col("cum_r") * 100 <= F.col("total_r") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.groupBy(abc.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            (F.sum("r").cast("double") / 100.0).alias("class_revenue"),
            (F.sum("r").cast("double") / F.max("total_r").cast("double")).alias(
                "revenue_share"
            ),
        )
        .orderBy("abc_class")
    )


@register(
    "orders_backlog_aging",
    ops=("A1", "A5", "P7", "P8", "O1"),
    oracle="""
        WITH horizon AS (
            SELECT MAX(o_orderdate) AS t_max FROM orders
        ), open_orders AS (
            SELECT o.o_orderstatus,
                   date_diff('day', o.o_orderdate, h.t_max) AS age_days,
                   CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS pu
            FROM orders o CROSS JOIN horizon h
            WHERE o.o_orderstatus IN ('O', 'P')
        )
        SELECT CASE WHEN age_days <= 30 THEN '0-30'
                    WHEN age_days <= 90 THEN '31-90'
                    WHEN age_days <= 365 THEN '91-365'
                    ELSE '365+' END AS age_bucket,
               o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(pu) AS DOUBLE) / 100.0 AS backlog_value
        FROM open_orders
        GROUP BY 1, o_orderstatus
        ORDER BY age_bucket, o_orderstatus
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog aging: open/partial orders bucketed by days outstanding
    relative to the dataset horizon, with the money at stake per
    bucket — the operations aging report (AR/fulfillment dashboards).
    Ages are integer day diffs against a 1-row broadcast horizon;
    bucket edges are integer compares.

    Scale: status filter pushes to the scan; per-row age math; one
    bounded-cardinality rollup. The horizon scalar is the standard
    broadcast crossJoin, never a driver round-trip."""
    horizon = load(spark, sf_dir, "orders").agg(
        F.max("o_orderdate").alias("t_max")
    )
    open_orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("O", "P"))
        .crossJoin(F.broadcast(horizon))
        .select(
            "o_orderstatus",
            F.datediff("t_max", "o_orderdate").alias("age_days"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pu"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 365, "91-365")
        .otherwise("365+")
    )
    return (
        open_orders.groupBy(bucket.alias("age_bucket"), "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum("pu").cast("double") / 100.0).alias("backlog_value"),
        )
        .orderBy("age_bucket", "o_orderstatus")
    )


@register(
    "two_sample_tstat",
    ops=("A1", "A3", "O1"),
    oracle="""
        WITH u AS (
            SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 'high' ELSE 'low' END AS grp,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pu
            FROM orders
        ), s AS (
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(pu) AS BIGINT) AS s1,
                   SUM(CAST(pu AS HUGEINT) * pu) AS s2
            FROM u GROUP BY grp
        ), wide AS (
            SELECT MAX(CASE WHEN grp = 'high' THEN n END) AS na,
                   MAX(CASE WHEN grp = 'high' THEN s1 END) AS sa,
                   MAX(CASE WHEN grp = 'high' THEN s2 END) AS qa,
                   MAX(CASE WHEN grp = 'low' THEN n END) AS nb,
                   MAX(CASE WHEN grp = 'low' THEN s1 END) AS sb,
                   MAX(CASE WHEN grp = 'low' THEN s2 END) AS qb
            FROM s
        )
        SELECT CAST(na AS BIGINT) AS n_high, CAST(nb AS BIGINT) AS n_low,
               (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0 AS mean_diff,
               ((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
                - (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))
               / sqrt(
                   ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                         / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0))
                       / CAST(na AS DOUBLE)
                   + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                         / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0))
                       / CAST(nb AS DOUBLE)
               ) AS welch_t
        FROM wide
    """,
)
def two_sample_tstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic: do high-priority orders carry a
    different average value than the rest? — the hypothesis-testing
    companion to ab_test_lift (which reports rates; this tests a
    continuous metric). Sample variances come from exact wide-integer
    moments (BIGINT sum; DECIMAL(38,0) sum-of-squares — BIGINT
    overflows past ~1e5 orders, caught by the sf1 sweep), and the t
    expression is the identical IEEE sequence on both engines (sqrt is
    correctly rounded per IEEE-754), so even the test statistic
    hash-matches.

    Scale: one conditional aggregate pass (both groups' moments in the
    same scan, map-side combined), then scalar arithmetic on a 1-row
    frame."""
    u = load(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
        )
        .otherwise("low")
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pu"),
    )
    s = u.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pu").alias("s1"),
        # sum of squared cents overflows BIGINT past ~1e5 orders (pu^2
        # ~ 1e15 each); DECIMAL(38,0) keeps the moment exact to 1e38 —
        # the DuckDB twin uses HUGEINT, same exact integer, same double
        F.sum(F.col("pu").cast("decimal(38,0)") * F.col("pu")).alias("s2"),
    )
    wide = s.agg(
        F.max(F.when(F.col("grp") == "high", F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == "high", F.col("s1"))).alias("sa"),
        F.max(F.when(F.col("grp") == "high", F.col("s2"))).alias("qa"),
        F.max(F.when(F.col("grp") == "low", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == "low", F.col("s1"))).alias("sb"),
        F.max(F.when(F.col("grp") == "low", F.col("s2"))).alias("qb"),
    )
    na, sa, qa = (F.col(c).cast("double") for c in ("na", "sa", "qa"))
    nb, sb, qb = (F.col(c).cast("double") for c in ("nb", "sb", "qb"))
    mean_diff = sa / na - sb / nb
    var_a = (qa - sa * sa / na) / (na - F.lit(1.0))
    var_b = (qb - sb * sb / nb) / (nb - F.lit(1.0))
    return wide.select(
        F.col("na").cast("long").alias("n_high"),
        F.col("nb").cast("long").alias("n_low"),
        (mean_diff / F.lit(100.0)).alias("mean_diff"),
        ((sa / na - sb / nb) / F.sqrt(var_a / na + var_b / nb)).alias("welch_t"),
    )


@register(
    "weighted_median_per_group",
    ops=("A1", "W2", "A4"),
    oracle="""
        WITH u AS (
            SELECT l_returnflag,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pu,
                   CAST(ROUND(l_quantity) AS BIGINT) AS w
            FROM lineitem
        ), byval AS (
            SELECT l_returnflag, pu, CAST(SUM(w) AS BIGINT) AS w
            FROM u GROUP BY l_returnflag, pu
        ), cum AS (
            SELECT l_returnflag, pu, w,
                   CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY pu) AS BIGINT) AS cw,
                   CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
            FROM byval
        )
        SELECT l_returnflag,
               MIN(tot) AS total_weight,
               CAST(MIN(CASE WHEN 2 * cw >= tot THEN pu END) AS DOUBLE) / 100.0
                   AS weighted_median_price
        FROM cum GROUP BY l_returnflag
    """,
)
def weighted_median_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag — the
    lower weighted median: the smallest price at which the running
    quantity mass reaches half the group total. Unlike
    percentile_exact_median (per-ROW interpolated percentiles) every
    row here counts with its physical weight, the form inventory and
    market-microstructure medians need. Pure integer cumsum
    comparison — no interpolation arithmetic at all.

    Measured rejection, do not retry (r12, VERDICT r11 #4): the
    two-phase range-bucketed cumsum (global_rank_range_partitioned's
    pattern — 50k-unit price buckets, metadata offsets broadcast back,
    within-bucket windows at full parallelism) benched **0.79x/0.86x**
    in both interleaved arm orders at sf0.1, and 0.84x with phase-1
    checkpointed to kill its double evaluation; the 3-task sort is not
    this query's wall, while the extra exchange + metadata branch +
    broadcast join are real costs (runs in tools_r12_ab.py `wm` at
    commit ba0d9f5; tests/test_r12_optimizations.py pinned the
    equivalence while the draft lived). The at-scale exposure is also
    BOUNDED, not open: the window partition is distinct PRICE UNITS per
    flag, capped by the ~10.4M-value price domain at ANY corpus size,
    so the hot partition tops out near 10M rows per flag — a big sort
    task, not a corpus-sized one.

    Scale: values pre-aggregate per (group, price) — the cardinality
    cap that makes the running window safe (its partition is distinct
    PRICES, not rows); one shuffle on the group key serves the
    running sum, the group total, and the final min-filter."""
    u = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pu"),
        F.round("l_quantity").cast("long").alias("w"),
    )
    byval = u.groupBy("l_returnflag", "pu").agg(F.sum("w").cast("long").alias("w"))
    w_cum = W.partitionBy("l_returnflag").orderBy("pu")
    w_tot = W.partitionBy("l_returnflag")
    cum = byval.select(
        "l_returnflag",
        "pu",
        F.sum("w").over(w_cum).cast("long").alias("cw"),
        F.sum("w").over(w_tot).cast("long").alias("tot"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min("tot").alias("total_weight"),
        (
            F.min(F.when(2 * F.col("cw") >= F.col("tot"), F.col("pu"))).cast("double")
            / F.lit(100.0)
        ).alias("weighted_median_price"),
    )


@register(
    "fisher_price_index",
    ops=("A1", "J2", "P3", "A3"),
    oracle="""
        WITH yr AS (
            SELECT l.l_partkey,
                   CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS y,
                   CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                       AS spend_units
            FROM lineitem l
            WHERE EXTRACT(year FROM l.l_shipdate) IN (1998, 1999)
            GROUP BY l.l_partkey, EXTRACT(year FROM l.l_shipdate)
        ), wide AS (
            SELECT l_partkey,
                   MAX(CASE WHEN y = 1998 THEN q END) AS q1,
                   MAX(CASE WHEN y = 1998 THEN spend_units END) AS s1,
                   MAX(CASE WHEN y = 1999 THEN spend_units END) AS s2,
                   MAX(CASE WHEN y = 1999 THEN q END) AS q2
            FROM yr GROUP BY l_partkey
            HAVING MAX(CASE WHEN y = 1998 THEN q END) IS NOT NULL
               AND MAX(CASE WHEN y = 1999 THEN q END) IS NOT NULL
        ), sums AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_common_parts,
                   CAST(SUM(CAST(floor(CAST(s2 AS DOUBLE) / CAST(q2 AS DOUBLE)
                        * CAST(q1 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS p2q1,
                   CAST(SUM(CAST(floor(CAST(s1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                        * CAST(q1 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS p1q1,
                   CAST(SUM(CAST(floor(CAST(s2 AS DOUBLE) / CAST(q2 AS DOUBLE)
                        * CAST(q2 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS p2q2,
                   CAST(SUM(CAST(floor(CAST(s1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                        * CAST(q2 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS p1q2
            FROM wide
        )
        SELECT n_common_parts,
               CAST(p2q1 AS DOUBLE) / CAST(p1q1 AS DOUBLE) AS laspeyres_index,
               CAST(p2q2 AS DOUBLE) / CAST(p1q2 AS DOUBLE) AS paasche_index,
               sqrt((CAST(p2q1 AS DOUBLE) / CAST(p1q1 AS DOUBLE))
                    * (CAST(p2q2 AS DOUBLE) / CAST(p1q2 AS DOUBLE))) AS fisher_index
        FROM sums
    """,
)
def fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full index-number triad, 1999 vs 1998: Laspeyres (base-year
    basket — overstates inflation under substitution), Paasche
    (current-year basket — understates it), and Fisher's ideal index,
    their geometric mean — the bias-bracketing construction a pricing
    team reads together. Same quantized micro-unit discipline as
    laspeyres_price_index (each basket term rounds to integer units
    BEFORE the order-free BIGINT sum); the three ratios and the sqrt
    are a fixed tree of exactly-rounded ops.

    Scale: identical plan to the Laspeyres query — one (part, year)
    aggregate, per-part pivot, 1-row combine — just four basket sums
    instead of two."""
    yr = (
        load(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate").isin(1998, 1999))
        .select(
            "l_partkey",
            F.year("l_shipdate").cast("int").alias("y"),
            F.round(F.col("l_quantity")).cast("long").alias("qv"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("su"),
        )
        .groupBy("l_partkey", "y")
        .agg(F.sum("qv").alias("q"), F.sum("su").alias("spend_units"))
    )
    wide = (
        yr.groupBy("l_partkey")
        .agg(
            F.max(F.when(F.col("y") == 1998, F.col("q"))).alias("q1"),
            F.max(F.when(F.col("y") == 1998, F.col("spend_units"))).alias("s1"),
            F.max(F.when(F.col("y") == 1999, F.col("spend_units"))).alias("s2"),
            F.max(F.when(F.col("y") == 1999, F.col("q"))).alias("q2"),
        )
        .filter(F.col("q1").isNotNull() & F.col("q2").isNotNull())
    )
    p1 = F.col("s1").cast("double") / F.col("q1").cast("double")
    p2 = F.col("s2").cast("double") / F.col("q2").cast("double")

    def quant(term):
        return F.floor(term * 1_000_000 + 0.5).cast("long")

    sums = wide.agg(
        F.count(F.lit(1)).cast("long").alias("n_common_parts"),
        F.sum(quant(p2 * F.col("q1").cast("double"))).cast("long").alias("p2q1"),
        F.sum(quant(p1 * F.col("q1").cast("double"))).cast("long").alias("p1q1"),
        F.sum(quant(p2 * F.col("q2").cast("double"))).cast("long").alias("p2q2"),
        F.sum(quant(p1 * F.col("q2").cast("double"))).cast("long").alias("p1q2"),
    )
    lasp = F.col("p2q1").cast("double") / F.col("p1q1").cast("double")
    paas = F.col("p2q2").cast("double") / F.col("p1q2").cast("double")
    return sums.select(
        "n_common_parts",
        lasp.alias("laspeyres_index"),
        paas.alias("paasche_index"),
        F.sqrt(lasp * paas).alias("fisher_index"),
    )


# ---------------------------------------------------------------------------
# Score-calibration reliability diagram + expected calibration error
# ---------------------------------------------------------------------------

_ECE_BINS = 10  # fixed-width confidence bins over [0, 1]


@register(
    "calibration_reliability_ece",
    ops=("A1", "A5", "P8"),
    oracle=f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len(list_distinct({sql_tokens()})) AS BIGINT) AS n_dist,
                   CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens
            FROM documents
        ), f AS (
            SELECT doc_id, n_tokens, (10000 * n_dist) // n_tokens AS score_bp
            FROM base WHERE n_tokens > 0
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
            FROM f
        ), labeled AS (
            SELECT least(score_bp // 1000, 9) AS bin, score_bp,
                   CASE WHEN f.n_tokens * t.n_all > t.total_tokens
                        THEN 1 ELSE 0 END AS pos
            FROM f CROSS JOIN tot t
        ), bins AS (
            SELECT CAST(bin AS INT) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS n_pos,
                   CAST(SUM(score_bp) AS BIGINT) AS sum_bp
            FROM labeled GROUP BY bin
        ), gaps AS (
            SELECT bin, n, n_pos,
                   CAST(sum_bp AS DOUBLE) / (10000.0 * CAST(n AS DOUBLE))
                       AS conf,
                   CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
                   abs(10000 * n_pos - sum_bp) AS gap_num
            FROM bins
        ), tot2 AS (
            SELECT CAST(SUM(gap_num) AS BIGINT) AS gap_total,
                   CAST(SUM(n) AS BIGINT) AS n_all
            FROM gaps
        )
        SELECT g.bin, g.n, g.n_pos, g.conf, g.acc,
               CAST(g.gap_num AS DOUBLE) / (10000.0 * CAST(g.n AS DOUBLE))
                   AS abs_gap,
               CAST(t.gap_total AS DOUBLE)
                   / (10000.0 * CAST(t.n_all AS DOUBLE)) AS ece
        FROM gaps g CROSS JOIN tot2 t
    """,
)
def calibration_reliability_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error of a quality
    score against a binary outcome — the calibration check every
    learned quality/toxicity filter needs before its scores gate a
    corpus. Here the score is each doc's distinct-token ratio in
    integer basis points (the lexical-diversity signal) and the
    outcome is "longer than the corpus mean" (exact integer
    cross-multiply n_tokens*N > total_tokens — no float compare).
    ECE stays hash-exact because every |accuracy - confidence| gap is
    the integer |10000*n_pos - sum_bp| over a common denominator:
    the only doubles are final single divisions, and the cross-bin
    ECE sum happens on INTEGER numerators (order-free), never on
    accumulated floats.

    Scale: one shuffle on the 10-way bin key after a broadcast of the
    one-row corpus totals; the scalar ECE joins back through a
    broadcast of the one-row global gap sum (both BNLJ sides are
    global aggregates — the plan-audit bound)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    base = docs.select(
        "doc_id",
        F.size(F.array_distinct(toks)).cast("long").alias("n_dist"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    f = base.filter(F.col("n_tokens") > 0).withColumn(
        "score_bp", F.expr("(10000 * n_dist) DIV n_tokens")
    )
    tot = f.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    labeled = f.crossJoin(F.broadcast(tot)).select(
        F.least(F.expr("score_bp DIV 1000"), F.lit(9)).alias("bin"),
        "score_bp",
        F.when(
            F.col("n_tokens") * F.col("n_all") > F.col("total_tokens"), 1
        )
        .otherwise(0)
        .alias("pos"),
    )
    bins = labeled.groupBy(F.col("bin").cast("int").alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("score_bp").cast("long").alias("sum_bp"),
    )
    gaps = bins.select(
        "bin",
        "n",
        "n_pos",
        (
            F.col("sum_bp").cast("double")
            / (F.lit(10000.0) * F.col("n").cast("double"))
        ).alias("conf"),
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias("acc"),
        F.abs(F.lit(10000) * F.col("n_pos") - F.col("sum_bp")).alias("gap_num"),
    )
    tot2 = gaps.agg(
        F.sum("gap_num").cast("long").alias("gap_total"),
        F.sum("n").cast("long").alias("n_all"),
    )
    return gaps.crossJoin(F.broadcast(tot2)).select(
        "bin",
        "n",
        "n_pos",
        "conf",
        "acc",
        (
            F.col("gap_num").cast("double")
            / (F.lit(10000.0) * F.col("n").cast("double"))
        ).alias("abs_gap"),
        (
            F.col("gap_total").cast("double")
            / (F.lit(10000.0) * F.col("n_all").cast("double"))
        ).alias("ece"),
    )


# ---------------------------------------------------------------------------
# Exact triangle counting over the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "triangle_count_copurchase",
    ops=("J2", "A1", "A6"),
    oracle="""
        WITH io AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ), e AS (
            SELECT DISTINCT a.p AS a, b.p AS b
            FROM io a JOIN io b ON a.o = b.o AND a.p < b.p
        ), tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ), roles AS (
            SELECT x AS part_id FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ), deg AS (
            SELECT v AS part_id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
            GROUP BY v
        )
        SELECT r.part_id, d.degree, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM roles r JOIN deg d USING (part_id)
        GROUP BY r.part_id, d.degree
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting on the co-purchase graph (parts are
    vertices; an edge joins two parts that appear in the same order)
    — the graph-motif primitive behind clustering coefficients and
    community density. Output: every part in at least one triangle,
    with its undirected degree and triangle participation count. All
    values are integer counts — engine-exact by construction.

    Scale: this is the degree-ordered orientation + adjacency-
    intersection algorithm, not the oracle's naive triple self-join.
    Each edge is directed from its lower (degree, id) endpoint, so
    every out-adjacency list is bounded by ~sqrt(2m) regardless of
    hub degree — the classic wedge-explosion bound — and each
    triangle materializes exactly once, at its (smallest, middle)
    edge, as one element of array_intersect(adj+(u), adj+(v)). Work
    is sum over edges of the two out-lists' sizes (= twice the wedge
    count, the algorithm's lower bound); the only wide rows are the
    m adjacency-carrying edges, never the wedge set itself.

    Reference shape: Suri & Vassilvitskii, "Counting Triangles and
    the Curse of the Last Reducer" (WWW'11).

    Each reused stage (edges, degrees, oriented edges, adjacency) is
    an eager localCheckpoint: the DAG consumes every stage several
    times, and without the barrier Catalyst re-inlines the whole
    upstream subplan at each reuse (the static plan grows
    multiplicatively); the barrier makes each stage compute once —
    the same lineage-truncation rationale as connected_components.

    r11 rewrite, both halves measured (guide §2.3/§2.4): (a) edge
    generation collects each order's distinct parts into one sorted
    array and expands i<j pairs IN-ROW — one shuffle on o with
    map-side-combined collect_set, replacing the (o,p)-distinct
    exchange + self-join + io checkpoint (parts-per-order is small
    and bounded, the safe regime for group-expansion per the
    lsh_candidates measurement); (b) the triangle relation is never
    materialized — each oriented edge emits weighted contributions
    (src, m), (dst, m) and (w, 1) for the m = |adj+(src) ∩ adj+(dst)|
    closing vertices, so the per-part aggregate reads 2E + T rows
    once instead of checkpointing 3T role rows and reading them three
    times (the old tri checkpoint was ~0.5 GB at sf0.1, the query's
    dominant I/O)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    grp = li.groupBy("o").agg(F.array_sort(F.collect_set("p")).alias("ps"))
    np_ = F.size("ps")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), np_ - 1),
            lambda i: F.transform(
                F.sequence(i + 1, np_),
                lambda j: F.struct(
                    F.element_at(F.col("ps"), i).alias("a"),
                    F.element_at(F.col("ps"), j).alias("b"),
                ),
            ),
        )
    )
    e = (
        grp.filter(np_ >= 2)  # sequence(1, 0) runs DESCENDING — guard it out
        .select(F.explode(pair_structs).alias("pr"))
        .select("pr.a", "pr.b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .localCheckpoint(eager=True)
    )
    da = deg.select(F.col("v").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("degree").alias("deg_b"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint(eager=True)
    adj = (
        oriented.groupBy(F.col("src").alias("v"))
        .agg(F.collect_list("dst").alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    # One-row explode = Generate barrier (the corpus_curation gate
    # pattern): the adjacency intersection is the query's CPU, and
    # referencing it from the filter AND the weighted fan-out would
    # evaluate it 2-3x per edge (measured 0.69x before the barrier).
    # Behind the Generate it is computed exactly once per edge.
    # At gate scale AQE coalesces both adjacency-join exchanges to a
    # handful of tasks, serializing the intersection (the query's
    # CPU) on them (r11 profile: 5.4 s over 6 tasks). When the fact
    # scan is narrow, pin the exchanges the joins need anyway at the
    # session's parallelism — repartition BY THE JOIN KEY between the
    # joins REPLACES each exchange (EnsureRequirements accepts the
    # pinned hashpartitioning), it adds none, and REPARTITION_BY_NUM
    # is exempt from AQE coalescing. Identity at real scale, where
    # the exchanges are byte-sized by AQE.
    pin = narrow(li, memo_key=sf_dir + ":lineitem")
    target = spark.sparkContext.defaultParallelism
    osp = oriented.repartition(target, F.col("src")) if pin else oriented
    half = osp.join(
        adj.select(F.col("v").alias("src"), F.col("nbrs").alias("nbrs_u")), "src"
    )
    if pin:
        half = half.repartition(target, F.col("dst"))
    edged = half.join(
        adj.select(F.col("v").alias("dst"), F.col("nbrs").alias("nbrs_v")), "dst"
    ).select(
        "src",
        "dst",
        F.explode(F.array(F.array_intersect("nbrs_u", "nbrs_v"))).alias("ws"),
    )
    m = F.size("ws").cast("long")
    contrib = (
        edged.filter(m > 0)
        .select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(F.col("src").alias("part_id"), m.alias("n")),
                        F.struct(F.col("dst").alias("part_id"), m.alias("n")),
                    ),
                    F.transform(
                        F.col("ws"),
                        lambda w: F.struct(
                            w.alias("part_id"), F.lit(1).cast("long").alias("n")
                        ),
                    ),
                )
            ).alias("c")
        )
        .select("c.part_id", "c.n")
    )
    return (
        contrib.groupBy("part_id")
        .agg(F.sum("n").cast("long").alias("n_triangles"))
        .join(deg.select(F.col("v").alias("part_id"), "degree"), "part_id")
        .select("part_id", "degree", "n_triangles")
    )


EQUI_DEPTH_BUCKETS = 8


@register(
    "equi_depth_histogram",
    ops=("W1", "W2", "A1"),
    oracle=f"""
        WITH ranked AS (
            SELECT o_orderpriority, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS rn,
                   COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM orders
        )
        SELECT o_orderpriority,
               CAST((rn - 1) * {EQUI_DEPTH_BUCKETS} // n AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(o_totalprice) AS lo,
               MAX(o_totalprice) AS hi
        FROM ranked
        GROUP BY o_orderpriority, (rn - 1) * {EQUI_DEPTH_BUCKETS} // n
    """,
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (the optimizer-statistics shape): per
    order priority, order totals split into 8 buckets holding equal
    ROW counts — boundaries land where the data is dense, unlike
    histogram_fixed_width's equal-value bins. Bucket assignment is
    pure integer rank arithmetic ((rn-1)*B DIV n), deterministic via
    the (price, orderkey) tie-break, so bucket populations and [lo,
    hi] fences are engine-exact with no interpolation anywhere.

    Scale: one shuffle on the partition key; the rank and the
    per-partition count share the same window partitioning (one
    Exchange, one sort). This is how engines build equi-depth column
    stats: a distributed sort per group, then fences at fixed ranks.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return (
        o.select(
            "o_orderpriority",
            "o_totalprice",
            F.expr(
                f"CAST((ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) - 1) "
                f"* {EQUI_DEPTH_BUCKETS} DIV COUNT(*) OVER (PARTITION BY o_orderpriority) AS INT)"
            ).alias("bucket"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


BRIDGE_Y0, BRIDGE_Y1 = 1997, 1998  # base / comparison shipping years


@register(
    "revenue_bridge_pvm",
    ops=("A3", "A1", "P8"),
    oracle=f"""
        WITH g AS (
            SELECT l_returnflag,
                   {sql_fixed_sum(f"CASE WHEN year(l_shipdate) = {BRIDGE_Y0} THEN l_extendedprice * (1 - l_discount) ELSE 0 END")} AS rev0,
                   {sql_fixed_sum(f"CASE WHEN year(l_shipdate) = {BRIDGE_Y1} THEN l_extendedprice * (1 - l_discount) ELSE 0 END")} AS rev1,
                   CAST(SUM(CASE WHEN year(l_shipdate) = {BRIDGE_Y0} THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty0,
                   CAST(SUM(CASE WHEN year(l_shipdate) = {BRIDGE_Y1} THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty1
            FROM lineitem
            WHERE year(l_shipdate) IN ({BRIDGE_Y0}, {BRIDGE_Y1})
            GROUP BY l_returnflag
        )
        SELECT l_returnflag, rev0, rev1, qty0, qty1,
               (rev0 / qty0) * (qty1 - qty0) AS volume_effect,
               (rev1 / qty1 - rev0 / qty0) * qty1 AS price_effect,
               rev1 - rev0 AS total_delta
        FROM g
    """,
)
def revenue_bridge_pvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume revenue bridge: for each return flag, decompose
    the year-over-year revenue change into a volume effect (base unit
    price x quantity change) and a price effect (unit-price change x
    current quantity) — the Laspeyres-volume / Paasche-price
    waterfall an FP&A bridge chart shows. The two effects sum EXACTLY
    to the revenue delta (p0*(q1-q0) + (p1-p0)*q1 = p1q1 - p0q0), so
    the decomposition is self-auditing.

    Exactness: revenues are fixed_sum (order-independent cent units),
    quantities integer; unit prices are one division each and the
    effects identical IEEE expressions on both engines.

    Scale: ONE scan of lineitem with conditional aggregates (no
    self-join of two period subqueries), one shuffle on the 3-value
    flag key; the bridge arithmetic is per-group scalar work.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_shipdate", "l_quantity", "l_extendedprice", "l_discount"
    )
    yr = F.year("l_shipdate")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    g = (
        li.filter(yr.isin(BRIDGE_Y0, BRIDGE_Y1))
        .groupBy("l_returnflag")
        .agg(
            fixed_sum(F.when(yr == BRIDGE_Y0, rev).otherwise(0.0)).alias("rev0"),
            fixed_sum(F.when(yr == BRIDGE_Y1, rev).otherwise(0.0)).alias("rev1"),
            F.sum(F.when(yr == BRIDGE_Y0, F.col("l_quantity").cast("long")).otherwise(0))
            .cast("long")
            .alias("qty0"),
            F.sum(F.when(yr == BRIDGE_Y1, F.col("l_quantity").cast("long")).otherwise(0))
            .cast("long")
            .alias("qty1"),
        )
    )
    p0 = F.col("rev0") / F.col("qty0")
    p1 = F.col("rev1") / F.col("qty1")
    return g.select(
        "l_returnflag",
        "rev0",
        "rev1",
        "qty0",
        "qty1",
        (p0 * (F.col("qty1") - F.col("qty0"))).alias("volume_effect"),
        ((p1 - p0) * F.col("qty1")).alias("price_effect"),
        (F.col("rev1") - F.col("rev0")).alias("total_delta"),
    )


QUANTILE_QS = (25, 50, 75, 90)  # percent points, exact rational positions


@register(
    "quantile_bands_per_group",
    ops=("W2", "A1", "A3"),
    oracle=f"""
        WITH ranked AS (
            SELECT o_orderpriority, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS rn,
                   COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM orders
        ), qs(q) AS (VALUES {", ".join(f"({q})" for q in QUANTILE_QS)})
        SELECT r.o_orderpriority, CAST(qs.q AS INT) AS q,
               MIN(CASE WHEN r.rn = (r.n - 1) * qs.q // 100 + 1 THEN r.o_totalprice END)
               + (MIN(CASE WHEN r.rn = least((r.n - 1) * qs.q // 100 + 2, r.n) THEN r.o_totalprice END)
                  - MIN(CASE WHEN r.rn = (r.n - 1) * qs.q // 100 + 1 THEN r.o_totalprice END))
                 * (CAST(MAX((r.n - 1) * qs.q % 100) AS DOUBLE) / 100.0) AS quantile_value
        FROM ranked r CROSS JOIN qs
        GROUP BY r.o_orderpriority, qs.q
    """,
)
def quantile_bands_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantile bands (percentile_cont semantics)
    per order priority: p25/p50/p75/p90 of order totals, computed from
    rank positions — position (n-1)*q/100 splits into an integer index
    and a rational fraction, and the value interpolates linearly
    between the two bracketing order statistics. Every step is integer
    arithmetic until ONE final (frac/100) multiply, and both
    bracketing values are selected by exact rank equality, so the
    result is engine-identical without trusting any built-in
    percentile implementation's interpolation convention.

    Scale: one shuffle on the group key; rank + count share the
    window partitioning, and the quantile probe rides the same
    aggregate (conditional MIN at two exact ranks per q) — no second
    sort, no per-quantile pass, no collect. The q dimension is a
    4-row constant explode.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    w = W.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number()
        .over(w.orderBy("o_totalprice", "o_orderkey"))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    qs = F.array(*[F.lit(q) for q in QUANTILE_QS])
    e = ranked.select("*", F.explode(qs).alias("q"))
    lo_rn = F.expr("(n - 1) * q DIV 100 + 1")
    hi_rn = F.least(F.expr("(n - 1) * q DIV 100 + 2"), F.col("n"))
    frac = (F.expr("(n - 1) * q % 100").cast("double") / F.lit(100.0))
    lo_v = F.min(F.when(F.col("rn") == lo_rn, F.col("o_totalprice")))
    hi_v = F.min(F.when(F.col("rn") == hi_rn, F.col("o_totalprice")))
    return (
        e.groupBy("o_orderpriority", "q")
        .agg((lo_v + (hi_v - lo_v) * F.max(frac)).alias("quantile_value"))
        .select(
            "o_orderpriority", F.col("q").cast("int").alias("q"), "quantile_value"
        )
    )


@register(
    "share_of_parent_rollup",
    ops=("J1", "A1", "W2"),
    oracle="""
        WITH nat AS (
            SELECT r.r_name AS region_name, n.n_name AS nation_name,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        ), shared AS (
            SELECT region_name, nation_name, cents,
                   SUM(cents) OVER (PARTITION BY region_name) AS region_cents,
                   SUM(cents) OVER () AS total_cents
            FROM nat
        )
        SELECT region_name, nation_name,
               CAST(cents AS DOUBLE) / 100.0 AS nation_revenue,
               CAST(region_cents AS DOUBLE) / 100.0 AS region_revenue,
               CAST(cents AS DOUBLE) / CAST(region_cents AS DOUBLE) AS share_of_region,
               CAST(region_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
                   AS region_share_of_total
        FROM shared
    """,
)
def share_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent metrics down a dimension hierarchy: each
    nation's revenue as a share of its region, and each region's share
    of the global total — the ratio-to-parent columns every OLAP
    drill-down report carries next to the raw measure. Computed with
    window sums over the aggregated frame (25 rows), NOT by re-joining
    three aggregation levels; shares are single divisions of fixed-sum
    cent totals, so parents and ratios are engine-exact.

    Scale: one shuffle aggregates orders to the (region, nation)
    grain via broadcast dims; the two parent sums are windows over
    the tiny aggregate (the global window's single partition holds 25
    rows — metadata-scale by construction, never the fact table).
    """
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        # window-sum CENTS, not doubles: parent totals must be exact
        # integers or the two engines' addition orders diverge in ulps
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    region_cents = F.sum("cents").over(W.partitionBy("region_name"))
    total_cents = F.sum("cents").over(W.partitionBy())
    return nat.select(
        "region_name",
        "nation_name",
        (F.col("cents").cast("double") / 100.0).alias("nation_revenue"),
        (region_cents.cast("double") / 100.0).alias("region_revenue"),
        (F.col("cents").cast("double") / region_cents.cast("double")).alias(
            "share_of_region"
        ),
        (region_cents.cast("double") / total_cents.cast("double")).alias(
            "region_share_of_total"
        ),
    )
