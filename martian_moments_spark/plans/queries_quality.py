"""Data-quality queries (SURVEY §2.12) + the deliberately-Python UDAF
surface (§2.11).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from martian_moments_spark.catalog import load
from martian_moments_spark.operators.parallelize import narrow
from martian_moments_spark.plans.registry import register


@register(
    "data_quality_summary",
    ops=("A3",),
    oracle="""
        SELECT
            CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS custkey_nulls,
            CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('F', 'O', 'P')
                     THEN 1 ELSE 0 END) AS BIGINT) AS bad_status_values,
            CAST(SUM(CASE WHEN o_totalprice >= 0 THEN 0 ELSE 1 END) AS BIGINT)
                AS negative_prices,
            CAST(SUM(CASE WHEN o_orderpriority LIKE '%-%' THEN 0 ELSE 1 END) AS BIGINT)
                AS malformed_priorities,
            COUNT(*) AS total_rows
        FROM orders
    """,
)
def data_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt test suite (not_null / accepted_values /
    expression_is_true — sources.yml:133-236) evaluated as ONE
    conditional-aggregation pass over the table (quality.run_checks
    semantics): a 100-check suite over 100 TB is one scan."""
    orders = load(spark, sf_dir, "orders")
    return orders.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("custkey_nulls"),
        F.sum(
            F.when(
                F.col("o_orderstatus").isNotNull()
                & ~F.col("o_orderstatus").isin("F", "O", "P"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("bad_status_values"),
        F.sum(F.when(F.col("o_totalprice") >= 0, 0).otherwise(1))
        .cast("long")
        .alias("negative_prices"),
        F.sum(F.when(F.col("o_orderpriority").like("%-%"), 0).otherwise(1))
        .cast("long")
        .alias("malformed_priorities"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def _contract_oracle() -> str:
    from martian_moments_spark.contracts import sql_contract_summary

    return sql_contract_summary()


@register(
    "contract_check_summary",
    ops=("A3", "A1", "A6"),
    oracle=_contract_oracle(),
)
def contract_check_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative quality contracts evaluated across the catalog —
    the dbt sources.yml schema-test registry (sources.yml:133-236) as
    one config (contracts.CONTRACTS) driving both engines: Spark runs
    each table's suite as one conditional-agg scan (+ one group-by per
    unique key); the DuckDB oracle is GENERATED from the same
    declarations, so the contract definition itself is cross-checked.
    Long-form output, one row per declared check; the events
    accepted_values check reports real violations ('purchase' is not
    in its declared domain) — violations surface, never hide.

    Scale: scalar checks fold into a single aggregate over one scan
    per table; unique keys add one group-by each and relationships one
    anti-join each (jobs ~ tables + keys + FKs, never scalar-check
    count)."""
    from martian_moments_spark.contracts import contract_results

    rows = [
        (table, r.check, r.column, r.violations, r.passed)
        for table, r in contract_results(spark, sf_dir)
    ]
    return spark.createDataFrame(
        rows,
        "table_name STRING, check_name STRING, target STRING, "
        "violations BIGINT, passed BOOLEAN",
    )


EWMA_ALPHA = 0.3  # spelled as the literals 0.7/0.3 in BOTH engines —
# 1 - 0.3 and 0.7 are DIFFERENT doubles, so the recurrence must use
# the same literal, not a derived complement.


@register(
    "ewma_per_user",
    ops=(),
    oracle="""
        WITH RECURSIVE seq AS (
            SELECT user_id, event_id, ts, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn
            FROM events
        ), r AS (
            SELECT user_id, event_id, ts, value, rn,
                   value AS ewma_value
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.user_id, s.event_id, s.ts, s.value, s.rn,
                   CAST(0.7 AS DOUBLE) * r.ewma_value
                   + CAST(0.3 AS DOUBLE) * s.value
            FROM r JOIN seq s
              ON s.user_id = r.user_id AND s.rn = r.rn + 1
        )
        SELECT user_id, event_id, ts, value, ewma_value FROM r
    """,
)
def ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of event value per user —
    the applyInPandas (grouped-map pandas UDF) surface (§2.11): a
    genuinely sequential per-key recursion (state_t = 0.7*state_{t-1}
    + 0.3*x_t, seeded with x_0) that built-ins cannot express. One
    shuffle on user_id; Arrow-batched per-group computation;
    deterministic order (ts, event_id).

    Oracle-EXACT despite being stateful: the recurrence is two IEEE
    multiplies and one add per step with the identical literal
    constants on both engines, so a DuckDB recursive CTE replays the
    same float64 trajectory bit-for-bit — the UDF spells the loop
    explicitly rather than delegating to pandas ewm() precisely so the
    arithmetic is pinned."""
    events = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    # applyInPandas needs hashpartitioning(user_id); at gate scale AQE
    # coalesces that kilobyte exchange to ~2 tasks, so only 2 Python
    # workers ever run and the per-group Arrow round-trips serialize
    # behind them (r11 profile: 8.3 s task runtime, 0.4 s JVM CPU).
    # Pin the exchange the groupBy needs anyway at the session's
    # parallelism — replaces it, adds nothing; identity at real scale.
    if narrow(events, memo_key=sf_dir + ":events"):
        events = events.repartition(
            events.sparkSession.sparkContext.defaultParallelism, F.col("user_id")
        )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        vals = pdf["value"].to_numpy(dtype="float64")
        out = vals.copy()
        for i in range(1, len(out)):
            out[i] = 0.7 * out[i - 1] + 0.3 * vals[i]
        pdf["ewma_value"] = out
        return pdf[["user_id", "event_id", "ts", "value", "ewma_value"]]

    schema = "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE, ewma_value DOUBLE"
    return events.groupBy("user_id").applyInPandas(ewma, schema)


QUARANTINE_VALUE_CAP = 400.0


def _events_domain() -> tuple:
    from martian_moments_spark.contracts import CONTRACTS

    events = next(c for c in CONTRACTS if c.table == "events")
    return events.accepted["event_type"]


@register(
    "contract_quarantine_rows",
    ops=("P7", "P8", "U1", "X8"),
    oracle=f"""
        SELECT event_id, event_type, value,
               'accepted_values:event_type' AS reason
        FROM events
        WHERE event_type NOT IN ({", ".join(f"'{v}'" for v in _events_domain())})
        UNION ALL
        SELECT event_id, event_type, value,
               'expression:value_within_cap'
        FROM events
        WHERE NOT (value <= {QUARANTINE_VALUE_CAP})
    """,
)
def contract_quarantine_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine routing — the row-level companion to the contract
    SUMMARY (dbt's store_failures: tests capture the offending rows,
    not just counts): every event failing a declared check lands in
    the quarantine with a machine-readable reason, one row per
    (event, failed check), so a row failing two checks appears twice
    and the clean pipeline downstream sees neither. The event_type
    domain comes from the same contracts.CONTRACTS declaration the
    summary uses — one source of truth.

    Scale: per-row predicate evaluation, no shuffle; the quarantine
    write is an append partitioned by reason so each check's failures
    are one pruned directory."""
    domain = _events_domain()
    events = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    checks = [
        (~F.col("event_type").isin(*domain), "accepted_values:event_type"),
        (~(F.col("value") <= QUARANTINE_VALUE_CAP), "expression:value_within_cap"),
    ]
    reasons = F.filter(
        F.array(*[F.when(cond, F.lit(name)) for cond, name in checks]),
        lambda x: x.isNotNull(),
    )
    return (
        events.withColumn("reason", F.explode(reasons))
        .select("event_id", "event_type", "value", "reason")
    )


PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


@register(
    "table_profile",
    ops=("A1", "A2", "A4", "A3"),
    oracle="\n        UNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name,
               COUNT(*) AS n_rows,
               COUNT({c}) AS n_non_null,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_value,
               CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM orders"""
        for c in PROFILE_COLS
    ),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiling (the deequ / dbt-docs summary): one
    scan computes count / non-null / exact distinct / min / max for
    every profiled column at once, then unpivots to one row per column
    — the shape a data catalog ingests.

    Scale: ONE pass over the fact regardless of column count; the
    multi-COUNT(DISTINCT) plans through Spark's Expand (one shuffle,
    rows replicated per distinct aggregate — the standard trade; swap
    exact distinct for HLL at unbounded cardinality). The oracle pays
    four scans instead, which is exactly the cost this operator
    avoids. min/max serialize to strings for a uniform profile schema
    (int/string columns only — float rendering differs per engine)."""
    from pyspark.sql import functions as F

    from martian_moments_spark.operators.parallelize import spread

    # The Expand-based multi-countDistinct partial aggregate is the
    # query's CPU and ran in the scan's ONE split at gate scale (r11
    # profile: 1.1 s single-task stage); spread the narrow projection
    # first — identity at real scale.
    orders = spread(
        load(spark, sf_dir, "orders").select(*PROFILE_COLS),
        "o_orderkey",
        memo_key=sf_dir + ":orders",
        byte_cap=True,
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    one = orders.agg(*aggs)
    profile = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col("n_rows").alias("n_rows"),
                        F.col(f"nn_{c}").alias("n_non_null"),
                        F.col(f"nd_{c}").alias("n_distinct"),
                        F.col(f"mn_{c}").alias("min_value"),
                        F.col(f"mx_{c}").alias("max_value"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("p")
    )
    return profile.select("p.*")


DRIFT_SPLIT_DATE = "1999-01-01"  # baseline = before, current = from this date
DRIFT_NULL_TOL = 0.01  # absolute null-rate drift tolerance
DRIFT_CARD_TOL = 0.5  # relative distinct-cardinality drift tolerance


@register(
    "profile_drift",
    ops=("A1", "A2", "A3", "P6"),
    oracle="\n        UNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name,
               base_rows, cur_rows,
               base_null_rate, cur_null_rate,
               (abs(cur_null_rate - base_null_rate) > {DRIFT_NULL_TOL}) AS null_drift,
               base_distinct, cur_distinct,
               (abs(CAST(cur_distinct AS DOUBLE) / CAST(base_distinct AS DOUBLE) - 1.0)
                   > {DRIFT_CARD_TOL}) AS cardinality_drift
        FROM (
            SELECT
                CAST(COUNT(*) FILTER (WHERE o_orderdate <  DATE '{DRIFT_SPLIT_DATE}') AS BIGINT) AS base_rows,
                CAST(COUNT(*) FILTER (WHERE o_orderdate >= DATE '{DRIFT_SPLIT_DATE}') AS BIGINT) AS cur_rows,
                1.0 - CAST(COUNT({c}) FILTER (WHERE o_orderdate <  DATE '{DRIFT_SPLIT_DATE}') AS DOUBLE)
                    / CAST(COUNT(*) FILTER (WHERE o_orderdate <  DATE '{DRIFT_SPLIT_DATE}') AS DOUBLE) AS base_null_rate,
                1.0 - CAST(COUNT({c}) FILTER (WHERE o_orderdate >= DATE '{DRIFT_SPLIT_DATE}') AS DOUBLE)
                    / CAST(COUNT(*) FILTER (WHERE o_orderdate >= DATE '{DRIFT_SPLIT_DATE}') AS DOUBLE) AS cur_null_rate,
                CAST(COUNT(DISTINCT {c}) FILTER (WHERE o_orderdate <  DATE '{DRIFT_SPLIT_DATE}') AS BIGINT) AS base_distinct,
                CAST(COUNT(DISTINCT {c}) FILTER (WHERE o_orderdate >= DATE '{DRIFT_SPLIT_DATE}') AS BIGINT) AS cur_distinct
            FROM orders
        )"""
        for c in PROFILE_COLS
    ),
)
def profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile drift detection (the deequ anomaly-check shape): the
    profile of the CURRENT data slice (orders from DRIFT_SPLIT_DATE)
    is compared column-by-column against the BASELINE slice (before
    it); null-rate drift beyond an absolute tolerance and distinct-
    cardinality drift beyond a relative tolerance raise flags — the
    check a scheduled pipeline runs before promoting a new increment.

    Scale: ONE pass over the fact computes both slices' profiles as
    conditional aggregates (no second scan, no join of two profile
    runs); the distinct counts go through the same Expand trade as
    table_profile. Ratios are int/int double divisions, exact in any
    engine."""
    from pyspark.sql import functions as F

    orders = load(spark, sf_dir, "orders").select("o_orderdate", *PROFILE_COLS)
    base = F.col("o_orderdate") < F.lit(DRIFT_SPLIT_DATE).cast("timestamp")
    cur = ~base
    aggs = [
        F.sum(base.cast("long")).cast("long").alias("base_rows"),
        F.sum(cur.cast("long")).cast("long").alias("cur_rows"),
    ]
    for c in PROFILE_COLS:
        nn_b = F.sum((base & F.col(c).isNotNull()).cast("long")).cast("double")
        nn_c = F.sum((cur & F.col(c).isNotNull()).cast("long")).cast("double")
        aggs += [
            nn_b.alias(f"nnb_{c}"),
            nn_c.alias(f"nnc_{c}"),
            F.countDistinct(F.when(base, F.col(c))).cast("long").alias(f"ndb_{c}"),
            F.countDistinct(F.when(cur, F.col(c))).cast("long").alias(f"ndc_{c}"),
        ]
    one = orders.agg(*aggs)
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col("base_rows"),
                        F.col("cur_rows"),
                        (
                            F.lit(1.0)
                            - F.col(f"nnb_{c}") / F.col("base_rows").cast("double")
                        ).alias("base_null_rate"),
                        (
                            F.lit(1.0)
                            - F.col(f"nnc_{c}") / F.col("cur_rows").cast("double")
                        ).alias("cur_null_rate"),
                        F.col(f"ndb_{c}").alias("base_distinct"),
                        F.col(f"ndc_{c}").alias("cur_distinct"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.*")
    return rows.select(
        "column_name",
        "base_rows",
        "cur_rows",
        "base_null_rate",
        "cur_null_rate",
        (
            F.abs(F.col("cur_null_rate") - F.col("base_null_rate")) > DRIFT_NULL_TOL
        ).alias("null_drift"),
        "base_distinct",
        "cur_distinct",
        (
            F.abs(
                F.col("cur_distinct").cast("double")
                / F.col("base_distinct").cast("double")
                - 1.0
            )
            > DRIFT_CARD_TOL
        ).alias("cardinality_drift"),
    )


@register(
    "reconciliation_order_totals",
    ops=("A1", "J3", "P8", "O1"),
    oracle="""
        WITH line_sums AS (
            SELECT l_orderkey,
                   SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS line_units
            FROM lineitem GROUP BY l_orderkey
        ), joined AS (
            SELECT o.o_orderkey,
                   CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS header_units,
                   COALESCE(ls.line_units, 0) AS line_units
            FROM orders o LEFT JOIN line_sums ls ON o.o_orderkey = ls.l_orderkey
        )
        SELECT CASE
                   WHEN line_units = 0 THEN 'no_lines'
                   WHEN abs(header_units - line_units) * 1000 <= header_units
                       THEN 'reconciled_0_1pct'
                   ELSE 'mismatched'
               END AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MAX(abs(header_units - line_units)) AS DOUBLE) / 100.0
                   AS max_abs_diff,
               CAST(SUM(abs(header_units - line_units)) AS DOUBLE) / 100.0
                   AS total_abs_diff
        FROM joined
        GROUP BY 1
        ORDER BY status
    """,
)
def reconciliation_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation: does each order header's total match
    the sum of its line extended prices? — the cross-table consistency
    check every warehouse closes its books with (the contracts
    framework checks per-TABLE invariants; this is the inter-table
    ledger tie-out). Orders bucket into reconciled-within-0.1%
    (cross-multiplied integer tolerance — no float boundary),
    mismatched, or line-less; the report carries the worst and total
    absolute drift in dollars.

    Scale: one orderkey-grouped sum over the fact (map-side combined),
    one left join on the same key, and a 3-row rollup. This is the
    query you run AFTER every incremental load — its cost is one fact
    pass regardless of history depth."""
    line_sums = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("lu"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("lu").alias("line_units"))
    )
    joined = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("header_units"),
        )
        .join(line_sums, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .select(
            "header_units", F.coalesce(F.col("line_units"), F.lit(0)).alias("line_units")
        )
    )
    diff = F.abs(F.col("header_units") - F.col("line_units"))
    status = (
        F.when(F.col("line_units") == 0, "no_lines")
        .when(diff * 1000 <= F.col("header_units"), "reconciled_0_1pct")
        .otherwise("mismatched")
    )
    return (
        joined.groupBy(status.alias("status"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.max(diff).cast("double") / 100.0).alias("max_abs_diff"),
            (F.sum(diff).cast("double") / 100.0).alias("total_abs_diff"),
        )
        .orderBy("status")
    )


_SKEW_HOT = 0.20  # max-key share above this -> salt
_SKEW_BROADCASTABLE = 100_000  # distinct keys below this -> broadcast-able dim side


@register(
    "skew_advisor_report",
    ops=("A1", "A2", "A4", "U1", "P8", "O1"),
    oracle=f"""
        WITH ok AS (
            SELECT 'orders.o_custkey' AS join_key,
                   CAST(SUM(c) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(c) AS BIGINT) AS max_key_rows
            FROM (SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY o_custkey)
        ), lp AS (
            SELECT 'lineitem.l_partkey',
                   CAST(SUM(c) AS BIGINT), CAST(COUNT(*) AS BIGINT),
                   CAST(MAX(c) AS BIGINT)
            FROM (SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY l_partkey)
        ), ls AS (
            SELECT 'lineitem.l_suppkey',
                   CAST(SUM(c) AS BIGINT), CAST(COUNT(*) AS BIGINT),
                   CAST(MAX(c) AS BIGINT)
            FROM (SELECT l_suppkey, COUNT(*) AS c FROM lineitem GROUP BY l_suppkey)
        ), profiles AS (
            SELECT * FROM ok UNION ALL SELECT * FROM lp UNION ALL SELECT * FROM ls
        )
        SELECT join_key, n_rows, n_keys, max_key_rows,
               CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) AS max_key_share,
               CASE
                   WHEN max_key_rows * 100 > n_rows * {int(_SKEW_HOT * 100)}
                       THEN 'salt'
                   WHEN n_keys < {_SKEW_BROADCASTABLE} THEN 'broadcast_dim_side'
                   ELSE 'hash_shuffle'
               END AS advice
        FROM profiles
        ORDER BY join_key
    """,
)
def skew_advisor_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew advisor: profiles the engine's own join keys
    (customer, part, supplier grains) and recommends the strategy the
    operators/skew.py toolkit implements — salt when one key holds
    more than 20% of rows, broadcast when the key space is small
    enough to be a dim side, plain hash shuffle otherwise. The
    threshold compare is cross-multiplied BIGINT, so the advice string
    itself is hash-stable.

    Scale: each profile is one grouped count plus a 1-row rollup —
    exactly the reconnaissance a planner (or an engineer reading
    BENCH numbers) runs BEFORE shipping a join at 100 TB; keeping it
    as a registered query means the advice is recomputed on the
    current data, not folklore."""
    def profile(df: DataFrame, key: str, label: str) -> DataFrame:
        per_key = df.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        return per_key.agg(
            F.lit(label).alias("join_key"),
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_key_rows"),
        )
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    lineitem = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    profiles = (
        profile(orders, "o_custkey", "orders.o_custkey")
        .unionByName(profile(lineitem, "l_partkey", "lineitem.l_partkey"))
        .unionByName(profile(lineitem, "l_suppkey", "lineitem.l_suppkey"))
    )
    advice = (
        F.when(
            F.col("max_key_rows") * 100 > F.col("n_rows") * int(_SKEW_HOT * 100),
            "salt",
        )
        .when(F.col("n_keys") < _SKEW_BROADCASTABLE, "broadcast_dim_side")
        .otherwise("hash_shuffle")
    )
    return profiles.select(
        "join_key",
        "n_rows",
        "n_keys",
        "max_key_rows",
        (F.col("max_key_rows").cast("double") / F.col("n_rows").cast("double")).alias(
            "max_key_share"
        ),
        advice.alias("advice"),
    ).orderBy("join_key")


@register(
    "fairness_gate_impact",
    ops=("A1", "A3", "A5", "J1", "O1"),
    oracle="""
        WITH scored AS (
            SELECT lang,
                   CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                        t -> t <> '')) >= 10
                    AND len(list_distinct(list_filter(
                            regexp_split_to_array(text, '\\s+'), t -> t <> '')))
                        * 10 >= len(list_filter(
                            regexp_split_to_array(text, '\\s+'), t -> t <> ''))
                        * 3
                    AS INT) AS passed
            FROM documents
        ), per_lang AS (
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(passed) AS BIGINT) AS n_passed
            FROM scored GROUP BY lang
        ), best AS (
            SELECT MAX(CAST(n_passed AS DOUBLE) / CAST(n_docs AS DOUBLE))
                   AS best_rate
            FROM per_lang
        )
        SELECT p.lang, p.n_docs, p.n_passed,
               CAST(p.n_passed AS DOUBLE) / CAST(p.n_docs AS DOUBLE) AS pass_rate,
               (CAST(p.n_passed AS DOUBLE) / CAST(p.n_docs AS DOUBLE))
                   / b.best_rate AS disparate_impact,
               (CAST(p.n_passed AS DOUBLE) / CAST(p.n_docs AS DOUBLE))
                   / b.best_rate < 0.8 AS below_four_fifths
        FROM per_lang p CROSS JOIN best b
        ORDER BY p.lang
    """,
)
def fairness_gate_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disparate-impact audit of the quality gate across languages:
    each language's gate pass rate, its ratio to the best-treated
    language, and the four-fifths-rule flag (ratio < 0.8) — the
    governance check a multilingual corpus runs so a length/ratio
    heuristic doesn't silently filter out a whole language. The gate
    predicate mirrors corpus_curation's (>=10 tokens, distinct ratio
    >= 0.3, cross-multiplied to integers); all rates are BIGINT-count
    ratios and the 0.8 compare happens on identical doubles.

    Scale: per-row gate evaluation, one low-cardinality groupBy, a
    1-row broadcast max — the audit costs one corpus pass and should
    run on every curation batch, not once."""
    from martian_moments_spark.llmops.textops import tokens

    toks = tokens("text")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    passed = (
        (n_tokens >= 10) & (n_distinct * 10 >= n_tokens * 3)
    ).cast("int")
    scored = load(spark, sf_dir, "documents").select(
        "lang", passed.alias("passed")
    )
    per_lang = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("passed").cast("long").alias("n_passed"),
    )
    rate = F.col("n_passed").cast("double") / F.col("n_docs").cast("double")
    best = per_lang.agg(
        F.max(
            F.col("n_passed").cast("double") / F.col("n_docs").cast("double")
        ).alias("best_rate")
    )
    return (
        per_lang.crossJoin(F.broadcast(best))
        .select(
            "lang",
            "n_docs",
            "n_passed",
            rate.alias("pass_rate"),
            (rate / F.col("best_rate")).alias("disparate_impact"),
            ((rate / F.col("best_rate")) < 0.8).alias("below_four_fifths"),
        )
        .orderBy("lang")
    )


K_ANON_K = 5  # minimum group size for the quasi-identifier partition
L_DIVERSE_L = 2  # minimum distinct sensitive values per group


@register(
    "k_anonymity_audit",
    ops=("A1", "A2", "P8"),
    oracle=f"""
        WITH tagged AS (
            SELECT c_nationkey, c_mktsegment,
                   CASE WHEN c_acctbal < 0 THEN 'negative'
                        WHEN c_acctbal < 5000 THEN 'low'
                        ELSE 'high' END AS balance_band
            FROM customer
        )
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT balance_band) AS BIGINT) AS n_distinct_sensitive,
               COUNT(*) >= {K_ANON_K} AS k_anonymous,
               COUNT(DISTINCT balance_band) >= {L_DIVERSE_L} AS l_diverse
        FROM tagged
        GROUP BY c_nationkey, c_mktsegment
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of a release view of the
    customer table: for every quasi-identifier combination
    (nation, market segment), the group size against k=5 and the
    diversity of the sensitive attribute (balance band) against l=2.
    Groups failing either bound are the re-identification risk a
    privacy review must suppress or generalize before data leaves the
    boundary — the governance counterpart to pii_redaction's content
    scrub.

    Scale: one aggregate on the quasi-identifier key with a distinct
    count folded in (partial aggregation both levels); risk surface
    grows with QI cardinality, not table size."""
    tagged = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("balance_band"),
    )
    return tagged.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("balance_band").cast("long").alias("n_distinct_sensitive"),
        (F.count(F.lit(1)) >= K_ANON_K).alias("k_anonymous"),
        (F.count_distinct("balance_band") >= L_DIVERSE_L).alias("l_diverse"),
    )
