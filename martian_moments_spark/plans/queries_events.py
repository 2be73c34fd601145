"""Event-time product-analytics queries (cohorts, funnels, irregular
time series).

The reference's event surface stops at ingestion/dispatch (SURVEY §2.9
E-series; ``dags/photo_ingestion_dag.py`` routes messages, it never
analyzes them). These queries add the analysis layer a warehouse user
runs on that same event stream: cohort retention, ordered-funnel
conversion, and irregular-time-series statistics (time-weighted
average, linear gap interpolation, per-key mode).

Determinism follows the engine rules (functions/numeric.py): values
are quantized to integer units per row, durations are integer epoch
microseconds, every aggregate is a BIGINT sum, and only the final
per-row/per-group scalar arithmetic runs in floating point with the
identical expression shape on both engines. Window orders always
carry ``event_id`` as a tiebreak so frame contents are total-ordered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from martian_moments_spark.catalog import load
from martian_moments_spark.plans.registry import register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )


@register(
    "retention_cohorts",
    ops=("A1", "A2", "A6", "J2", "F8"),
    oracle="""
        WITH f AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ), act AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
            FROM events
        )
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, a.activity_week) // 7 AS INT)
                   AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM act a JOIN f ON a.user_id = f.user_id
        GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the week of
    their first event; each cell counts how many of a cohort's users
    were active N weeks later — the retention matrix behind every
    product dashboard.

    Scale: two aggregates keyed on user_id (first-seen MIN, then a
    per-user-week DISTINCT) joined on user_id — the groupBy establishes
    hash partitioning on user_id that the join reuses, so the chain
    costs one effective shuffle of the fact plus a user-week rekey.
    The final rollup is on (cohort_week, week_offset): bounded
    cardinality (weeks^2), trivially small. Week truncation is Monday
    in both engines, so the day-diff is an exact multiple of 7.
    """
    ev = _events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("activity_week", "cohort_week") / F.lit(7))
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@register(
    "funnel_conversion",
    ops=("A1", "A4", "J2", "P3", "U1"),
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, MIN(e.ts) AS c_ts
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.v_ts
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS p_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
            GROUP BY e.user_id
        )
        SELECT CAST(1 AS INT) AS step_order, 'view' AS step,
               CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        UNION ALL
        SELECT CAST(2 AS INT), 'click', CAST(COUNT(*) AS BIGINT) FROM c
        UNION ALL
        SELECT CAST(3 AS INT), 'purchase', CAST(COUNT(*) AS BIGINT) FROM p
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion view -> click -> purchase: a user
    advances a stage only with an event strictly AFTER their first
    qualifying event of the previous stage (the MATCH_RECOGNIZE-lite
    semantics analytics warehouses sell as funnel analysis).

    Scale: every stage is (filter -> join on user_id -> MIN per
    user_id). Each stage's groupBy gets full map-side combine, so what
    shuffles per stage is one partial MIN per user per task — O(users),
    not O(events) — which is why this beats the single-window
    formulation (one shuffle, but of EVERY event row, windows having
    no partial aggregation). Stage outputs are per-user single rows;
    AQE broadcasts them into the next stage's join when they are small
    (they shrink monotonically), else the join co-partitions with the
    stage's own shuffle. The final UNION ALL is three 1-row aggregates.
    """
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )

    def stage(df: DataFrame, order: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(order).cast("int").alias("step_order"),
            F.lit(name).alias("step"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )

    return stage(v, 1, "view").unionAll(stage(c, 2, "click")).unionAll(
        stage(p, 3, "purchase")
    )


@register(
    "time_weighted_avg",
    ops=("W2", "A1", "F8"),
    oracle="""
        WITH seg AS (
            SELECT user_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS vu,
                   epoch_us(ts) AS ts_us,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_us
            FROM events
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(next_us - ts_us) AS BIGINT) AS total_dur_us,
               CAST(SUM(vu * (next_us - ts_us)) AS DOUBLE)
                   / CAST(SUM(next_us - ts_us) AS DOUBLE) / 100.0 AS twa_value
        FROM seg WHERE next_us IS NOT NULL
        GROUP BY user_id
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregularly-sampled value per user:
    each reading holds until the next one, so it is weighted by its
    interval duration (the last reading per user carries no interval
    and is excluded) — the standard aggregate for sensor/telemetry
    series where plain AVG over-weights bursts.

    Scale: one shuffle on user_id for the lead() window; the groupBy
    that follows reuses the same partitioning. All weights are integer
    microseconds and values integer hundredths, so both sums are exact
    BIGINTs (per-user value*duration is bounded by max_units *
    observed span, far inside int64) — the only floating-point step is
    the final one-per-group division, identical on both engines.
    """
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("vu"),
        F.unix_micros("ts").alias("ts_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    dur = F.col("next_us") - F.col("ts_us")
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(dur).cast("long").alias("total_dur_us"),
        (
            F.sum(F.col("vu") * dur).cast("double")
            / F.sum(dur).cast("double")
            / F.lit(100.0)
        ).alias("twa_value"),
    )


@register(
    "linear_interpolation_fill",
    ops=("W2", "P5", "P8", "F8"),
    oracle="""
        WITH base AS (
            SELECT event_id, user_id, ts,
                   event_type <> 'error' AS known,
                   CASE WHEN event_type <> 'error'
                        THEN CAST(ROUND(value * 100) AS BIGINT) END AS vu,
                   epoch_us(ts) AS ts_us
            FROM events
        ), ctx AS (
            SELECT *,
                   last_value(vu IGNORE NULLS) OVER w_prev AS prev_vu,
                   last_value(CASE WHEN known THEN ts_us END IGNORE NULLS)
                       OVER w_prev AS prev_us,
                   first_value(vu IGNORE NULLS) OVER w_next AS next_vu,
                   first_value(CASE WHEN known THEN ts_us END IGNORE NULLS)
                       OVER w_next AS next_us
            FROM base
            WINDOW w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   w_next AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        )
        SELECT event_id, user_id, ts,
               CASE WHEN known THEN 'observed'
                    WHEN prev_vu IS NOT NULL AND next_vu IS NOT NULL
                        THEN 'interpolated'
                    ELSE 'edge' END AS fill_method,
               CASE WHEN known THEN CAST(vu AS DOUBLE) / 100.0
                    WHEN prev_vu IS NOT NULL AND next_vu IS NOT NULL THEN
                        (CAST(prev_vu AS DOUBLE)
                         + CAST(next_vu - prev_vu AS DOUBLE)
                           * (CAST(ts_us - prev_us AS DOUBLE)
                              / CAST(next_us - prev_us AS DOUBLE))) / 100.0
               END AS filled_value
        FROM ctx
    """,
)
def linear_interpolation_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing readings: 'error' events carry
    no trusted value, so each one is filled by interpolating between
    the nearest known readings before and after it (by event time)
    within the user's series; edges with only one neighbor stay NULL.
    The gap-fill companion to forward_fill_gaps (LOCF) — interpolation
    where LOCF would step.

    Scale: one shuffle on user_id; all four context columns come from
    two frames over the same window sort, evaluated in a single
    window exchange. IGNORE-NULLS last/first over null-gated columns
    picks the same source row for (value, timestamp) pairs because
    both are gated by the same predicate. Exactness: neighbor values
    and timestamps are exact BIGINTs; the interpolation expression has
    the identical operation shape on both engines, and each IEEE step
    (div, mul, add, div) on identical operands is correctly rounded —
    bit-identical results without any epsilon.
    """
    ev = _events(spark, sf_dir)
    known = F.col("event_type") != "error"
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        known.alias("known"),
        F.when(known, F.round(F.col("value") * 100).cast("long")).alias("vu"),
        F.unix_micros("ts").alias("ts_us"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_next = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    gated_ts = F.when(F.col("known"), F.col("ts_us"))
    ctx = base.select(
        "*",
        F.last("vu", ignorenulls=True).over(w_prev).alias("prev_vu"),
        F.last(gated_ts, ignorenulls=True).over(w_prev).alias("prev_us"),
        F.first("vu", ignorenulls=True).over(w_next).alias("next_vu"),
        F.first(gated_ts, ignorenulls=True).over(w_next).alias("next_us"),
    )
    both = F.col("prev_vu").isNotNull() & F.col("next_vu").isNotNull()
    frac = (F.col("ts_us") - F.col("prev_us")).cast("double") / (
        F.col("next_us") - F.col("prev_us")
    ).cast("double")
    interp = (
        F.col("prev_vu").cast("double")
        + (F.col("next_vu") - F.col("prev_vu")).cast("double") * frac
    ) / F.lit(100.0)
    return ctx.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("known"), F.lit("observed"))
        .when(both, F.lit("interpolated"))
        .otherwise(F.lit("edge"))
        .alias("fill_method"),
        F.when(F.col("known"), F.col("vu").cast("double") / F.lit(100.0))
        .when(both, interp)
        .alias("filled_value"),
    )


@register(
    "mode_per_key",
    ops=("A1", "A4", "A6"),
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, COUNT(*) AS cnt
            FROM events GROUP BY user_id, event_type
        )
        SELECT user_id, event_type AS mode_event_type,
               CAST(cnt AS BIGINT) AS mode_count
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY cnt DESC, event_type
            ) AS rn
            FROM c
        )
        WHERE rn = 1
    """,
)
def mode_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key mode: the most frequent event_type per
    user, ties broken to the lexicographically smallest type. Spark's
    built-in ``mode()`` is non-deterministic on ties, so the engine
    computes it as count + argmax-by-struct, which is deterministic
    on any partitioning.

    Scale: two aggregations — (user_id, event_type) counts with full
    map-side combine, then an argmax per user_id expressed as
    MIN(STRUCT(-cnt, type)) so it stays a hash aggregate (mergeable
    partial on every node) instead of a window sort. The oracle spells
    the same semantics as a row_number()=1 window, which is the SQL a
    user would write; results are identical because (-cnt, type) is
    unique per user after the first groupBy.
    """
    ev = _events(spark, sf_dir)
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    picked = cnt.select(
        "user_id",
        F.struct(
            (-F.col("cnt")).alias("neg_cnt"),
            F.col("event_type").alias("mode_event_type"),
            F.col("cnt").alias("mode_count"),
        ).alias("s"),
    ).groupBy("user_id").agg(F.min("s").alias("s"))
    return picked.select(
        "user_id",
        F.col("s.mode_event_type").alias("mode_event_type"),
        F.col("s.mode_count").alias("mode_count"),
    )


ZSCORE_LOOKBACK = 20  # trailing readings per user in the baseline frame
ZSCORE_MIN_N = 5  # below this many priors, no score is emitted
ZSCORE_TAU = 3.0  # |z| above this flags the reading


@register(
    "rolling_zscore_anomaly",
    ops=("W2", "P8", "F8"),
    oracle=f"""
        WITH base AS (
            SELECT event_id, user_id, ts, value,
                   CAST(ROUND(value * 100) AS BIGINT) AS vu
            FROM events
        ), ctx AS (
            SELECT *,
                   CAST(COUNT(vu) OVER w AS BIGINT) AS n_prev,
                   CAST(SUM(vu) OVER w AS BIGINT) AS s,
                   CAST(SUM(vu * vu) OVER w AS BIGINT) AS s2
            FROM base
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {ZSCORE_LOOKBACK} PRECEDING AND 1 PRECEDING)
        ), scored AS (
            SELECT event_id, user_id, ts, value,
                   CASE WHEN n_prev >= {ZSCORE_MIN_N}
                             AND n_prev * s2 - s * s > 0 THEN
                       CAST(vu * n_prev - s AS DOUBLE)
                       / (CAST(n_prev AS DOUBLE)
                          * sqrt(CAST(n_prev * s2 - s * s AS DOUBLE)
                                 / CAST(n_prev * (n_prev - 1) AS DOUBLE)))
                   END AS zscore
            FROM ctx
        )
        SELECT event_id, user_id, ts, value, zscore,
               CASE WHEN zscore IS NOT NULL
                    THEN abs(zscore) > {ZSCORE_TAU} END AS is_anomaly
        FROM scored
    """,
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each reading is scored
    against the mean/stddev of its user's trailing ZSCORE_LOOKBACK
    readings (the reading itself excluded, so an outlier cannot mask
    itself); |z| > tau flags it. Readings with fewer than ZSCORE_MIN_N
    priors or a degenerate (zero-variance) baseline emit NULL.

    Scale: one shuffle on user_id; count/sum/sum-of-squares share a
    single trailing frame in one Window node. Exactness: the frame
    statistics are integer (vu, vu^2 sums as BIGINT — with a 20-row
    frame and 4-digit units the variance numerator n*s2 - s^2 stays
    exact in int64), so mean and variance derive from exact integers
    and the only floating-point steps (div, sqrt, div) have identical
    operand bits and expression shape on both engines. The z-score is
    written as (x*n - s) / (n * sqrt(var)) to keep the numerator
    integer-exact instead of subtracting two rounded doubles.
    """
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(F.col("value") * 100).cast("long").alias("vu"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZSCORE_LOOKBACK, -1)
    )
    ctx = base.select(
        "*",
        F.count("vu").over(w).cast("long").alias("n_prev"),
        F.sum("vu").over(w).cast("long").alias("s"),
        F.sum(F.col("vu") * F.col("vu")).over(w).cast("long").alias("s2"),
    )
    numer = F.col("n_prev") * F.col("s2") - F.col("s") * F.col("s")
    variance = numer.cast("double") / (
        F.col("n_prev") * (F.col("n_prev") - F.lit(1))
    ).cast("double")
    z = (F.col("vu") * F.col("n_prev") - F.col("s")).cast("double") / (
        F.col("n_prev").cast("double") * F.sqrt(variance)
    )
    scored = ctx.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when((F.col("n_prev") >= ZSCORE_MIN_N) & (numer > 0), z).alias("zscore"),
    )
    return scored.select(
        "*",
        F.when(
            F.col("zscore").isNotNull(), F.abs(F.col("zscore")) > F.lit(ZSCORE_TAU)
        ).alias("is_anomaly"),
    )


FUNNEL_PATTERN = "v[ce]*p"  # a view converting to purchase across clicks/errors


@register(
    "event_pattern_match",
    ops=("A1", "F1", "N7"),
    oracle=f"""
        WITH seq AS (
            SELECT user_id,
                   array_to_string(list(substr(event_type, 1, 1)
                       ORDER BY ts, event_id), '') AS type_seq
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(type_seq) AS BIGINT) AS n_events,
               CAST(len(regexp_extract_all(type_seq, '{FUNNEL_PATTERN}'))
                    AS BIGINT) AS n_conversions,
               len(regexp_extract_all(type_seq, '{FUNNEL_PATTERN}')) > 0
                   AS has_conversion
        FROM seq
    """,
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event streams — the
    MATCH_RECOGNIZE shape: each user's time-ordered event types are
    collapsed to an initials string (one char per event — the five
    types have distinct initials) and a regex counts non-overlapping
    conversion patterns (a view reaching a purchase through only
    clicks/errors). Complements funnel_conversion: that measures
    stage survival once per user, this counts every completed pattern
    occurrence.

    Scale: ONE shuffle on user_id; ordering happens inside the hash
    aggregate via array_sort over (ts, event_id) structs — the same
    idiom as ordered_event_sequences, no window. The regex runs once
    per user on a compact string. Leftmost non-overlapping match
    counting is identical between Java regex and RE2 for this
    pattern class (character classes + star, no backtracking
    ambiguity).
    """
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    sorted_seq = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(sorted_seq, lambda x: F.substring(x["event_type"], 1, 1)), ""
        ).alias("type_seq")
    )
    n = F.regexp_count(F.col("type_seq"), F.lit(FUNNEL_PATTERN)).cast("long")
    return seq.select(
        "user_id",
        F.length("type_seq").cast("long").alias("n_events"),
        n.alias("n_conversions"),
        (n > 0).alias("has_conversion"),
    )


TREND_EPOCH = 1704067200  # 2024-01-01 UTC: x-origin keeping x^2 sums in int64


@register(
    "per_user_trend",
    ops=("A1", "F8"),
    oracle=f"""
        WITH pts AS (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) - {TREND_EPOCH} AS x,
                   CAST(round(value * 100) AS BIGINT) AS y
            FROM events
        ), s AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM pts GROUP BY user_id
        )
        SELECT user_id, n,
               CASE WHEN n * sxx - sx * sx <> 0
                    THEN CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)
                    ELSE NULL END AS slope_cents_per_sec,
               CASE WHEN n * sxx - sx * sx <> 0
                    THEN (CAST(sy AS DOUBLE)
                          - (CAST(n * sxy - sx * sy AS DOUBLE)
                             / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                         / CAST(n AS DOUBLE)
                    ELSE NULL END AS intercept_cents
        FROM s
    """,
)
def per_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of event values over time — the
    drift/engagement-slope metric — via the CLOSED FORM on exact
    integer sums, no UDF and no per-key iteration: x is whole seconds
    from a 2024 origin (keeps sum(x^2) inside int64), y is value in
    exact hundredths; slope and intercept are then single IEEE double
    ops on exact integers, so the result is bit-stable under any
    partitioning and matches the oracle exactly (a naive sum of
    doubles would be order-dependent and could never hash-match).

    Scale: ONE aggregation with full map-side combine — the shuffle
    carries five integers per (user, task). Degenerate users (all
    events at one instant) yield NULL slope, matching SQL."""
    events = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    pts = events.select(
        "user_id",
        (F.col("ts").cast("long") - F.lit(TREND_EPOCH)).alias("x"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    s = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(det != 0, num.cast("double") / det.cast("double"))
    intercept = F.when(
        det != 0,
        (
            F.col("sy").cast("double")
            - (num.cast("double") / det.cast("double")) * F.col("sx").cast("double")
        )
        / F.col("n").cast("double"),
    )
    return s.select(
        "user_id",
        "n",
        slope.alias("slope_cents_per_sec"),
        intercept.alias("intercept_cents"),
    )


@register(
    "conversion_lag",
    ops=("A1", "A4", "J2", "F8"),
    oracle="""
        WITH first_signup AS (
            SELECT user_id, MIN(ts) AS signup_ts
            FROM events WHERE event_type = 'signup'
            GROUP BY user_id
        ), first_purchase_after AS (
            SELECT s.user_id, s.signup_ts, MIN(e.ts) AS purchase_ts
            FROM first_signup s
            JOIN events e
              ON e.user_id = s.user_id
             AND e.event_type = 'purchase'
             AND e.ts >= s.signup_ts
            GROUP BY s.user_id, s.signup_ts
        )
        SELECT user_id, signup_ts, purchase_ts,
               CAST(floor(epoch(purchase_ts)) AS BIGINT)
                 - CAST(floor(epoch(signup_ts)) AS BIGINT) AS lag_seconds
        FROM first_purchase_after
    """,
)
def conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-purchase conversion lag per user — the time-to-event
    metric funnel_conversion's counts do not give: each user's first
    signup, the first purchase at or after it, and the whole-second
    lag between them (users who never convert simply do not appear —
    the inner-join semantics a conversion-time distribution needs).

    Scale: two MIN aggregates on user_id sharing one partitioning (the
    signup table re-joins events on the same key — co-located, no
    second shuffle of the fact); whole-second floors keep the lag
    arithmetic identical across engines (the sessionize epoch lesson)."""
    events = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    first_signup = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    first_purchase = (
        events.filter(F.col("event_type") == "purchase")
        .join(first_signup, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return first_purchase.select(
        "user_id",
        "signup_ts",
        "purchase_ts",
        (
            F.col("purchase_ts").cast("long") - F.col("signup_ts").cast("long")
        ).alias("lag_seconds"),
    )


@register(
    "cohort_ltv",
    ops=("A1", "J2", "W2", "F8"),
    oracle="""
        WITH cohorts AS (
            SELECT user_id, date_trunc('month', MIN(ts)) AS cohort_month
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT c.cohort_month,
                   CAST(datediff('month', c.cohort_month,
                                 date_trunc('month', e.ts)) AS INT) AS age_months,
                   CAST(ROUND(e.value * 100) AS BIGINT) AS vu
            FROM events e JOIN cohorts c USING (user_id)
        ), grid AS (
            SELECT cohort_month, age_months,
                   CAST(SUM(vu) AS BIGINT) AS month_units,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM activity GROUP BY cohort_month, age_months
        )
        SELECT cohort_month, age_months, n_events,
               month_units / 100.0 AS month_value,
               CAST(SUM(month_units) OVER (
                   PARTITION BY cohort_month ORDER BY age_months
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) / 100.0 AS cumulative_value
        FROM grid
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value — retention_cohorts' value-weighted
    sibling: users group into monthly cohorts by first activity, every
    event's value lands in its (cohort, age-in-months) cell, and the
    running sum over age gives each cohort's cumulative value curve —
    the LTV grid a growth report plots.

    Scale: the cohort assignment is one MIN per user re-joined on the
    same user_id partitioning; the grid aggregate shuffles two tiny
    keys with map-side combine; the cumulative window runs over the
    cohort x age GRID (metadata-scale, months x months), never the
    fact. Values accumulate as exact integer hundredths."""
    events = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    cohorts = events.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort_month")
    )
    activity = events.join(cohorts, "user_id").select(
        "cohort_month",
        (
            (F.year("ts") - F.year("cohort_month")) * 12
            + (F.month("ts") - F.month("cohort_month"))
        )
        .cast("int")
        .alias("age_months"),
        F.round(F.col("value") * 100).cast("long").alias("vu"),
    )
    grid = activity.groupBy("cohort_month", "age_months").agg(
        F.sum("vu").cast("long").alias("month_units"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w = (
        W.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return grid.select(
        "cohort_month",
        "age_months",
        "n_events",
        (F.col("month_units") / F.lit(100.0)).alias("month_value"),
        (F.sum("month_units").over(w).cast("long") / F.lit(100.0)).alias(
            "cumulative_value"
        ),
    )


@register(
    "event_transitions",
    ops=("W2", "A1", "O1", "O2"),
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), trans AS (
            SELECT prev_type AS from_type, event_type AS to_type,
                   CAST(COUNT(*) AS BIGINT) AS n_transitions
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        )
        SELECT from_type, to_type, n_transitions,
               CAST(n_transitions AS DOUBLE)
                 / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
                   AS p_transition
        FROM trans
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-path transition matrix (first-order Markov estimate):
    consecutive event-type pairs per user, counted corpus-wide, with
    each row's conditional probability P(to | from) — the model behind
    next-action prediction and funnel-drop diagnosis.

    Scale: one shuffle on user_id for the lag window (the per-user
    sequence is the unit of work, the standard sessionization
    partitioning); the transition aggregate and the per-from_type
    probability window both run on the TYPE x TYPE matrix —
    metadata-scale. The probability is a division of exact integer
    counts: bit-stable."""
    events = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.withColumn("prev_type", F.lag("event_type").over(w))
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    w_from = W.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_from).cast("double")
        ).alias("p_transition"),
    )


@register(
    "gaps_islands_streaks",
    ops=("W2", "A1", "A6", "F8"),
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ), numbered AS (
            SELECT user_id, d,
                   d - CAST(ROW_NUMBER() OVER (
                           PARTITION BY user_id ORDER BY d
                       ) AS INTEGER) AS island_key
            FROM days
        ), islands AS (
            SELECT user_id, island_key,
                   CAST(COUNT(*) AS BIGINT) AS streak_len
            FROM numbered
            GROUP BY user_id, island_key
        )
        SELECT user_id,
               CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(MAX(streak_len) AS BIGINT) AS longest_streak
        FROM islands
        GROUP BY user_id
    """,
)
def gaps_islands_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user runs of consecutive active days
    (login-streak analytics). The classic formulation — day minus its
    per-user row_number is constant within a consecutive run — needs
    no self-join and no iteration.

    Scale: distinct days then the window both partition by user_id
    (one shuffle, reused); the island aggregate and the per-user
    rollup ride the same partitioning. Day counts per user are
    bounded (days, not events), so the window never sees a hot
    unbounded partition."""
    days = (
        load(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("d")
    numbered = days.withColumn(
        "island_key", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    islands = numbered.groupBy("user_id", "island_key").agg(
        F.count(F.lit(1)).cast("long").alias("streak_len")
    )
    return islands.groupBy("user_id").agg(
        F.sum("streak_len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("streak_len").cast("long").alias("longest_streak"),
    )


_PR_SCALE = 1_000_000_000_000  # rank fixed-point scale (1e12)
_PR_ITERS = 10
_PR_DAMP_NUM, _PR_DAMP_DEN = 85, 100  # damping 0.85 as a ratio
#: hard cap on the node vocabulary the driver-side rank fold accepts:
#: the (src, dst, w) collect is |nodes|^2-bounded (~128 MB of rows at
#: the cap with full density) — far above any event-type vocabulary,
#: far below driver memory, and loud when violated (ADVICE r11).
_PR_MAX_NODES = 2_000


def _sql_pagerank_ctes() -> str:
    """Unrolled PageRank iterations as DuckDB CTEs (recursive terms
    cannot aggregate, so the fixed iteration count is generated — the
    same trick as sql_kmeans_ctes). All arithmetic is BIGINT with
    floor division, so every iteration is bit-identical to the Spark
    loop."""
    parts = [
        f"""seq AS (
            SELECT user_id, event_id, event_type, ts,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), edges AS (
            SELECT prev_type AS src, event_type AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        ), nodes AS (
            SELECT DISTINCT event_type AS node FROM events
        ), nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes
        ), outw AS (
            SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src
        ), pr_0 AS (
            SELECT node, {_PR_SCALE} // n.n_nodes AS rank
            FROM nodes, nn n
        )"""
    ]
    for t in range(1, _PR_ITERS + 1):
        parts.append(
            f"""contrib_{t} AS (
            SELECT e.dst AS node,
                   CAST(SUM((p.rank * e.w) // o.out_w) AS BIGINT) AS c
            FROM edges e
            JOIN pr_{t - 1} p ON e.src = p.node
            JOIN outw o ON e.src = o.src
            GROUP BY e.dst
        ), pr_{t} AS (
            SELECT nodes.node,
                   ({15 * _PR_SCALE} // ({_PR_DAMP_DEN} * n.n_nodes))
                       + ({_PR_DAMP_NUM} * COALESCE(c.c, 0)) // {_PR_DAMP_DEN}
                       AS rank
            FROM nodes
            LEFT JOIN contrib_{t} c ON nodes.node = c.node
            CROSS JOIN nn n
        )"""
        )
    return ", ".join(parts)


@register(
    "pagerank_event_graph",
    ops=("W2", "A1", "J2", "O1"),
    oracle=f"""
        WITH {_sql_pagerank_ctes()}
        SELECT node AS event_type,
               rank AS pagerank_units,
               CAST(rank AS DOUBLE) / {_PR_SCALE} AS pagerank
        FROM pr_{_PR_ITERS}
        ORDER BY pagerank_units DESC, event_type
    """,
)
def pagerank_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-transition digraph (nodes = event
    types, edge weights = observed transition counts) — the iterative
    graph-algorithm shape (GraphX/Pregel's hello-world) expressed as a
    fixed number of join+aggregate rounds. Ranks live in BIGINT
    fixed-point (1e12 units) with floor division everywhere, so the
    order-dependent float summation that makes textbook PageRank
    irreproducible across engines disappears: ten iterations replay
    bit-for-bit in the oracle's unrolled CTE chain.

    Scale: the DATA-scale work — sessionized transition counting over
    every event — is one distributed window + aggregate; what comes
    back to the driver is the (src, dst, w) transition matrix, bounded
    by the event-type VOCABULARY squared at any corpus size (the
    kmeans_units / classifier bounded-collect pattern, and the same
    bound the oracle's nodes CTE relies on). The 10 rank iterations
    then run as an integer fold over that metadata: r11 measured the
    previous distributed form of this loop at 81 driver-latency-bound
    stages (10 rounds x checkpoint + broadcast join over a
    vocabulary-sized rank vector) for 0.7 s of actual task time —
    distributing a metadata-sized recurrence is pure overhead at every
    scale. On a graph whose NODE set grows with the data (user graph,
    url graph) the distributed round loop of connected_components is
    the right shape instead; this operator's nodes are event types.

    NOTE the builder is EAGER (ADVICE r11): the two bounded collects
    run at plan-construction time, so an explain-only consumer pays
    the transition-counting job. The driver-memory safety of the
    collects is the vocabulary bound, checked on a scalar count before
    either runs — a caller whose event_type column is secretly
    high-cardinality (user ids, urls) fails loudly instead of OOMing
    the driver."""
    events = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    nodes = events.select(F.col("event_type").alias("node")).distinct()
    # the bound is checked on a scalar count BEFORE either collect runs:
    # the transition collect is |nodes|^2 rows, so checking afterwards
    # would let a high-cardinality column reach the driver first
    n_nodes = nodes.count()
    if n_nodes > _PR_MAX_NODES:
        raise ValueError(
            f"pagerank_event_graph: {n_nodes} distinct event types exceeds "
            f"the vocabulary bound {_PR_MAX_NODES} the driver-side fold "
            "relies on; for node sets that grow with the data use the "
            "distributed round loop (connected_components' shape)."
        )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.withColumn("prev_type", F.lag("event_type").over(w))
    edge_rows = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .collect()  # bounded: |event types|^2, checked above
    )
    node_rows = sorted(r["node"] for r in nodes.collect())
    base = (15 * _PR_SCALE) // (_PR_DAMP_DEN * n_nodes)
    out_w: dict = {}
    for r in edge_rows:
        out_w[r["src"]] = out_w.get(r["src"], 0) + r["w"]
    rank = {n: _PR_SCALE // n_nodes for n in node_rows}
    for _ in range(_PR_ITERS):
        c = dict.fromkeys(node_rows, 0)
        for r in edge_rows:
            # same integer floor-division recurrence the oracle unrolls
            c[r["dst"]] += (rank[r["src"]] * r["w"]) // out_w[r["src"]]
        rank = {
            n: base + (_PR_DAMP_NUM * c[n]) // _PR_DAMP_DEN for n in node_rows
        }
    return spark.createDataFrame(
        [(n, rank[n], rank[n] / float(_PR_SCALE)) for n in node_rows],
        "event_type STRING, pagerank_units BIGINT, pagerank DOUBLE",
    ).orderBy(F.col("pagerank_units").desc(), "event_type")


_ATTR_WINDOW_DAYS = 7


@register(
    "multi_touch_attribution",
    ops=("J6", "W2", "A1", "J4", "U1", "O1"),
    oracle=f"""
        WITH p AS (
            SELECT user_id, event_id AS pid, ts AS pts,
                   CAST(ROUND(value * 100) AS BIGINT) AS vu
            FROM events WHERE event_type = 'purchase'
        ), t AS (
            SELECT user_id, event_id AS tid, ts AS tts, event_type AS ttype
            FROM events WHERE event_type IN ('view', 'click')
        ), cand AS (
            SELECT p.pid, p.vu, t.tid, t.ttype,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.pid ORDER BY t.tts DESC, t.tid DESC
                   ) AS rnk,
                   COUNT(*) OVER (PARTITION BY p.pid) AS n_touch
            FROM p JOIN t
              ON p.user_id = t.user_id
             AND t.tts < p.pts
             AND t.tts >= p.pts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
        ), attributed AS (
            SELECT ttype AS channel,
                   vu // n_touch
                       + CASE WHEN rnk = 1 THEN vu % n_touch ELSE 0 END AS units
            FROM cand
            UNION ALL
            SELECT 'direct', vu FROM p
            WHERE pid NOT IN (SELECT pid FROM cand)
        )
        SELECT channel,
               CAST(COUNT(*) AS BIGINT) AS n_attributions,
               CAST(SUM(units) AS DOUBLE) / 100.0 AS attributed_revenue
        FROM attributed
        GROUP BY channel
        ORDER BY channel
    """,
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits
    equally across the view/click touchpoints in the preceding 7 days
    (last touch absorbs the integer remainder — cents never appear or
    vanish), purchases with no touchpoints attribute to 'direct'. The
    marketing-analytics workhorse, expressed as an interval join +
    per-purchase window + exact integer allocation, so the ledger sums
    to exactly the purchase total and the oracle hash-matches.

    Scale: the touch join is equi on user_id with the 7-day window as
    a residual predicate (per-user activity bounds the fan-out); the
    per-purchase count/rank windows ride the purchase key; 'direct'
    is an anti-join on the same key. No global window, no driver
    logic."""
    events = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("vu"),
    )
    t = events.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("tid"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("ttype"),
    )
    cand = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("tts") < F.col("pts"))
        & (
            F.col("tts")
            >= F.col("pts") - F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAY")
        ),
    )
    w_rank = W.partitionBy("pid").orderBy(F.col("tts").desc(), F.col("tid").desc())
    w_cnt = W.partitionBy("pid")
    # scored feeds both the allocation and the 'direct' anti-join —
    # narrow integer rows, so materialize once rather than running
    # the interval join + windows per consumer.
    scored = cand.select(
        "pid",
        "vu",
        "ttype",
        F.row_number().over(w_rank).alias("rnk"),
        F.count(F.lit(1)).over(w_cnt).alias("n_touch"),
    ).localCheckpoint(eager=True)
    touched = scored.select(
        F.col("ttype").alias("channel"),
        (
            F.expr("vu DIV n_touch")
            + F.when(F.col("rnk") == 1, F.expr("vu % n_touch")).otherwise(0)
        ).alias("units"),
    )
    direct = p.join(scored.select("pid").distinct(), "pid", "left_anti").select(
        F.lit("direct").alias("channel"), F.col("vu").alias("units")
    )
    return (
        touched.unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_attributions"),
            (F.sum("units").cast("double") / 100.0).alias("attributed_revenue"),
        )
        .orderBy("channel")
    )


from martian_moments_spark.llmops.textops import (  # noqa: E402
    portable_hash31,
    sql_portable_hash31,
)


@register(
    "ab_test_lift",
    ops=("A1", "A3", "P12", "O1"),
    oracle=f"""
        WITH arms AS (
            SELECT user_id,
                   CASE WHEN ({sql_portable_hash31("CAST(user_id AS VARCHAR)")}) % 2 = 0
                        THEN 'A' ELSE 'B' END AS arm
            FROM (SELECT DISTINCT user_id FROM events)
        ), per_user AS (
            SELECT a.arm, e.user_id,
                   CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_purch,
                   CAST(SUM(CASE WHEN e.event_type = 'purchase'
                                 THEN CAST(ROUND(e.value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS rev_units
            FROM events e JOIN arms a ON e.user_id = a.user_id
            GROUP BY a.arm, e.user_id
        )
        SELECT arm,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_converted,
               CAST(SUM(CASE WHEN n_purch > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS conversion_rate,
               CAST(SUM(rev_units) AS DOUBLE) / 100.0
                   / CAST(COUNT(*) AS DOUBLE) AS revenue_per_user
        FROM per_user
        GROUP BY arm
        ORDER BY arm
    """,
)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users assign to arms by the portable
    md5 hash (the same deterministic-split machinery as
    deterministic_split — assignment is reproducible on any engine and
    any rerun, the property experiment platforms call "sticky
    bucketing"), then per-arm conversion rate and revenue per user.
    Rates are BIGINT-count ratios, so the readout hash-matches.

    Scale: arm assignment is per-row hash math on the deduped user
    dim; the per-user rollup shuffles once on user_id and the per-arm
    rollup reduces to two rows. Nothing here grows with event volume
    except the first aggregate, which map-side combines."""
    from martian_moments_spark.llmops.textops import portable_hash31

    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    arms = ev.select("user_id").distinct().select(
        "user_id",
        F.when(
            portable_hash31(F.col("user_id").cast("string")) % 2 == 0, "A"
        )
        .otherwise("B")
        .alias("arm"),
    )
    per_user = (
        ev.join(arms, "user_id")
        .groupBy("arm", "user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purch"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("rev_units"),
        )
    )
    converted = F.sum(F.when(F.col("n_purch") > 0, 1).otherwise(0))
    return (
        per_user.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            converted.cast("long").alias("n_converted"),
            (converted.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "conversion_rate"
            ),
            (
                F.sum("rev_units").cast("double")
                / F.lit(100.0)
                / F.count(F.lit(1)).cast("double")
            ).alias("revenue_per_user"),
        )
        .orderBy("arm")
    )


_SWEEP_GAP_S = 1800  # session gap, as in sessionize_events


@register(
    "peak_concurrency_sweep",
    ops=("W2", "A1", "A4", "U1", "O1"),
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_id, ts,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                   LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_s
            FROM events
        ), labeled AS (
            SELECT user_id, ts_s,
                   SUM(CASE WHEN prev_s IS NULL
                                 OR ts_s - prev_s > {_SWEEP_GAP_S}
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_idx
            FROM seq
        ), sessions AS (
            SELECT user_id, session_idx,
                   MIN(ts_s) AS start_s, MAX(ts_s) AS end_s
            FROM labeled GROUP BY user_id, session_idx
        ), points AS (
            SELECT start_s AS t, 1 AS d, user_id, session_idx FROM sessions
            UNION ALL
            SELECT end_s, -1, user_id, session_idx FROM sessions
        ), swept AS (
            SELECT t, d,
                   SUM(d) OVER (
                       ORDER BY t, d DESC, user_id, session_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS conc
            FROM points
        )
        SELECT CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
               CAST(MIN(CASE WHEN conc = (SELECT MAX(conc) FROM swept)
                             THEN t END) AS BIGINT) AS first_peak_ts_s,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM sessions) AS n_sessions
        FROM swept
    """,
)
def peak_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions via a sweep line: sessions (same 30-min
    gap rule as sessionize_events) become +1/-1 boundary points; the
    running sum over the time-ordered points is the live concurrency,
    and its max is the capacity-planning number. Tie order is total
    (time, starts-before-ends, user, session), so both engines sweep
    the identical sequence; all arithmetic is integer epoch seconds.

    Scale: the sweep is TWO-PHASE like the skyline — points bucket by
    hour, each bucket's running sum is a partitioned window (parallel),
    and a tiny prefix sum of per-bucket deltas supplies the carry-in,
    so there is no single-partition global window over the points (the
    oracle's global window is the quadratic-side formulation). Session
    derivation reuses the user_id partitioning established by one
    shuffle."""
    events = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.col("ts").cast("long")
    prev_s = F.lag(ts_s).over(order)
    new_session = F.when(
        prev_s.isNull() | ((ts_s - prev_s) > _SWEEP_GAP_S), 1
    ).otherwise(0)
    labeled = events.select(
        "user_id",
        ts_s.alias("ts_s"),
        F.sum(new_session)
        .over(order.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("session_idx"),
    )
    # sessions is consumed by the point melt AND the n_sessions count;
    # it is 4 longs per session, so materialize once (the narrow-stage
    # checkpoint rule — wide stages recompute instead).
    sessions = (
        labeled.groupBy("user_id", "session_idx")
        .agg(F.min("ts_s").alias("start_s"), F.max("ts_s").alias("end_s"))
        .localCheckpoint(eager=True)
    )
    # Melt each interval to its two sweep points in ONE pass (a union
    # of two selects would evaluate the sessions lineage per branch).
    points = sessions.select(
        "user_id",
        "session_idx",
        F.explode(
            F.array(
                F.struct(F.col("start_s").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("end_s").alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("p"),
    ).select(
        F.col("p.t").alias("t"), F.col("p.d").alias("d"), "user_id", "session_idx"
    ).withColumn("bucket", F.expr("t DIV 3600"))
    w_local = (
        W.partitionBy("bucket")
        .orderBy(F.col("t"), F.col("d").desc(), F.col("user_id"), F.col("session_idx"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = points.withColumn("local_run", F.sum("d").over(w_local))
    bucket_tot = points.groupBy("bucket").agg(F.sum("d").alias("btot"))
    w_prefix = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    prefix = bucket_tot.select(
        "bucket", F.coalesce(F.sum("btot").over(w_prefix), F.lit(0)).alias("carry")
    )
    # swept is read twice (global peak, then the argmin filter);
    # narrow integer rows — materialize instead of re-sweeping.
    swept = (
        local.join(F.broadcast(prefix), "bucket")
        .withColumn("conc", F.col("carry") + F.col("local_run"))
        .localCheckpoint(eager=True)
    )
    peak = swept.agg(F.max("conc").alias("peak"))
    n_sessions = sessions.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    return (
        swept.crossJoin(F.broadcast(peak))
        .filter(F.col("conc") == F.col("peak"))
        .agg(
            F.max("peak").cast("long").alias("peak_concurrency"),
            F.min("t").cast("long").alias("first_peak_ts_s"),
        )
        .crossJoin(F.broadcast(n_sessions))
    )


@register(
    "cusum_changepoint",
    ops=("W2", "A1", "A5", "O1"),
    oracle="""
        WITH u AS (
            SELECT user_id, event_id, ts,
                   CAST(ROUND(value * 100) AS BIGINT) AS vu
            FROM events
        ), stats AS (
            SELECT user_id,
                   CAST(SUM(vu) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM u GROUP BY user_id
        ), walk AS (
            SELECT u.user_id, u.event_id, u.ts, st.n,
                   SUM(u.vu * st.n - st.s) OVER (
                       PARTITION BY u.user_id ORDER BY u.ts, u.event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cusum_scaled,
                   ROW_NUMBER() OVER (
                       PARTITION BY u.user_id ORDER BY u.ts, u.event_id
                   ) AS k
            FROM u JOIN stats st ON u.user_id = st.user_id
        )
        , peaked AS (
            SELECT *, MAX(abs(cusum_scaled)) OVER (PARTITION BY user_id) AS peak
            FROM walk
        )
        SELECT user_id,
               CAST(MAX(abs(cusum_scaled)) AS BIGINT) AS max_abs_cusum_scaled,
               CAST(MIN(CASE WHEN abs(cusum_scaled) = peak THEN k END)
                    AS BIGINT) AS changepoint_k,
               CAST(MAX(n) AS BIGINT) AS n_events
        FROM peaked
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint localization per user: the running sum of
    (value - user mean) peaks, in absolute value, exactly where the
    series' level shifts — the classic offline changepoint statistic.
    Mean subtraction is cleared of division (``vu*n - s`` scales the
    deviation by n), so the whole walk is BIGINT and the argmax
    position is engine-exact; ties localize to the earliest index.

    Scale: the per-user mean is a grouped aggregate re-joined on the
    same user_id partitioning the cumsum window uses (one shuffle
    serves both); per-user series are bounded. A streaming deployment
    maintains the same scaled deviations incrementally (the sum and n
    are algebraic partials, like every sketch here)."""
    u = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("vu"),
    )
    stats = u.groupBy("user_id").agg(
        F.sum("vu").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    walk = u.join(stats, "user_id").select(
        "user_id",
        F.col("n"),
        F.sum(F.col("vu") * F.col("n") - F.col("s"))
        .over(order.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cusum_scaled"),
        F.row_number().over(order).alias("k"),
    )
    peak = F.max(F.abs(F.col("cusum_scaled"))).over(W.partitionBy("user_id"))
    flagged = walk.withColumn("peak", peak)
    return (
        flagged.groupBy("user_id")
        .agg(
            F.max(F.abs(F.col("cusum_scaled"))).cast("long").alias(
                "max_abs_cusum_scaled"
            ),
            F.min(
                F.when(F.abs(F.col("cusum_scaled")) == F.col("peak"), F.col("k"))
            )
            .cast("long")
            .alias("changepoint_k"),
            F.max("n").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


_SURV_OFFSETS = (1, 3, 7, 14, 21)  # days since first view (data spans ~30)


@register(
    "survival_conversion_curve",
    ops=("A1", "A5", "J3", "U1", "F9", "O1"),
    oracle=f"""
        WITH entry AS (
            SELECT user_id, MIN(ts) AS t0 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), conv AS (
            SELECT e.user_id, MIN(ev.ts) AS t_conv
            FROM entry e JOIN events ev
              ON ev.user_id = e.user_id
             AND ev.event_type = 'purchase' AND ev.ts > e.t0
            GROUP BY e.user_id
        ), horizon AS (
            SELECT MAX(ts) AS t_max FROM events
        ), cohort AS (
            SELECT e.user_id, e.t0, c.t_conv, h.t_max
            FROM entry e
            LEFT JOIN conv c ON e.user_id = c.user_id
            CROSS JOIN horizon h
        ), offsets AS (
            SELECT unnest([{", ".join(str(d) for d in _SURV_OFFSETS)}]) AS day_offset
        )
        SELECT o.day_offset,
               CAST(SUM(CASE WHEN ch.t_max >= ch.t0 + o.day_offset * INTERVAL 1 DAY
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_at_risk,
               CAST(SUM(CASE WHEN ch.t_max >= ch.t0 + o.day_offset * INTERVAL 1 DAY
                              AND ch.t_conv IS NOT NULL
                              AND ch.t_conv <= ch.t0 + o.day_offset * INTERVAL 1 DAY
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
               CASE WHEN SUM(CASE WHEN ch.t_max >= ch.t0 + o.day_offset * INTERVAL 1 DAY
                              THEN 1 ELSE 0 END) = 0 THEN NULL
                    ELSE 1.0 - CAST(SUM(CASE WHEN ch.t_max >= ch.t0 + o.day_offset * INTERVAL 1 DAY
                              AND ch.t_conv IS NOT NULL
                              AND ch.t_conv <= ch.t0 + o.day_offset * INTERVAL 1 DAY
                             THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(CASE WHEN ch.t_max >= ch.t0 + o.day_offset * INTERVAL 1 DAY
                             THEN 1 ELSE 0 END) AS DOUBLE) END AS survival_share
        FROM cohort ch CROSS JOIN offsets o
        GROUP BY o.day_offset
        ORDER BY o.day_offset
    """,
)
def survival_conversion_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-censored conversion survival curve: for each day offset
    since a user's first view, the share who have NOT yet purchased —
    counting only users whose observation window actually reaches the
    offset (censoring at the dataset horizon; naive funnel rates
    understate late conversion by ignoring it). Counts are BIGINT,
    shares one double division.

    Scale: entry and conversion are user-keyed MIN aggregates sharing
    one partitioning; the horizon is a 1-row broadcast; the offsets
    axis is a 5-row broadcast crossJoin (per-user work is 5 CASE
    evaluations, not a join explosion). This is the lazy-evaluated
    cousin of retention_cohorts with explicit censoring."""
    events = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    entry = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .join(entry, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_conv"))
    )
    horizon = events.agg(F.max("ts").alias("t_max"))
    cohort = (
        entry.join(conv, "user_id", "left").crossJoin(F.broadcast(horizon))
    )
    offsets = F.explode(
        F.array(*[F.lit(d) for d in _SURV_OFFSETS])
    ).alias("day_offset")
    expanded = cohort.select("t0", "t_conv", "t_max", offsets)
    deadline = F.col("t0") + F.col("day_offset") * F.expr("INTERVAL 1 DAY")
    at_risk = F.when(F.col("t_max") >= deadline, 1).otherwise(0)
    converted = F.when(
        (F.col("t_max") >= deadline)
        & F.col("t_conv").isNotNull()
        & (F.col("t_conv") <= deadline),
        1,
    ).otherwise(0)
    return (
        expanded.groupBy("day_offset")
        .agg(
            F.sum(at_risk).cast("long").alias("n_at_risk"),
            F.sum(converted).cast("long").alias("n_converted"),
            F.when(
                F.sum(at_risk) == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.lit(1.0)
                - F.sum(converted).cast("double") / F.sum(at_risk).cast("double")
            )
            .alias("survival_share"),
        )
        .orderBy("day_offset")
    )


@register(
    "repeat_purchase_dynamics",
    ops=("W2", "A1", "A2", "O1"),
    oracle="""
        WITH p AS (
            SELECT user_id, ts, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                   LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_s
            FROM events WHERE event_type = 'purchase'
        ), per_user AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases
            FROM p GROUP BY user_id
        ), gaps AS (
            SELECT ts_s - prev_s AS gap_s FROM p WHERE prev_s IS NOT NULL
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_buyers,
               CAST(SUM(CASE WHEN n_purchases >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_repeat_buyers,
               CAST(SUM(CASE WHEN n_purchases >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS repeat_rate,
               (SELECT quantile_cont(gap_s, 0.5) FROM gaps) AS median_gap_s,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM gaps) AS n_gaps
        FROM per_user
    """,
)
def repeat_purchase_dynamics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase behavior: how many buyers come back (>=2
    purchases) and the exact interpolated median gap between
    consecutive purchases — the retention economics pair (repeat rate
    x purchase frequency) every growth model starts from. Gaps are
    integer epoch seconds from a per-user lag window; the median is
    the engine-matching exact percentile.

    Scale: one shuffle on user_id serves the lag window and the
    per-user count; the gap median is a scalar aggregate over the
    gaps (swap hist_quantile at unbounded scale). Purchases only —
    the scan prunes the other event types at the source."""
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", F.col("ts").cast("long").alias("ts_s"))
    )
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    with_prev = p.withColumn("prev_s", F.lag("ts_s").over(order))
    per_user = with_prev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases")
    )
    gaps = with_prev.filter(F.col("prev_s").isNotNull()).select(
        (F.col("ts_s") - F.col("prev_s")).alias("gap_s")
    )
    gap_stats = gaps.agg(
        F.percentile("gap_s", F.lit(0.5)).alias("median_gap_s"),
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
    )
    repeat = F.sum(F.when(F.col("n_purchases") >= 2, 1).otherwise(0))
    return (
        per_user.agg(
            F.count(F.lit(1)).cast("long").alias("n_buyers"),
            repeat.cast("long").alias("n_repeat_buyers"),
            (repeat.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "repeat_rate"
            ),
        )
        .crossJoin(F.broadcast(gap_stats))
        .select(
            "n_buyers", "n_repeat_buyers", "repeat_rate", "median_gap_s", "n_gaps"
        )
    )


@register(
    "weekday_hour_heatmap",
    ops=("A1", "A5", "F8", "O1"),
    oracle="""
        WITH cell AS (
            SELECT CAST(dayofweek(ts) AS INT) AS dow,
                   CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY dayofweek(ts), EXTRACT(hour FROM ts)
        ), tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_all,
                   CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM cell
        )
        SELECT c.dow, c.hr, c.n,
               CAST(c.n AS DOUBLE) * CAST(t.n_cells AS DOUBLE)
                   / CAST(t.n_all AS DOUBLE) AS load_ratio
        FROM cell c CROSS JOIN tot t
        ORDER BY c.dow, c.hr
    """,
)
def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality heatmap: event load per (weekday, hour) cell and
    its ratio to a uniform spread — the capacity/staffing view of
    traffic shape (load_ratio > 1 = hot cell). DuckDB's dayofweek
    (0=Sunday..) differs from Spark's dayofweek (1=Sunday..) by
    exactly one, so the Spark side subtracts 1 to the same numbering.

    Scale: one bounded-cardinality (<=168 cells) aggregate with
    map-side combine plus a scalar broadcast — the cheapest possible
    profile of an unbounded stream's history."""
    cell = (
        load(spark, sf_dir, "events")
        .groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cell.agg(
        F.sum("n").alias("n_all"), F.count(F.lit(1)).cast("long").alias("n_cells")
    )
    return (
        cell.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hr",
            "n",
            (
                F.col("n").cast("double")
                * F.col("n_cells").cast("double")
                / F.col("n_all").cast("double")
            ).alias("load_ratio"),
        )
        .orderBy("dow", "hr")
    )


INTERVAL_HOLD_S = 1800  # each event opens a 30-minute activity interval


@register(
    "interval_union_coverage",
    ops=("W2", "A1", "A4", "F8"),
    oracle=f"""
        WITH ev AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s,
                   CAST(floor(epoch(ts)) AS BIGINT) + {INTERVAL_HOLD_S} AS e
            FROM events
        ), marked AS (
            SELECT user_id, event_id, s, e,
                   CASE WHEN MAX(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR s > MAX(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        )
                        THEN 1 ELSE 0 END AS is_new
            FROM ev
        ), isl AS (
            SELECT user_id, s, e,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM marked
        ), per_isl AS (
            SELECT user_id, island,
                   MIN(s) AS st, MAX(e) AS en, COUNT(*) AS n_ev
            FROM isl GROUP BY user_id, island
        )
        SELECT user_id,
               CAST(SUM(n_ev) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(en - st) AS BIGINT) AS covered_seconds,
               CAST(MAX(en - st) AS BIGINT) AS longest_island_seconds
        FROM per_isl GROUP BY user_id
    """,
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage — merge overlapping per-user activity
    intervals (each event holds a 30-minute window open) and report
    merged-island counts and total covered seconds: the utilization /
    billable-time shape, distinct from gaps_islands_streaks (which
    runs on DISCRETE days; this merges CONTINUOUS, arbitrarily
    overlapping ranges). The merge is the running-max formulation: an
    interval starts a new island iff its start exceeds the max end of
    every earlier interval — no self-join, no explosion of the
    interval lengths into rows.

    Epochs are floor()ed on both engines (Spark's cast-to-long
    truncation == floor for positive epochs; the oracle floors
    explicitly) so boundary timestamps can't flip island membership.

    Scale: ONE shuffle on user_id feeds both running windows and the
    island aggregate (same partitioning and order — Catalyst fuses
    them into one Window operator); per-user state is a running max.
    At 100 TB this is the sessionize plan with a different reducer."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + INTERVAL_HOLD_S).alias("e"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_end = F.max("e").over(w_prev)
    marked = ev.withColumn(
        "is_new",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    )
    isl = marked.withColumn("island", F.sum("is_new").over(w_run))
    per_isl = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("st"), F.max("e").alias("en"), F.count(F.lit(1)).alias("n_ev")
    )
    return per_isl.groupBy("user_id").agg(
        F.sum("n_ev").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("en") - F.col("st")).cast("long").alias("covered_seconds"),
        F.max(F.col("en") - F.col("st")).cast("long").alias("longest_island_seconds"),
    )


@register(
    "event_state_run_lengths",
    ops=("W2", "A1", "A4", "F8"),
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id, event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s
            FROM events
        ), marked AS (
            SELECT user_id, event_id, event_type, s,
                   CASE WHEN LAG(event_type) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                        ) IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS is_new
            FROM ev
        ), runs AS (
            SELECT user_id, event_type, s,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS run_seq
            FROM marked
        )
        SELECT user_id, CAST(run_seq AS BIGINT) AS run_seq, event_type,
               CAST(COUNT(*) AS BIGINT) AS run_len,
               CAST(MIN(s) AS BIGINT) AS start_s,
               CAST(MAX(s) AS BIGINT) AS end_s
        FROM runs GROUP BY user_id, run_seq, event_type
    """,
)
def event_state_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of each user's event-type sequence: maximal
    runs of the same consecutive type, with length and time extent —
    the sequence-compression view behind dwell analysis ("5 views in
    a row, then a purchase") and Markov-input construction. A run
    boundary is a LAG inequality (null-safe: the first event opens run
    1 on both engines via IS DISTINCT FROM); run ids are the running
    sum of boundaries — the standard two-window RLE, no self-join.

    Scale: one shuffle on user_id; both windows and the final rollup
    share its partitioning (single sort, fused Window operator);
    per-user state is one lag value. The run rollup is
    map-side-combinable on (user, run)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("s")
    )
    w_ord = W.partitionBy("user_id").orderBy("s", "event_id")
    w_run = w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    marked = ev.withColumn(
        "is_new",
        F.when(
            ~F.lag("event_type").over(w_ord).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    runs = marked.withColumn("run_seq", F.sum("is_new").over(w_run).cast("long"))
    return runs.groupBy("user_id", "run_seq", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("run_len"),
        F.min("s").cast("long").alias("start_s"),
        F.max("s").cast("long").alias("end_s"),
    )


@register(
    "theil_sen_daily_trend",
    ops=("A1", "J2", "W2", "F8"),
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(ts AS DATE) - DATE '1970-01-01' AS d,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), pairs AS (
            SELECT a.event_type,
                   a.d AS d1, b.d AS d2,
                   CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.d < b.d
        ), ranked AS (
            SELECT event_type, slope,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY slope, d1, d2) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
            FROM pairs
        ), days AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily
            GROUP BY event_type
        )
        SELECT r.event_type, y.n_days, CAST(r.n_pairs AS BIGINT) AS n_pairs,
               r.slope AS theil_sen_slope
        FROM ranked r JOIN days y ON r.event_type = y.event_type
        WHERE r.rn = (r.n_pairs + 1) // 2
    """,
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily event volume per type: the
    (lower) median over all pairwise day-to-day slopes — the
    outlier-resistant complement to per_user_trend's least squares
    (one corrupted day moves OLS arbitrarily; it moves the pairwise
    median not at all, up to a 29% breakdown point). Each slope is a
    single exact double division of integers; the median is picked by
    deterministic rank, not interpolation, so the result is
    bit-stable cross-engine.

    Scale: the pair join runs on the DAILY rollup — D rows per key
    after one map-side-combined aggregate — so the quadratic is
    D(D-1)/2 per key (bounded by the calendar, not the corpus: 1 year
    -> ~66k pairs) and the corpus-sized input is touched exactly
    once. The rank window partitions on event_type with that same
    bounded cardinality."""
    ev = load(spark, sf_dir, "events").select("event_type", F.col("ts").cast("date").alias("dt"))
    daily = (
        ev.groupBy("event_type", "dt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "event_type",
            F.datediff(F.col("dt"), F.lit("1970-01-01").cast("date")).cast("long").alias("d"),
            "c",
        )
    )
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("c").alias("c1"))
    b = daily.select("event_type", F.col("d").alias("d2"), F.col("c").alias("c2"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            "d1",
            "d2",
            (
                (F.col("c2") - F.col("c1")).cast("double")
                / (F.col("d2") - F.col("d1")).cast("double")
            ).alias("slope"),
        )
    )
    w = W.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w.orderBy("slope", "d1", "d2")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_pairs"),
    )
    days = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        # integer floor-div: Spark's `/` is FLOAT division, which would
        # silently match nothing whenever n_pairs is even
        ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
        .join(F.broadcast(days), "event_type")
        .select(
            "event_type",
            "n_days",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope").alias("theil_sen_slope"),
        )
    )


AUTOCORR_LAGS = (1, 7)  # day-over-day persistence and weekly seasonality


@register(
    "daily_autocorrelation",
    ops=("A1", "J2", "F8"),
    oracle=f"""
        WITH daily AS (
            SELECT event_type,
                   CAST(ts AS DATE) - DATE '1970-01-01' AS d,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), lags AS (
            SELECT unnest([{", ".join(str(k) for k in AUTOCORR_LAGS)}]) AS lag_k
        ), paired AS (
            SELECT a.event_type, l.lag_k, a.c AS x, b.c AS y
            FROM daily a CROSS JOIN lags l
            JOIN daily b ON b.event_type = a.event_type AND b.d = a.d + l.lag_k
        ), s AS (
            SELECT event_type, lag_k,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) AS syy
            FROM paired GROUP BY event_type, lag_k
        )
        SELECT event_type, CAST(lag_k AS INT) AS lag_k, n AS n_pairs,
               CASE WHEN (n * sxx - CAST(sx AS HUGEINT) * sx) > 0
                     AND (n * syy - CAST(sy AS HUGEINT) * sy) > 0
                    THEN CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                         / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                                * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
                    ELSE NULL END AS autocorr
        FROM s
        ORDER BY event_type, lag_k
    """,
)
def daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k Pearson autocorrelation of daily event volume per type,
    at k=1 (day-over-day persistence) and k=7 (weekly seasonality) —
    computed by the closed form on exact BIGINT sums, like
    per_user_trend: every moment is an integer aggregate (any
    summation order), and the final expression is four exactly-rounded
    double ops evaluated in the same tree on both engines. Degenerate
    (zero-variance) series yield NULL, not a 0/0 NaN.

    Scale: the lag pairing is an equi-join of the DAILY rollup with
    itself on (type, day+k) — calendar-bounded rows, corpus touched
    once; moments are one map-side-combined aggregate per (type,
    lag)."""
    daily = (
        load(spark, sf_dir, "events")
        .select("event_type", F.col("ts").cast("date").alias("dt"))
        .groupBy("event_type", "dt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "event_type",
            F.datediff(F.col("dt"), F.lit("1970-01-01").cast("date")).cast("long").alias("d"),
            "c",
        )
    )
    lags = spark.createDataFrame([(k,) for k in AUTOCORR_LAGS], "lag_k long")
    a = daily.select("event_type", F.col("d").alias("da"), F.col("c").alias("x"))
    b = daily.select("event_type", F.col("d").alias("db"), F.col("c").alias("y"))
    paired = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("db", F.col("da") + F.col("lag_k"))
        .join(b, ["event_type", "db"])
    )
    # second moments and the closed-form products in DECIMAL(38,0)
    # (HUGEINT in the oracle): daily volumes grow with the corpus, so
    # BIGINT x*y and sx*sx overflow at deployment scale
    s = paired.groupBy("event_type", "lag_k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    sx_w = F.col("sx").cast("decimal(38,0)")
    sy_w = F.col("sy").cast("decimal(38,0)")
    vx = F.col("n") * F.col("sxx") - sx_w * F.col("sx")
    vy = F.col("n") * F.col("syy") - sy_w * F.col("sy")
    num = F.col("n") * F.col("sxy") - sx_w * F.col("sy")
    return s.select(
        "event_type",
        F.col("lag_k").cast("int").alias("lag_k"),
        F.col("n").alias("n_pairs"),
        F.when(
            (vx > 0) & (vy > 0),
            num.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")),
        ).alias("autocorr"),
    ).orderBy("event_type", "lag_k")


@register(
    "transition_graph_stats",
    ops=("W2", "A1", "A2", "J2"),
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), edges AS (
            SELECT DISTINCT prev_type AS src, event_type AS dst
            FROM seq WHERE prev_type IS NOT NULL
        ), nodes AS (
            SELECT DISTINCT event_type AS node FROM events
        ), outd AS (
            SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS out_degree,
                   CAST(SUM(CASE WHEN e.src = e.dst THEN 1 ELSE 0 END) AS BIGINT) AS self_loops,
                   CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS reciprocated
            FROM edges e
            LEFT JOIN (SELECT src, dst FROM edges) r
              ON r.src = e.dst AND r.dst = e.src
            GROUP BY e.src
        ), ind AS (
            SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_degree
            FROM edges GROUP BY dst
        )
        SELECT n.node AS event_type,
               COALESCE(o.out_degree, 0) AS out_degree,
               COALESCE(i.in_degree, 0) AS in_degree,
               COALESCE(o.self_loops, 0) AS self_loops,
               CASE WHEN COALESCE(o.out_degree, 0) > 0
                    THEN CAST(o.reciprocated AS DOUBLE) / CAST(o.out_degree AS DOUBLE)
                    ELSE 0.0 END AS reciprocity
        FROM nodes n
        LEFT JOIN outd o ON o.node = n.node
        LEFT JOIN ind i ON i.node = n.node
        ORDER BY event_type
    """,
)
def transition_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree/reciprocity profile of the event-transition digraph (the
    structural companion to pagerank_event_graph's centrality): per
    node, distinct out/in degree, self-loops, and the fraction of
    out-edges whose reverse edge also exists — the reciprocity that
    separates funnel-like flows (view->buy, no return) from oscillating
    ones (view<->click). Edge existence is the DISTINCT transition
    set, so hot transitions don't inflate structure metrics.

    Scale: sequence lag is the one user-keyed window; the distinct
    edge set is at most |types|^2 rows — every later join is on a
    vocabulary-sized frame."""
    events = load(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .distinct()
    )
    rev = edges.select(F.col("src").alias("r_src"), F.col("dst").alias("r_dst"))
    outd = (
        edges.join(
            rev, (F.col("r_src") == F.col("dst")) & (F.col("r_dst") == F.col("src")), "left"
        )
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).cast("long").alias("out_degree"),
            F.sum(F.when(F.col("src") == F.col("dst"), 1).otherwise(0))
            .cast("long")
            .alias("self_loops"),
            F.sum(F.when(F.col("r_src").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("reciprocated"),
        )
    )
    ind = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("in_degree")
    )
    nodes = events.select(F.col("event_type").alias("node")).distinct()
    out_deg = F.coalesce(F.col("out_degree"), F.lit(0)).cast("long")
    return (
        nodes.join(outd, nodes.node == outd.src, "left")
        .join(ind, "node", "left")
        .select(
            F.col("node").alias("event_type"),
            out_deg.alias("out_degree"),
            F.coalesce(F.col("in_degree"), F.lit(0)).cast("long").alias("in_degree"),
            F.coalesce(F.col("self_loops"), F.lit(0)).cast("long").alias("self_loops"),
            F.when(
                out_deg > 0,
                F.col("reciprocated").cast("double") / out_deg.cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("reciprocity"),
        )
        .orderBy("event_type")
    )


@register(
    "survivorship_golden_record",
    ops=("W2", "A4", "N1", "J3"),
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id, event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s,
                   CAST(round(value * 100) AS BIGINT) AS v_cents,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events
        ), ranked AS (
            SELECT user_id, event_type, s, v_cents, k,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY s DESC, event_id DESC
                   ) AS rn
            FROM ev
        ), latest AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'purchase' AND rn = 1 THEN v_cents END)
                       AS last_purchase_cents,
                   MAX(CASE WHEN event_type = 'click' AND rn = 1 THEN k END)
                       AS last_click_k,
                   MAX(CASE WHEN event_type = 'signup' AND rn = 1 THEN s END)
                       AS signup_s,
                   CAST(COUNT(DISTINCT CASE WHEN event_type IN ('purchase', 'click', 'signup')
                        THEN event_type END) AS BIGINT) AS n_attr_sources
            FROM ranked GROUP BY user_id
        )
        SELECT user_id, last_purchase_cents, last_click_k, signup_s, n_attr_sources,
               n_attr_sources = 3 AS is_complete
        FROM latest
    """,
)
def survivorship_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge (golden record): each user's unified profile
    assembled attribute-BY-attribute from different record types —
    latest purchase amount, latest click payload, signup time — the
    MDM rule that differs from dedup_last_writer (which keeps one
    whole winning ROW; survivorship lets every attribute pick its own
    most-recent source). Completeness counts how many attribute
    sources exist per user.

    Scale: one shuffle on (user, type) for the recency rank, then a
    per-user conditional rollup — the rank partition is per
    attribute-source, so one hyperactive event type never widens
    another's partition."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("s"),
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("s").desc(), F.col("event_id").desc()
    )
    ranked = ev.withColumn("rn", F.row_number().over(w))
    is_rn1 = F.col("rn") == 1
    latest = ranked.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & is_rn1, F.col("v_cents"))
        ).alias("last_purchase_cents"),
        F.max(F.when((F.col("event_type") == "click") & is_rn1, F.col("k"))).alias(
            "last_click_k"
        ),
        F.max(F.when((F.col("event_type") == "signup") & is_rn1, F.col("s"))).alias(
            "signup_s"
        ),
        F.count_distinct(
            F.when(
                F.col("event_type").isin("purchase", "click", "signup"),
                F.col("event_type"),
            )
        )
        .cast("long")
        .alias("n_attr_sources"),
    )
    return latest.select(
        "user_id",
        "last_purchase_cents",
        "last_click_k",
        "signup_s",
        "n_attr_sources",
        (F.col("n_attr_sources") == 3).alias("is_complete"),
    )


@register(
    "seasonal_naive_forecast_error",
    ops=("A1", "J2", "F8"),
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(ts AS DATE) - DATE '1970-01-01' AS d,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), err AS (
            SELECT a.event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_scored,
                   CAST(SUM(abs(a.c - w.c)) AS BIGINT) AS sae_seasonal,
                   CAST(SUM(abs(a.c - p.c)) AS BIGINT) AS sae_naive
            FROM daily a
            JOIN daily w ON w.event_type = a.event_type AND w.d = a.d - 7
            JOIN daily p ON p.event_type = a.event_type AND p.d = a.d - 1
            GROUP BY a.event_type
        )
        SELECT event_type, n_scored,
               CAST(sae_seasonal AS DOUBLE) / CAST(n_scored AS DOUBLE) AS mae_seasonal,
               CAST(sae_naive AS DOUBLE) / CAST(n_scored AS DOUBLE) AS mae_naive,
               CASE WHEN sae_naive > 0
                    THEN CAST(sae_seasonal AS DOUBLE) / CAST(sae_naive AS DOUBLE)
                    ELSE NULL END AS mase_vs_naive
        FROM err ORDER BY event_type
    """,
)
def seasonal_naive_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the two zero-parameter forecasters on daily volume:
    seasonal-naive (predict this weekday's count with last week's) vs
    naive-1 (predict with yesterday's), scored only on days where BOTH
    predictions exist so the ratio compares like with like. The
    MASE-style ratio < 1 means weekly seasonality carries real signal
    — the go/no-go gate before fitting any heavier forecaster.
    Absolute errors are integer sums (exact in any order); the two
    MAEs and the ratio are single divisions.

    Scale: everything runs on the calendar-bounded daily rollup; both
    lag joins are equi-joins on (type, day)."""
    daily = (
        load(spark, sf_dir, "events")
        .select("event_type", F.col("ts").cast("date").alias("dt"))
        .groupBy("event_type", "dt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "event_type",
            F.datediff(F.col("dt"), F.lit("1970-01-01").cast("date")).cast("long").alias("d"),
            "c",
        )
    )
    a = daily
    w = daily.select("event_type", F.col("d").alias("dw"), F.col("c").alias("cw"))
    p = daily.select("event_type", F.col("d").alias("dp"), F.col("c").alias("cp"))
    joined = (
        a.withColumn("dw", F.col("d") - 7)
        .join(w, ["event_type", "dw"])
        .withColumn("dp", F.col("d") - 1)
        .join(p, ["event_type", "dp"])
    )
    err = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("c") - F.col("cw"))).cast("long").alias("sae_seasonal"),
        F.sum(F.abs(F.col("c") - F.col("cp"))).cast("long").alias("sae_naive"),
    )
    return err.select(
        "event_type",
        "n_scored",
        (F.col("sae_seasonal").cast("double") / F.col("n_scored").cast("double")).alias(
            "mae_seasonal"
        ),
        (F.col("sae_naive").cast("double") / F.col("n_scored").cast("double")).alias(
            "mae_naive"
        ),
        F.when(
            F.col("sae_naive") > 0,
            F.col("sae_seasonal").cast("double") / F.col("sae_naive").cast("double"),
        ).alias("mase_vs_naive"),
    ).orderBy("event_type")


@register(
    "mann_kendall_trend",
    ops=("A1", "J2", "F8"),
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(ts AS DATE) - DATE '1970-01-01' AS d,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), pairs AS (
            SELECT a.event_type,
                   CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.d < b.d
        ), agg AS (
            SELECT event_type,
                   CAST(SUM(sgn) AS BIGINT) AS s_stat,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
            FROM pairs GROUP BY event_type
        )
        SELECT event_type, s_stat, n_pairs, n_ties,
               CAST(s_stat AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS kendall_tau_a,
               CASE WHEN s_stat > 0 THEN 'increasing'
                    WHEN s_stat < 0 THEN 'decreasing'
                    ELSE 'no_trend' END AS direction
        FROM agg ORDER BY event_type
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test on daily event volume: the S
    statistic (sum of pairwise later-minus-earlier signs) with tie
    count and tau-a — the DIRECTION-significance companion to
    theil_sen_daily_trend's magnitude estimate, and fully
    nonparametric (a monotone transform of the counts leaves S
    unchanged). Pure integer sign counting — nothing to round,
    nothing engine-dependent.

    Scale: pairs form on the calendar-bounded daily rollup (same
    D(D-1)/2 bound as Theil-Sen); one aggregate per type."""
    daily = (
        load(spark, sf_dir, "events")
        .select("event_type", F.col("ts").cast("date").alias("dt"))
        .groupBy("event_type", "dt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "event_type",
            F.datediff(F.col("dt"), F.lit("1970-01-01").cast("date")).cast("long").alias("d"),
            "c",
        )
    )
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("c").alias("c1"))
    b = daily.select("event_type", F.col("d").alias("d2"), F.col("c").alias("c2"))
    sgn = (
        F.when(F.col("c2") > F.col("c1"), 1)
        .when(F.col("c2") < F.col("c1"), -1)
        .otherwise(0)
    )
    agg = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .select("event_type", sgn.alias("sgn"))
        .groupBy("event_type")
        .agg(
            F.sum("sgn").cast("long").alias("s_stat"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("sgn") == 0, 1).otherwise(0)).cast("long").alias("n_ties"),
        )
    )
    return agg.select(
        "event_type",
        "s_stat",
        "n_pairs",
        "n_ties",
        (F.col("s_stat").cast("double") / F.col("n_pairs").cast("double")).alias(
            "kendall_tau_a"
        ),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("no_trend")
        .alias("direction"),
    ).orderBy("event_type")


@register(
    "interarrival_burstiness",
    ops=("W2", "A1", "F8"),
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s
            FROM events
        ), gaps AS (
            SELECT user_id,
                   s - LAG(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS g
            FROM ev
        ), agg AS (
            SELECT user_id,
                   CAST(COUNT(g) AS BIGINT) AS n_gaps,
                   CAST(SUM(g) AS BIGINT) AS sg,
                   CAST(SUM(g * g) AS BIGINT) AS sgg
            FROM gaps WHERE g IS NOT NULL
            GROUP BY user_id
        )
        SELECT user_id, n_gaps,
               CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_s,
               CASE WHEN n_gaps > 1 AND sg > 0
                    THEN sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE)
                              / CAST(n_gaps * (n_gaps - 1) AS DOUBLE))
                         / (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                    ELSE NULL END AS cv_gap,
               CASE WHEN n_gaps > 1 AND sg > 0
                    THEN (sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE)
                               / CAST(n_gaps * (n_gaps - 1) AS DOUBLE))
                          - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                         / (sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE)
                                 / CAST(n_gaps * (n_gaps - 1) AS DOUBLE))
                            + (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                    ELSE NULL END AS burstiness
        FROM agg
    """,
)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user: coefficient of variation of
    the gaps between consecutive events and the Goh–Barabási
    burstiness B = (sigma - mu)/(sigma + mu) — B near -1 is metronome
    traffic, 0 is Poisson, toward +1 is bursty sessions — the traffic-
    shape fingerprint behind rate-limit and capacity planning. Moments
    are BIGINT sums off one LAG pass; sigma and the two ratios are a
    fixed tree of exactly-rounded double ops (sqrt included), so the
    statistic is bit-stable cross-engine.

    Scale: one shuffle on user_id for the lag window; the rollup
    reuses its partitioning."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("long").alias("s")
    )
    w = W.partitionBy("user_id").orderBy("s", "event_id")
    gaps = ev.select(
        "user_id", (F.col("s") - F.lag("s").over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    agg = gaps.groupBy("user_id").agg(
        F.count("g").cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("sg"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("sgg"),
    )
    mean = F.col("sg").cast("double") / F.col("n_gaps").cast("double")
    sigma = F.sqrt(
        (F.col("n_gaps") * F.col("sgg") - F.col("sg") * F.col("sg")).cast("double")
        / (F.col("n_gaps") * (F.col("n_gaps") - 1)).cast("double")
    )
    ok = (F.col("n_gaps") > 1) & (F.col("sg") > 0)
    return agg.select(
        "user_id",
        "n_gaps",
        mean.alias("mean_gap_s"),
        F.when(ok, sigma / mean).alias("cv_gap"),
        F.when(ok, (sigma - mean) / (sigma + mean)).alias("burstiness"),
    )


@register(
    "stickiness_dau_mau",
    ops=("A1", "A2", "J1", "F8"),
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id,
                   CAST(ts AS DATE) AS d,
                   CAST(date_trunc('month', ts) AS DATE) AS m
            FROM events
        ), dau AS (
            SELECT m, d, CAST(COUNT(*) AS BIGINT) AS dau FROM days GROUP BY m, d
        ), mau AS (
            SELECT m, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau FROM days GROUP BY m
        ), davg AS (
            SELECT m, CAST(SUM(dau) AS BIGINT) AS sum_dau,
                   CAST(COUNT(*) AS BIGINT) AS n_days
            FROM dau GROUP BY m
        )
        SELECT a.m AS month, u.mau, a.n_days,
               CAST(a.sum_dau AS DOUBLE) / CAST(a.n_days AS DOUBLE) AS avg_dau,
               CAST(a.sum_dau AS DOUBLE) / CAST(a.n_days AS DOUBLE)
                   / CAST(u.mau AS DOUBLE) AS stickiness
        FROM davg a JOIN mau u ON u.m = a.m
        ORDER BY month
    """,
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month — the engagement ratio
    product teams steer by (what fraction of the monthly audience
    shows up on an average day): average daily active users over
    monthly active users, on the distinct (user, day) activity set so
    event volume can't inflate engagement. Integer counts; the two
    divisions evaluate in the same tree on both engines.

    Scale: one distinct-reduce to (user, day), then month-keyed
    aggregates — DAU sums are map-side-combinable, MAU is one distinct
    count per month."""
    days = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.col("ts").cast("date").alias("d"),
            F.date_trunc("month", "ts").cast("date").alias("m"),
        )
        .distinct()
    )
    dau = days.groupBy("m", "d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    mau = days.groupBy("m").agg(F.count_distinct("user_id").cast("long").alias("mau"))
    davg = dau.groupBy("m").agg(
        F.sum("dau").cast("long").alias("sum_dau"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    avg_dau = F.col("sum_dau").cast("double") / F.col("n_days").cast("double")
    return (
        davg.join(mau, "m")
        .select(
            F.col("m").alias("month"),
            "mau",
            "n_days",
            avg_dau.alias("avg_dau"),
            (avg_dau / F.col("mau").cast("double")).alias("stickiness"),
        )
        .orderBy("month")
    )


PATH_GAP_SECONDS = 1800  # session gap (matches sessionize_events)
PATH_PREFIX_LEN = 5
PATH_TOP_K = 20


@register(
    "sessionized_path_topk",
    ops=("W2", "A1", "O1", "O2"),
    oracle=f"""
        WITH ordered AS (
            SELECT user_id, event_id, ts, event_type,
                   LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_s,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
            FROM events
        ), sess AS (
            SELECT user_id, event_id, ts, event_type,
                   SUM(CASE WHEN prev_s IS NULL OR ts_s - prev_s > {PATH_GAP_SECONDS}
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_idx
            FROM ordered
        ), paths AS (
            SELECT user_id, session_idx,
                   array_to_string(
                       list(event_type ORDER BY ts, event_id)[1:{PATH_PREFIX_LEN}],
                       '>') AS path
            FROM sess GROUP BY user_id, session_idx
        ), counted AS (
            SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
            FROM paths GROUP BY path
        )
        SELECT path, n_sessions, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (
                  ORDER BY n_sessions DESC, path) AS rn FROM counted)
        WHERE rn <= {PATH_TOP_K}
    """,
)
def sessionized_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths: sessionize the event log (30-min gap), take
    each session's first 5 event types in time order as its path
    signature, and rank the most common paths — the navigation-pattern
    mining behind funnel design and bot detection (a path that
    dominates is either your core loop or a scraper).

    Scale: ONE shuffle on user_id covers sessionization AND path
    assembly (the lag window, the session cumsum, and the per-session
    aggregate all share the partitioning); the path rollup then
    shuffles one compact string key with full map-side combine, and
    the top-k is TakeOrderedAndProject, never a global sort. Path
    assembly sorts INSIDE the aggregate via array_sort over (ts,
    event_id, type) structs — deterministic under any partitioning.
    """
    events = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.col("ts").cast("long")
    prev_s = F.lag(ts_s).over(order)
    new_session = F.when(
        prev_s.isNull() | ((ts_s - prev_s) > PATH_GAP_SECONDS), 1
    ).otherwise(0)
    sess = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(new_session)
        .over(order.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_idx"),
    )
    paths = (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.slice(
                    F.transform(F.col("evs"), lambda e: e["event_type"]),
                    1,
                    PATH_PREFIX_LEN,
                ),
                ">",
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    w = W.orderBy(F.col("n_sessions").desc(), "path")
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= PATH_TOP_K)
        .select("path", "n_sessions", "rank")
    )


#: Watermark delays audited by ``watermark_late_event_audit`` (µs).
WM_DELAYS_US = (0, 60_000_000, 300_000_000, 600_000_000)
WM_JITTER_US = 600_000_000  # transport jitter bound: arrival lags
# event time by hash-deterministic 0..10 min
WM_ARRIVAL_BUCKET_US = 86_400_000_000  # arrival µs per range bucket
# (phase-1 split: one bucket per arrival day)


@register(
    "watermark_late_event_audit",
    ops=("W1", "W2", "A1"),
    oracle=f"""
        WITH ev AS (
            SELECT event_id, epoch_us(ts) AS ts_us,
                   epoch_us(ts)
                   + {sql_portable_hash31("'arr:' || CAST(event_id AS VARCHAR)")}
                     % {WM_JITTER_US} AS arrival_us
            FROM events
        ), runmax AS (
            SELECT event_id, ts_us,
                   MAX(ts_us) OVER (ORDER BY arrival_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_max
            FROM ev
        ), delays AS (
            SELECT unnest([{", ".join(str(d) for d in WM_DELAYS_US)}]) AS delay_us
        ), flags AS (
            SELECT d.delay_us,
                   CASE WHEN r.prev_max IS NOT NULL
                             AND r.ts_us < r.prev_max - d.delay_us
                        THEN 1 ELSE 0 END AS dropped,
                   CASE WHEN r.prev_max IS NOT NULL
                             AND r.ts_us < r.prev_max - d.delay_us
                        THEN r.prev_max - r.ts_us END AS late_us
            FROM delays d CROSS JOIN runmax r
        )
        SELECT CAST(delay_us AS BIGINT) AS delay_us,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(dropped) AS BIGINT) AS n_dropped,
               CAST(SUM(dropped) * 10000 // COUNT(*) AS BIGINT) AS dropped_bp,
               CAST(MAX(late_us) AS BIGINT) AS max_late_us
        FROM flags GROUP BY delay_us
    """,
)
def watermark_late_event_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing audit — Structured Streaming's late-data
    semantics replayed over the historical stream: for each candidate
    watermark delay, how many events would arrive LATER than
    max-event-time-seen minus the delay (and so be dropped by a
    windowed streaming aggregate), and how late the worst one is.
    Arrival time is event time plus a hash-deterministic transport
    jitter bounded at 10 minutes — the out-of-order fan-in a real
    Kafka ingest produces (the raw testdata log is time-sorted, which
    would make every delay trivially lossless; the jitter replays
    identically in the oracle). This is the batch-side analysis that
    picks ``withWatermark``'s delay before a streaming job ships —
    run it too tight and the drop count here is exactly the data the
    stream silently loses; at the jitter bound the audit must read
    zero (asserted in tests).

    The running maximum over arrival order is a GLOBAL window — the
    same W1 scale ceiling global_row_number documents — so it runs
    two-phase like global_rank_range_partitioned: per-arrival-bucket
    maxima (tiny aggregate), an exclusive prefix-max over the bucket
    frame (a window over B metadata rows, broadcast back), and a
    within-bucket exclusive running max; the previous-arrival maximum
    is the greater of the two. The fact table never funnels through
    one task; the oracle states the same quantity as the naive global
    window. All integer microsecond arithmetic.
    """
    B = WM_ARRIVAL_BUCKET_US
    jitter = portable_hash31(
        F.concat(F.lit("arr:"), F.col("event_id").cast("string"))
    ) % WM_JITTER_US
    ev = (
        load(spark, sf_dir, "events")
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            (F.unix_micros("ts") + jitter).alias("arrival_us"),
        )
        .withColumn("bucket", F.expr(f"arrival_us DIV {B}").cast("long"))
    )
    bmax = ev.groupBy("bucket").agg(F.max("ts_us").alias("b_max"))
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    boff = bmax.select(
        "bucket", F.max("b_max").over(wb).alias("prev_bucket_max")
    )
    ww = W.partitionBy("bucket").orderBy("arrival_us", "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    staged = (
        ev.join(F.broadcast(boff), "bucket")
        .withColumn("in_bucket_prev", F.max("ts_us").over(ww))
        .withColumn(
            "prev_max",
            F.greatest(
                F.coalesce(F.col("in_bucket_prev"), F.lit(-1).cast("long")),
                F.coalesce(F.col("prev_bucket_max"), F.lit(-1).cast("long")),
            ),
        )
    )
    delays = F.array(*[F.lit(d).cast("long") for d in WM_DELAYS_US])
    flagged = staged.select(
        "ts_us", "prev_max", F.explode(delays).alias("delay_us")
    ).select(
        "delay_us",
        F.when(
            (F.col("prev_max") >= 0)
            & (F.col("ts_us") < F.col("prev_max") - F.col("delay_us")),
            1,
        )
        .otherwise(0)
        .alias("dropped"),
        F.when(
            (F.col("prev_max") >= 0)
            & (F.col("ts_us") < F.col("prev_max") - F.col("delay_us")),
            F.col("prev_max") - F.col("ts_us"),
        ).alias("late_us"),
    )
    return (
        flagged.groupBy("delay_us")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            F.max("late_us").cast("long").alias("max_late_us"),
        )
        .select(
            "delay_us",
            "n_events",
            "n_dropped",
            F.expr("n_dropped * 10000 DIV n_events").cast("long").alias("dropped_bp"),
            "max_late_us",
        )
    )
