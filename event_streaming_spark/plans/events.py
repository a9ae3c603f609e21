"""Event-stream queries: the reference's data plane as batch analytics.

Daily rollups and sessionization, product analytics (funnels,
retention, deciles), time series, engagement bitmaps and path mining,
decomposition and interval estimates, bursts and forecasts, session and
stickiness curves, experimentation statistics, attribution, incremental
rollups and trend/independence statistics.  Each section below opens
with its design notes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_streaming_spark.functions.hashing import sql_stable_hash32
from event_streaming_spark.functions.localframe import local_frame
from event_streaming_spark.functions.numeric import (
    exact_avg,
    exact_pct_agg,
    exact_sum,
    sql_exact_avg,
    sql_exact_pct_agg,
    sql_exact_sum,
)
from event_streaming_spark.operators.rollup import finalize, partial_rollup
from event_streaming_spark.plans.catalog import capture_plan, load, register, spread

# ===========================================================================
# Event-stream queries — the reference's data plane as batch analytics.
#
# The reference's events are schemaless JSON documents on topics
# (reference/include/events-agency.h:8,29,51-52); its consumers do
# keyed lookups, JSON field extraction and category routing.  These queries
# exercise that vocabulary over the ``events`` table: schema-on-read JSON
# (O38), category filter/route (O42/O43), enum dictionary (O46), time
# formatting (O35/O36), tumbling windows, and sessionization.
#
# Scale: events is THE 100 TB table in this engine's target deployment.
# Every query below is a single scan → (optional) single shuffle on the
# group/session key; the JSON extraction is JVM-side `get_json_object`
# (no Python).  The event store (sources/store.py) date-partitions this
# table so time-bounded variants prune partitions.
# ===========================================================================

# ---------------------------------------------------------------------------
# Flagship (SURVEY §7.1): daily tumbling count+avg per event_type.
# Exercises scan → JSON extract → category filter → time bucket → agg → sort
# in one plan: the reference's entire data-plane vocabulary.
# ---------------------------------------------------------------------------

_DAILY_ORACLE = f"""
SELECT CAST(ts AS DATE) AS event_date,
       event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       {sql_exact_sum('value')} AS total_value,
       {sql_exact_avg('value')} AS avg_value,
       {sql_exact_avg("cast(json_extract_string(props, '$.k') as int)", 6)} AS avg_k
FROM events
WHERE event_type IN ('click', 'purchase', 'view', 'signup', 'error')
GROUP BY CAST(ts AS DATE), event_type
"""


@register("events_daily_type_rollup", _DAILY_ORACLE, tags=("events", "agg", "json"), bench=True)
def events_daily_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("click", "purchase", "view", "signup", "error"))
        .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy(F.to_date("ts").alias("event_date"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            exact_sum("value").alias("total_value"),
            exact_avg("value").alias("avg_value"),
            exact_avg("k", 6).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Schema-on-read JSON extraction with default (SURVEY O38/O39): the
# reference's json_get_value(jobj, type, key, default) macro family.
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_id,
       coalesce(cast(json_extract_string(props, '$.k') as int), -1) AS k,
       coalesce(cast(json_extract_string(props, '$.missing') as int), -1) AS missing_with_default
FROM events
WHERE event_type = 'purchase'
"""


@register("events_json_get_with_default", _JSON_ORACLE, tags=("events", "json"))
def events_json_get_with_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.coalesce(F.get_json_object("props", "$.k").cast("int"), F.lit(-1)).alias("k"),
        F.coalesce(F.get_json_object("props", "$.missing").cast("int"), F.lit(-1)).alias(
            "missing_with_default"
        ),
    )


# ---------------------------------------------------------------------------
# enum↔string dictionary (SURVEY O46) + category routing (O42/O43):
# conditional aggregation routes values into per-category columns.
# ---------------------------------------------------------------------------

_ROUTE_ORACLE = f"""
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS n_click,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'error')    AS n_error,
       {sql_exact_sum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")} AS purchase_value,
       max(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 WHEN 'signup' THEN 3
                           WHEN 'purchase' THEN 4 WHEN 'error' THEN 5 ELSE 0 END) AS max_type_code
FROM events
GROUP BY user_id
"""


@register("events_route_by_category", _ROUTE_ORACLE, tags=("events", "agg"))
def events_route_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    type_code = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "signup", 3)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "error", 5)
        .otherwise(0)
    )
    return ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error"),
        exact_sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0.0))
        ).alias("purchase_value"),
        F.max(type_code).alias("max_type_code"),
    )


# ---------------------------------------------------------------------------
# time formatting (SURVEY O35/O36): strftime-equivalent formatting, GMT.
# Note RFC-2822 day/month names are exercised in unit tests, not here —
# DuckDB %a/%b are locale-stable but the hash compare is stricter in tests.
# ---------------------------------------------------------------------------

_TIMEFMT_ORACLE = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_fmt,
       strftime(ts, '%Y-%m-%d') AS ts_date,
       cast(extract(hour FROM ts) as int) AS ts_hour,
       epoch_ms(date_trunc('millisecond', ts)) AS ts_ms
FROM events
WHERE user_id < 10
"""


@register("events_time_formatting", _TIMEFMT_ORACLE, tags=("events", "scalar"))
def events_time_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("user_id") < 10).select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_fmt"),
        F.date_format("ts", "yyyy-MM-dd").alias("ts_date"),
        F.hour("ts").cast("int").alias("ts_hour"),
        F.unix_millis(F.date_trunc("millisecond", F.col("ts"))).alias("ts_ms"),
    )


# ---------------------------------------------------------------------------
# sessionization — gap-based sessions (30 min) via lag + cumulative flag.
# Batch analogue of streaming session_window (SURVEY §2.4); one shuffle on
# user_id, all window functions over the same partitioning.
# ---------------------------------------------------------------------------

_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, cast(session_id as int) AS session_id,
       count(*) AS n_events,
       epoch_ms(date_trunc('millisecond', min(ts))) AS session_start_ms,
       round(cast(epoch_ms(max(ts)) - epoch_ms(min(ts)) as double) / 1000.0, 3) AS duration_s,
       {sql_exact_sum('value')} AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


@register("events_sessionize_30m", _SESSION_ORACLE, tags=("events", "window", "session"), bench=True)
def events_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap_s = F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_s <= 30 * 60 * 1000, F.lit(0)).otherwise(F.lit(1)),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(run).cast("int"))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_millis(F.date_trunc("millisecond", F.min("ts"))).alias("session_start_ms"),
        F.round(
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).cast("double") / 1000.0, 3
        ).alias("duration_s"),
        exact_sum("value").alias("session_value"),
    )


# ---------------------------------------------------------------------------
# as-of join (SURVEY §2.4): for each purchase, the most recent prior click
# by the same user.  Spark-first: union the two streams tagged, one window
# pass carries the last click forward — a single shuffle on user_id, no
# range cross-join.  (The applyInPandas merge_asof variant lives in
# operators/joins.py for the general case.)
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'click' THEN ts END AS click_ts
  FROM events WHERE event_type IN ('click', 'purchase')
), carried AS (
  SELECT user_id, ts, event_id, event_type,
         max(click_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
  FROM tagged
)
SELECT event_id AS purchase_id,
       user_id,
       epoch_ms(date_trunc('millisecond', ts)) AS purchase_ms,
       epoch_ms(date_trunc('millisecond', last_click_ts)) AS last_click_ms
FROM carried
WHERE event_type = 'purchase'
"""


@register("events_asof_last_click_before_purchase", _ASOF_ORACLE, tags=("events", "join", "asof"), bench=True)
def events_asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    tagged = ev.withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = tagged.withColumn("last_click_ts", F.max("click_ts").over(w))
    return carried.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_millis(F.date_trunc("millisecond", F.col("ts"))).alias("purchase_ms"),
        F.unix_millis(F.date_trunc("millisecond", F.col("last_click_ts"))).alias("last_click_ms"),
    )


# ---------------------------------------------------------------------------
# sliding windows (batch twin of streaming window(ts, "2 days", "1 day")):
# every event lands in two overlapping day-aligned windows.
# Scale: explode factor = window/slide (2×) before the shuffle — acceptable;
# larger ratios should pre-aggregate per slide then roll up.
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = f"""
SELECT epoch_ms(ws) AS win_start_ms, event_type,
       count(*) AS n_events,
       {sql_exact_sum('value')} AS total_value
FROM (
  SELECT unnest([date_trunc('day', ts), date_trunc('day', ts) - INTERVAL 1 DAY]) AS ws,
         event_type, value
  FROM events
)
GROUP BY ws, event_type
"""


@register("events_sliding_window_2d_1d", _SLIDING_ORACLE, tags=("events", "window", "agg"))
def events_sliding_window_2d_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("total_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# pivot (O43 route-by-category, wide form): daily counts per event_type as
# columns.  Fixed pivot value list → no extra distinct-scan pass.
# ---------------------------------------------------------------------------

_PIVOT_ORACLE = """
SELECT CAST(ts AS DATE) AS event_date,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'view')     AS view,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'error')    AS error
FROM events
GROUP BY CAST(ts AS DATE)
"""


@register("events_pivot_daily_type_counts", _PIVOT_ORACLE, tags=("events", "pivot"))
def events_pivot_daily_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    kinds = ["click", "view", "signup", "purchase", "error"]
    wide = (
        ev.groupBy(F.to_date("ts").alias("event_date"))
        .pivot("event_type", kinds)
        .count()
    )
    return wide.select(
        "event_date", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


# ---------------------------------------------------------------------------
# value histogram via width_bucket (SURVEY §2.4 analytics breadth):
# fixed-range bucketing is the shuffle-free histogram at any scale.
# ---------------------------------------------------------------------------

# DuckDB 1.0 has no width_bucket — explicit equivalent arithmetic
# (bucket i covers [min+(i-1)w, min+iw); 0 below range, n+1 at/above max).
_HISTOGRAM_ORACLE = f"""
SELECT event_type,
       cast(CASE WHEN value < 0.0 THEN 0
                 WHEN value >= 200.0 THEN 21
                 ELSE floor(value / 10.0) + 1 END as int) AS bucket,
       count(*) AS n,
       {sql_exact_sum('value')} AS bucket_value
FROM events
GROUP BY event_type, bucket
"""


@register("events_value_histogram", _HISTOGRAM_ORACLE, tags=("events", "agg"))
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.width_bucket(F.col("value"), F.lit(0.0), F.lit(200.0), F.lit(20))
            .cast("int")
            .alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"), exact_sum("value").alias("bucket_value"))
    )


# ---------------------------------------------------------------------------
# unpivot (stack) — the inverse of events_pivot_daily_type_counts; wide
# per-day type counts melted back to long form (SURVEY §2.4 pivot/unpivot).
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT CAST(ts AS DATE) AS event_date,
         count(*) FILTER (WHERE event_type = 'click')    AS click,
         count(*) FILTER (WHERE event_type = 'purchase') AS purchase
  FROM events GROUP BY 1
)
SELECT event_date, kind, n FROM (
  SELECT event_date, 'click' AS kind, click AS n FROM wide
  UNION ALL
  SELECT event_date, 'purchase' AS kind, purchase AS n FROM wide
) WHERE n > 0
"""


@register("events_unpivot_type_counts", _UNPIVOT_ORACLE, tags=("events", "pivot"))
def events_unpivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.to_date("ts").alias("event_date"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("click"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchase"),
        )
    )
    long = wide.selectExpr(
        "event_date", "stack(2, 'click', click, 'purchase', purchase) AS (kind, n)"
    )
    return long.filter(F.col("n") > 0)


# ---------------------------------------------------------------------------
# SCD2 (type-2 slowly-changing dimension) history build: treat each
# user's event_type as an observed attribute; collapse consecutive equal
# observations into validity intervals (valid_from, valid_to half-open,
# NULL valid_to = current).  The standard warehouse history-table build,
# as one shuffle on user_id with all window passes over that same
# partitioning (change flag → island id → interval bounds via lead).
# Exactly-integer interval bounds (epoch ms); deterministic tiebreak on
# event_id for same-ts observations.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH obs AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = lag(event_type) OVER w THEN 0 ELSE 1
         END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), isl AS (
  SELECT user_id, ts, event_id, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM obs
), iv AS (
  SELECT user_id, event_type, island,
         epoch_ms(date_trunc('millisecond', min(ts))) AS valid_from_ms,
         count(*) AS n_obs
  FROM isl
  GROUP BY user_id, event_type, island
)
SELECT user_id, event_type,
       valid_from_ms,
       lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY island)
         AS valid_to_ms,
       CASE WHEN lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY island)
                 IS NULL THEN 1 ELSE 0 END AS is_current,
       n_obs
FROM iv
ORDER BY user_id, valid_from_ms, event_type
"""


@register(
    "events_scd2_type_history",
    _SCD2_ORACLE,
    tags=("events", "window", "warehouse"),
)
def events_scd2_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs = ev.withColumn(
        "chg",
        F.when(F.col("event_type") == F.lag("event_type").over(w), F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    isl = obs.withColumn("island", F.sum("chg").over(run))
    iv = isl.groupBy("user_id", "event_type", "island").agg(
        F.unix_millis(F.date_trunc("millisecond", F.min("ts"))).alias("valid_from_ms"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    wl = Window.partitionBy("user_id").orderBy("island")
    return (
        iv.withColumn("valid_to_ms", F.lead("valid_from_ms").over(wl))
        .withColumn(
            "is_current",
            F.when(F.col("valid_to_ms").isNull(), F.lit(1)).otherwise(F.lit(0)),
        )
        .select(
            "user_id", "event_type", "valid_from_ms", "valid_to_ms", "is_current",
            "n_obs",
        )
        .orderBy("user_id", "valid_from_ms", "event_type")
    )


# ---------------------------------------------------------------------------
# Funnel analysis: strictly-ordered stage progression (view → click →
# purchase) per user, earliest-completion semantics — the canonical
# event-analytics query over a pub/sub event stream.  One shuffle on
# user_id; each stage is a conditional min over the previous stage's
# timestamp, all inside a single aggregate pass (no self-joins, no
# window cascade).  Deterministic: stage times are min() over exact
# timestamps.
# ---------------------------------------------------------------------------

_FUNNEL_CONVERSION_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1
  FROM events WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT cast(count(s1.user_id) AS BIGINT) AS n_view,
       cast(count(s2.user_id) AS BIGINT) AS n_click,
       cast(count(s3.user_id) AS BIGINT) AS n_purchase,
       round(cast(count(s3.user_id) AS DOUBLE) / count(s1.user_id), 6)
         AS conversion
FROM s1
LEFT JOIN s2 ON s2.user_id = s1.user_id
LEFT JOIN s3 ON s3.user_id = s1.user_id
"""


@register(
    "events_funnel_conversion",
    _FUNNEL_CONVERSION_ORACLE,
    tags=("events", "analytics", "funnel"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # single aggregate pass per stage chain: conditional mins over the
    # previous stage's time, all partitioned on user_id
    t1 = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    t2 = (
        ev.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    funnel = t1.join(t2, "user_id", "left").join(t3, "user_id", "left")
    return funnel.agg(
        F.count("t1").cast("bigint").alias("n_view"),
        F.count("t2").cast("bigint").alias("n_click"),
        F.count("t3").cast("bigint").alias("n_purchase"),
        F.round(
            F.count("t3").cast("double") / F.count("t1").cast("double"), 6
        ).alias("conversion"),
    )


# ---------------------------------------------------------------------------
# Retention cohorts: users grouped by first-seen WEEK, activity counted
# per week offset — the cohort-retention matrix every product-analytics
# stack computes.  Two shuffles (first-seen per user; cohort × offset
# rollup), both on bounded keys; distinct-user counts are exact.
# ---------------------------------------------------------------------------

_RETENTION_COHORTS_ORACLE = """
WITH first_seen AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(min(ts) AS DATE)) // 7
           AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT e.user_id, f.cohort_week,
         date_diff('day', DATE '2024-01-01', CAST(e.ts AS DATE)) // 7
           - f.cohort_week AS week_offset
  FROM events e JOIN first_seen f ON f.user_id = e.user_id
)
SELECT cast(cohort_week AS INT) AS cohort_week,
       cast(week_offset AS INT) AS week_offset,
       cast(count(DISTINCT user_id) AS BIGINT) AS n_active,
       cast(count(*) AS BIGINT) AS n_events
FROM activity
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


@register(
    "events_retention_cohorts",
    _RETENTION_COHORTS_ORACLE,
    tags=("events", "analytics", "cohort"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    epoch = F.lit("2024-01-01").cast("date")
    week = lambda c: (F.datediff(F.to_date(c), epoch) / 7).cast("int")  # noqa: E731
    first_seen = ev.groupBy("user_id").agg(week(F.min("ts")).alias("cohort_week"))
    activity = ev.join(first_seen, "user_id").select(
        "user_id",
        "cohort_week",
        (week(F.col("ts")) - F.col("cohort_week")).cast("int").alias("week_offset"),
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_active"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Pareto concentration: how few top users carry 50% / 80% / 95% of total
# event value.  Users aggregate first (bounded key), then the
# scale-safe global cumsum (operators/ranks.py — range buckets +
# offsets, no single-task window) ranks them by value descending;
# thresholds read off the cumulative share.  Exact integers end-to-end:
# value in cents, thresholds via integer comparison.
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH u AS (
  SELECT user_id, cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY user_id
), ranked AS (
  SELECT user_id, cents,
         sum(cents) OVER (ORDER BY cents DESC, user_id
                          ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cents) OVER () AS total
  FROM u
)
SELECT
  cast(min(CASE WHEN cum * 100 >= total * 50 THEN rn END) AS BIGINT) AS users_to_50pct,
  cast(min(CASE WHEN cum * 100 >= total * 80 THEN rn END) AS BIGINT) AS users_to_80pct,
  cast(min(CASE WHEN cum * 100 >= total * 95 THEN rn END) AS BIGINT) AS users_to_95pct,
  cast(count(*) AS BIGINT) AS n_users
FROM (SELECT *, row_number() OVER (ORDER BY cents DESC, user_id) AS rn FROM ranked)
"""


@register(
    "events_pareto_user_value",
    _PARETO_ORACLE,
    tags=("events", "analytics", "rank"),
)
def events_pareto_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ranks import (
        with_global_cumsum,
        with_global_row_number,
    )

    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents")
    )
    order = [F.desc("cents"), F.asc("user_id")]
    cum, total = with_global_cumsum(u, order, "cents", "cum")
    ranked, n_users = with_global_row_number(cum, order, "rn")
    # bigint literals: an int32 `total` times pct overflows 32-bit ANSI
    # arithmetic (Spark types small literals as INTEGER)
    hit = lambda pct: F.min(  # noqa: E731
        F.when(
            F.col("cum") * F.lit(100).cast("bigint")
            >= F.lit(int(total)).cast("bigint") * F.lit(pct).cast("bigint"),
            F.col("rn"),
        )
    ).cast("bigint")
    return ranked.agg(
        hit(50).alias("users_to_50pct"),
        hit(80).alias("users_to_80pct"),
        hit(95).alias("users_to_95pct"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Exact distributed variance: per-type mean/variance derived from
# EXACT integer moments (count, sum of cents, sum of squared cents) —
# the float-free version of the textbook two-pass-free variance.  The
# moments are order-independent int64 sums (max |cents| ~1e5, squares
# ~1e10, 1e9 rows before overflow at 100 TB — document the DECIMAL(38)
# escalation there), so mean and variance are bit-identical across
# engines: the same IEEE divisions of the same exact integers.
# ---------------------------------------------------------------------------

_VARSTATS_ORACLE = """
WITH m AS (
  SELECT event_type,
         count(*) AS n,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
         cast(sum(cast(round(value * 100) AS BIGINT)
                  * cast(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
  FROM events GROUP BY event_type
)
SELECT event_type, n, s1, s2,
       round(cast(s1 AS DOUBLE) / n / 100.0, 6) AS mean_value,
       round((cast(s2 AS DOUBLE) / n
              - (cast(s1 AS DOUBLE) / n) * (cast(s1 AS DOUBLE) / n))
             / 10000.0, 6) AS variance_value
FROM m
ORDER BY event_type
"""


@register(
    "events_exact_variance_by_type",
    _VARSTATS_ORACLE,
    tags=("events", "agg", "exact"),
)
def events_exact_variance_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).cast("bigint").alias("s1"),
        F.sum(cents * cents).cast("bigint").alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    nd = F.col("n").cast("double")
    return m.select(
        "event_type", "n", "s1", "s2",
        F.round(s1d / nd / 100.0, 6).alias("mean_value"),
        F.round((s2d / nd - (s1d / nd) * (s1d / nd)) / 10000.0, 6).alias(
            "variance_value"
        ),
    ).orderBy("event_type")


# ===========================================================================
# Product analytics: funnel conversion, weekly retention cohorts,
# user-value deciles — the canonical product-analytics queries an event
# streaming engine is FOR (the reference's topics carry exactly this kind
# of click/view/purchase traffic; include/events-agency.h:29,51-52 defines
# the event flow, these queries are what consumers compute from it).
#
# Scale notes per query; shared discipline: everything keys on ``user_id``
# (the natural partition key for behavioral analytics), so each query is
# one shuffle on user_id followed by cheap re-aggregations of the
# already-small per-user summaries.  Timestamp math is integer-exact
# (µs timestamps, week-truncated date arithmetic), so no float drift.
# ===========================================================================

# ---------------------------------------------------------------------------
# Ordered funnel: view → click (after the first view) → purchase (after
# that click).  The sequential-min formulation (t1 = min view; t2 = min
# click > t1; t3 = min purchase > t2) is the standard strict-funnel
# semantics.  Scale: three passes over a user_id-partitioned fact — each
# stage's output is per-user (150 rows/SF), so stages 2-3 join a
# broadcast-small summary back to the fact; no O(n²) anywhere.
# ---------------------------------------------------------------------------

_FUNNEL_VCP_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_view_click,
       (SELECT count(*) FROM p) AS n_view_click_purchase
"""


@register("events_funnel_view_click_purchase", _FUNNEL_VCP_ORACLE, tags=("events", "funnel", "agg"))
def events_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


# ---------------------------------------------------------------------------
# Weekly retention cohorts: users grouped by the week of their first event;
# for each (cohort_week, weeks-since-cohort) the distinct active users.
# Both sides of the offset arithmetic are Monday-truncated dates, so the
# day-difference is an exact multiple of 7 in both engines.  Scale: one
# shuffle on user_id for first-event, one join back (per-user summary
# broadcasts), one distinct-agg on the (cohort, offset) pair.
# ---------------------------------------------------------------------------

_RETENTION_WEEKLY_ORACLE = """
WITH first_seen AS (
  SELECT user_id, cast(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT cohort_week,
       cast(date_diff('day', cohort_week, cast(date_trunc('week', e.ts) AS DATE)) / 7 AS INT)
         AS week_offset,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN first_seen f ON e.user_id = f.user_id
GROUP BY cohort_week, week_offset
"""


@register("events_retention_weekly_cohorts", _RETENTION_WEEKLY_ORACLE, tags=("events", "agg", "window"))
def events_retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    week = F.date_trunc("week", F.col("ts")).cast("date")
    return (
        ev.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(week, F.col("cohort_week")) / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# User-value deciles: ntile(10) + percent_rank semantics over per-user
# purchase spend, WITHOUT a global single-partition window sort.
#
# Scale design (billions of users): range-partition the per-user summary
# on the rank order, row_number() within each range bucket (parallel
# local sorts), then add per-bucket offsets.  The offsets come from one
# count per bucket — O(#partitions) rows, bounded by cluster config, not
# by data — collected to the driver and folded back in as literals.  The
# bucketed frame is pinned via the materializer so the count job and the
# final job see the same (sampled) range boundaries.  From the global
# row number rn, both outputs are closed-form:
#   percent_rank = (rn-1)/(N-1)
#   ntile(10)    = first N%10 tiles get ceil(N/10) rows, rest floor(N/10)
# which reproduces the window functions bit-for-bit (ORDER BY is total:
# user_id is a unique tiebreak).
# ---------------------------------------------------------------------------

_DECILES_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, {sql_exact_sum('value')} AS total_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, total_value,
       ntile(10) OVER (ORDER BY total_value DESC, user_id) AS decile,
       round(percent_rank() OVER (ORDER BY total_value DESC, user_id), 6) AS pct_rank
FROM per_user
"""


@register("events_user_value_deciles", _DECILES_ORACLE, tags=("events", "window", "agg"))
def events_user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.numeric import exact_sum
    from event_streaming_spark.operators.ranks import with_global_row_number

    per_user = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(exact_sum("value").alias("total_value"))
    )
    ranked, n_total = with_global_row_number(
        per_user, [F.desc("total_value"), F.asc("user_id")], "rn"
    )
    rn = F.col("rn")
    tile_q, tile_r = divmod(n_total, 10)  # ntile fill: first r tiles get q+1 rows
    if tile_q == 0:
        decile = rn
    else:
        cut = tile_r * (tile_q + 1)
        decile = F.when(
            rn <= F.lit(cut), F.floor((rn - 1) / F.lit(tile_q + 1)) + 1
        ).otherwise(F.lit(tile_r) + F.floor((rn - F.lit(cut) - 1) / F.lit(tile_q)) + 1)
    pct = (
        F.lit(0.0)
        if n_total <= 1
        else F.round((rn - 1).cast("double") / F.lit(float(n_total - 1)), 6)
    )
    return ranked.select(
        "user_id",
        "total_value",
        decile.cast("int").alias("decile"),
        pct.alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# Sequence pattern matching (MATCH_RECOGNIZE-lite): encode each user's
# time-ordered event types as a letter string, count funnel occurrences
# with a regex ('v[vc]*p' = views, optional clicks, then a purchase;
# non-overlapping, leftmost-greedy in both engines).  Ordering inside the
# aggregation is made deterministic by sorting on the UNIQUE (ts,
# event_id) pair — collect_list alone has no order contract under
# parallelism.  Scale: one shuffle on user_id; per-user sequences are
# memory-bounded by per-user activity (cap with a windowed top-N slice if
# a key can be pathological).
# ---------------------------------------------------------------------------

_CODE_SQL = ("CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' "
             "WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'e' END")
_PATTERN = "v[vc]*p"

_SEQ_ORACLE = f"""
WITH seq AS (
  SELECT user_id,
         string_agg({_CODE_SQL}, '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
)
SELECT user_id,
       len(regexp_extract_all(s, '{_PATTERN}')) AS n_funnels,
       len(s) AS n_events
FROM seq
"""


@register("events_sequence_pattern_funnels", _SEQ_ORACLE, tags=("events", "funnel", "regex"))
def events_sequence_pattern_funnels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seq = (
        ev.select("user_id", F.struct("ts", "event_id", code.alias("code")).alias("rec"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("rec")), lambda r: r["code"]), ""
            ).alias("s")
        )
    )
    return seq.select(
        "user_id",
        F.size(F.regexp_extract_all("s", F.lit(_PATTERN), 0)).cast("long").alias("n_funnels"),
        F.length("s").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Daily volume anomalies per event type: z-score of each day's count
# against that type's mean/std.  Every moment (Σn, Σn², day count) is an
# exact integer, so mu/sigma and the z-scores are identical doubles in
# both engines (sqrt and division are correctly-rounded IEEE ops).
# Scale: the z-score layer runs over the per-(type, day) rollup — $
# |types × days| rows — never the raw fact; the same shape monitors
# billions of events/day with the incremental-rollup partials as input.
# ---------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH daily AS (
  SELECT event_type, cast(ts AS DATE) AS event_date, count(*) AS n_events
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type,
         cast(sum(n_events) as double) / count(*) AS mu,
         sqrt(greatest(cast(sum(n_events * n_events) as double) / count(*)
                       - (cast(sum(n_events) as double) / count(*))
                         * (cast(sum(n_events) as double) / count(*)), 0)) AS sigma
  FROM daily GROUP BY event_type
)
SELECT d.event_type, d.event_date, d.n_events,
       round((d.n_events - s.mu) / nullif(s.sigma, 0), 6) AS zscore,
       (abs(d.n_events - s.mu) > 2 * s.sigma) AS is_anomaly
FROM daily d JOIN stats s ON d.event_type = s.event_type
"""


@register("events_daily_anomaly_zscore", _ANOMALY_ORACLE, tags=("events", "agg", "audit"))
def events_daily_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("event_date")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    n = F.col("n_events")
    cnt = F.count(F.lit(1))
    mu = F.sum(n).cast("double") / cnt
    sigma = F.sqrt(
        F.greatest(
            F.sum(n * n).cast("double") / cnt - mu * mu,
            F.lit(0.0),
        )
    )
    stats = daily.groupBy(F.col("event_type").alias("s_type")).agg(
        mu.alias("mu"), sigma.alias("sigma")
    )
    return (
        daily.join(F.broadcast(stats), daily.event_type == F.col("s_type"))
        .select(
            "event_type",
            "event_date",
            "n_events",
            F.round((n - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0)), 6).alias(
                "zscore"
            ),
            (F.abs(n - F.col("mu")) > 2 * F.col("sigma")).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Stream-to-dimension enrichment: purchases joined to the customer
# dimension (events.user_id ↔ c_custkey per TESTDATA.md), rolled up by
# market segment.  The canonical streaming-enrichment shape: the fact
# filters at the scan, the dimension broadcasts, one agg shuffle on a
# low-cardinality key collapsed map-side.
# ---------------------------------------------------------------------------

_ENRICH_ORACLE = f"""
SELECT c_mktsegment,
       count(*) AS n_purchases,
       count(DISTINCT user_id) AS n_buyers,
       {sql_exact_sum('value')} AS total_value
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY c_mktsegment
"""


@register("events_enrich_purchases_by_segment", _ENRICH_ORACLE, tags=("events", "join", "agg"))
def events_enrich_purchases_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.numeric import exact_sum

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count_distinct("user_id").alias("n_buyers"),
            exact_sum("value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series gap-fill / resample: daily event counts per type with
# missing days emitted as explicit zeros over each type's own [min, max]
# day span — the regularization step before any rolling-window or anomaly
# model (a gap and a zero are different signals; events_daily_anomaly_
# zscore assumes a dense series).  Scale: the dense day axis is built
# from the per-type span AGGREGATE (|types| rows, a few KB at any corpus
# size) exploded to |types| × days rows, then a left join back to the
# daily aggregate on (type, day) — both sides are post-aggregation
# smalls; the raw fact is touched once by the count.
# ---------------------------------------------------------------------------

_GAP_FILL_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), axis AS (
  SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM spans
)
SELECT axis.event_type AS event_type, axis.day AS day,
       coalesce(daily.n, 0) AS n_events,
       CASE WHEN daily.n IS NULL THEN 1 ELSE 0 END AS gap_filled
FROM axis LEFT JOIN daily ON axis.event_type = daily.event_type AND axis.day = daily.day
"""


@register("events_gap_fill_daily", _GAP_FILL_ORACLE, tags=("events", "timeseries"))
def events_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    axis = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    return (
        axis.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.when(F.col("n").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("gap_filled"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic mode per group: each user's most frequent event type, ties
# broken lexically — the categorical analogue of max/avg in feature
# engineering (e.g. "dominant behavior" features).  Built-in ``mode()``
# is tie-nondeterministic in both engines, so the contract is expressed
# as count-then-rank: one partial-aggregated count shuffle on
# (user, type), then a rank over the tiny per-user type summary (≤|types|
# rows per user).  Scale: both shuffles key on user_id × low-cardinality
# type — no skew beyond user skew itself, no global ordering anywhere.
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
  FROM counts
)
SELECT user_id, event_type AS modal_type, n AS n_occurrences
FROM ranked WHERE rn = 1
"""


@register("events_modal_type_per_user", _MODE_ORACLE, tags=("events", "agg", "window"))
def events_modal_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), F.col("n").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram of event values: 9 exact decile boundaries (one
# tiny global aggregate, broadcast as a single row), then a stateless
# bucket-index projection and one count shuffle on ≤10 keys — the data
# profile that feeds skew decisions and range-partition planning.
# Boundaries are rounded to 6 dp before bucketing so both engines cut at
# identical doubles.  At 100 TB: swap percentile → approx_percentile,
# identical downstream plan.
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH b AS (
  SELECT [round(quantile_cont(value, 0.1), 6), round(quantile_cont(value, 0.2), 6), round(quantile_cont(value, 0.3), 6), round(quantile_cont(value, 0.4), 6), round(quantile_cont(value, 0.5), 6), round(quantile_cont(value, 0.6), 6), round(quantile_cont(value, 0.7), 6), round(quantile_cont(value, 0.8), 6), round(quantile_cont(value, 0.9), 6)] AS bs
  FROM events
)
SELECT bucket, count(*) AS n_events,
       round(min(value), 6) AS lo, round(max(value), 6) AS hi
FROM (
  SELECT value, len(list_filter(b.bs, x -> x <= value)) AS bucket
  FROM events, b
)
GROUP BY bucket
"""


@register("events_value_equidepth_histogram", _EQUIDEPTH_ORACLE, tags=("events", "agg", "profile"))
def events_value_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.array(
            *[F.round(F.expr(f"percentile(value, {x/10.0})"), 6) for x in range(1, 10)]
        ).alias("bs")
    )
    bucket = F.size(F.filter(F.col("bs"), lambda x: x <= F.col("value")))
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select("value", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# Skew report: the 20 hottest keys with their event share — the diagnosis
# run BEFORE choosing salting / AQE skew-join settings (operators/
# skew.py).  Scale: per-key count with map-side combine, TakeOrdered
# top-20 (never a global sort), then rank/share computed over the 20
# surviving rows — bounded state by construction, no unpartitioned
# window over the key space.
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH c AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1
), tot AS (SELECT sum(n_events) AS t FROM c),
top AS (
  SELECT user_id, n_events FROM c ORDER BY n_events DESC, user_id LIMIT 20
)
SELECT row_number() OVER (ORDER BY n_events DESC, user_id) AS rnk,
       user_id, n_events,
       round(cast(n_events AS DOUBLE) / t, 6) AS share
FROM top, tot
"""


@register("events_skew_report_hot_users", _SKEW_ORACLE, tags=("events", "agg", "profile"))
def events_skew_report_hot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = counts.agg(F.sum("n_events").alias("t"))
    top = counts.orderBy(F.desc("n_events"), F.asc("user_id")).limit(20)
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))  # 20 rows — bounded
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rnk", F.row_number().over(w))
        .select(
            "rnk",
            "user_id",
            "n_events",
            F.round(F.col("n_events").cast("double") / F.col("t"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Inter-event gap percentiles per event type: lag() partitioned by user
# (per-user partitions — never global), gaps in integer microseconds, then an
# exact percentile aggregate per type.  The latency/recency profile that
# sets session-gap and watermark thresholds.  Tie-break on event_id makes
# the lag deterministic under equal timestamps (replay-safe).
# ---------------------------------------------------------------------------

# Exact-integer linear interpolation (type-7, the quantile_cont /
# percentile() formula) computed BY HAND in both engines: engine-native
# interpolation differs in float evaluation order, which showed up as a
# last-ulp mismatch at sf0.1 (p99 over 240k gaps).  Gaps are integer µs,
# so with t = (n-1)·p: lo = gap[t div 100], f = t mod 100, the
# interpolated value is (lo·(100-f) + hi·f)/100 — an exact int64
# numerator and ONE identical division.

_PCTS = (50, 90, 99)


_GAPS_ORACLE = f"""
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), pos AS (
  SELECT event_type, gap_us AS val,
         row_number() OVER (PARTITION BY event_type ORDER BY gap_us) AS rv,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM g WHERE gap_us IS NOT NULL
)
SELECT event_type, max(n) AS n_gaps,
       {", ".join(f"{sql_exact_pct_agg(p)} AS p{p}_us" for p in _PCTS)}
FROM pos
GROUP BY event_type
"""


@register("events_user_gap_percentiles", _GAPS_ORACLE, tags=("events", "window", "agg"))
def events_user_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from event_streaming_spark.operators.ranks import with_group_rank

    ev = load(spark, sf_dir, "events")
    # the lag window partitions by user_id — high cardinality, scales out
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_micros(F.col("ts"))
    g = ev.select(
        "event_type", (sec - F.lag(sec).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    # ...but the percentile rank must NOT partition by event_type (a
    # handful of types = one task per type at any scale); use the
    # range-partitioned group-rank primitive instead.
    pos = with_group_rank(
        g.select("event_type", F.col("gap_us").alias("val")), "event_type", "val"
    )
    return pos.groupBy("event_type").agg(
        F.max("n").alias("n_gaps"),
        *[exact_pct_agg(p).alias(f"p{p}_us") for p in _PCTS],
    )


# ===========================================================================
# Time-series analytics: time-weighted averages, exact
# cross-series correlation, and OHLC bars — the timeseries-DB surface
# (kdb/InfluxDB/TimescaleDB staples) expressed Spark-first over the events
# table.
#
# Determinism design (repo rule, functions/numeric.py): no float SUM ever
# crosses an engine boundary.  TWA accumulates ``round(value·10⁶)::decimal
# × weight_µs`` (exact integers; DECIMAL(38) headroom), correlation is the
# integer-moments Pearson formula (sqrt/div on exact ints — IEEE sqrt is
# correctly rounded, so both engines produce the same double), OHLC picks
# raw doubles by a total (ts, event_id) order with no arithmetic at all.
# ===========================================================================

# ---------------------------------------------------------------------------
# Time-weighted average: each event's value "holds" until the user's next
# event that day; segment weight = microseconds held.  The standard
# irregular-sampling aggregate (kdb twa / TimescaleDB time_weight).
# Scale: one lead() window partitioned by (user, day) — key cardinality
# grows with the data so the sort is fully parallel, no global window;
# then one small per-day agg.  The value×weight product is exact:
# scaled-long value × µs weight in DECIMAL(38,0) (can exceed int64 —
# 10⁹ scale × 8.6·10¹⁰ µs/day — so the narrow exact_sum is not enough).
# ---------------------------------------------------------------------------

_TWA_ORACLE = """
WITH seg AS (
  SELECT CAST(ts AS DATE) AS event_date,
         cast(round(value * 1e6) as hugeint) AS v_scaled,
         lead(epoch_us(ts)) OVER (
           PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
         ) - epoch_us(ts) AS w_us
  FROM events
)
SELECT event_date,
       cast(count(*) as bigint) AS n_segments,
       cast(sum(w_us) as bigint) AS total_w_us,
       round(cast(sum(v_scaled * w_us) as double) / 1e6 / sum(w_us), 6) AS twa_value
FROM seg WHERE w_us IS NOT NULL
GROUP BY event_date
"""


@register("events_time_weighted_avg_daily", _TWA_ORACLE, tags=("events", "timeseries"), bench=True)
def events_time_weighted_avg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day TWA of `value` across all users' holding segments.

    The last event of a user-day has no holding period and is dropped —
    the sampled-and-held contract (reference events are point-in-time
    observations, reference/include/events.h event ts semantics)."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    seg = ev.select(
        F.to_date("ts").alias("event_date"),
        F.round(F.col("value") * 1e6).cast("decimal(38,0)").alias("v_scaled"),
        (F.lead(us).over(w) - us).alias("w_us"),
    ).filter(F.col("w_us").isNotNull())
    return seg.groupBy("event_date").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("w_us").cast("long").alias("total_w_us"),
        F.round(
            F.sum(F.col("v_scaled") * F.col("w_us").cast("decimal(38,0)")).cast("double")
            / 1e6
            / F.sum("w_us"),
            6,
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# Cross-series Pearson correlation between event types' daily volumes,
# on the DENSE day×type grid (absent days count 0 — skipping them biases
# r).  Integer-moments formula: all five sums are exact bigints; the one
# float step (sqrt, divide) is IEEE-identical across engines.
# Scale: the only data-sized op is the (day,type) count with map-side
# combine; the grid/pair joins touch days×types rows (bounded,
# broadcast); at 100 TB this is the canonical "aggregate first, then
# analyze the tiny summary" shape.
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH cnt AS (
  SELECT CAST(ts AS DATE) AS d, event_type AS t, cast(count(*) as bigint) AS c
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT d FROM cnt),
types AS (SELECT DISTINCT t FROM cnt),
dense AS (
  SELECT days.d, types.t, coalesce(cnt.c, 0) AS c
  FROM days CROSS JOIN types LEFT JOIN cnt ON cnt.d = days.d AND cnt.t = types.t
),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b, a.c AS x, b.c AS y
  FROM dense a JOIN dense b ON a.d = b.d AND a.t < b.t
),
m AS (
  SELECT type_a, type_b, cast(count(*) as bigint) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
  FROM pairs GROUP BY type_a, type_b
)
SELECT type_a, type_b, n,
       CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
            THEN round(cast(n*sxy - sx*sy as double) /
                       (sqrt(cast(n*sxx - sx*sx as double)) * sqrt(cast(n*syy - sy*sy as double))), 6)
       END AS pearson_r
FROM m
"""


@register("events_type_volume_correlation", _CORR_ORACLE, tags=("events", "timeseries", "stats"))
def events_type_volume_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy(
        F.to_date("ts").alias("d"), F.col("event_type").alias("t")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    days = cnt.select("d").distinct()
    types = cnt.select("t").distinct()
    dense = (
        days.crossJoin(types)
        .join(cnt, ["d", "t"], "left")
        .select("d", "t", F.coalesce("c", F.lit(0)).alias("c"))
    )
    a, b = dense.alias("a"), dense.alias("b")
    pairs = a.join(b, (F.col("a.d") == F.col("b.d")) & (F.col("a.t") < F.col("b.t"))).select(
        F.col("a.t").alias("type_a"),
        F.col("b.t").alias("type_b"),
        F.col("a.c").alias("x"),
        F.col("b.c").alias("y"),
    )
    m = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        "type_a",
        "type_b",
        "n",
        F.when(
            (denx > 0) & (deny > 0), F.round(num / (F.sqrt(denx) * F.sqrt(deny)), 6)
        ).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# OHLC bars per (event_type, day) — open/close elected by the total
# (ts, event_id) order via struct-min/max (no window, no sort: one
# map-side-combining agg).  high/low/count/volume ride the same pass.
# ---------------------------------------------------------------------------

_OHLC_ORACLE = f"""
SELECT event_type, CAST(ts AS DATE) AS event_date,
       first(value ORDER BY ts, event_id) AS open,
       max(value) AS high,
       min(value) AS low,
       last(value ORDER BY ts, event_id) AS close,
       cast(count(*) as bigint) AS n_events,
       {sql_exact_sum('value')} AS volume
FROM events
GROUP BY event_type, CAST(ts AS DATE)
"""


# ---------------------------------------------------------------------------
# Token-bucket rate limiting (admission audit): capacity 3 tokens, refill
# 1 token / 2 h of EVENT time, per user, full bucket at start, (ts,
# event_id) processing order.  The per-key recurrence is sequential —
# Spark runs it as a grouped-map Pandas fold (operators/ratelimit.py, one
# key shuffle then linear per-group work); the oracle expresses the same
# integer µtoken recurrence as a recursive CTE.  Bit-identical because
# every step is bigint min/floor-div.
# ---------------------------------------------------------------------------

_RL_CAP = 3 * 1_000_000
_RL_DEN_US = 7200 * 1_000_000

_RL_REFILL = f"least({_RL_CAP}, r.tokens + (s.us - r.us) * 1000000 // {_RL_DEN_US})"

_RL_ORACLE = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM events
),
r AS (
  SELECT user_id, event_id, event_type, i, us,
         TRUE AS admitted, cast({_RL_CAP - 1_000_000} as bigint) AS tokens
  FROM seq WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.event_type, s.i, s.us,
         {_RL_REFILL} >= 1000000 AS admitted,
         {_RL_REFILL} - CASE WHEN {_RL_REFILL} >= 1000000 THEN 1000000 ELSE 0 END AS tokens
  FROM r JOIN seq s ON s.user_id = r.user_id AND s.i = r.i + 1
)
SELECT event_type,
       cast(count(*) as bigint) AS n_events,
       cast(sum(CASE WHEN admitted THEN 1 ELSE 0 END) as bigint) AS n_admitted,
       cast(sum(CASE WHEN admitted THEN 0 ELSE 1 END) as bigint) AS n_rejected
FROM r GROUP BY event_type
"""


@register("events_rate_limit_admission", _RL_ORACLE, tags=("events", "streaming", "state"))
def events_rate_limit_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ratelimit import admission_summary, token_bucket_batch

    ev = load(spark, sf_dir, "events")
    audited = token_bucket_batch(
        ev, rate_seconds_per_token=7200, capacity_tokens=3
    )
    return admission_summary(audited)


@register("events_ohlc_daily", _OHLC_ORACLE, tags=("events", "timeseries"))
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return ev.groupBy("event_type", F.to_date("ts").alias("event_date")).agg(
        F.min(key)["value"].alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(key)["value"].alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value").alias("volume"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: every purchase's value is credited to the most
# recent PRECEDING non-purchase event of the same user, provided it
# happened within the 30-minute attribution window — otherwise the
# purchase is 'direct'.  One keyed window pass (LAST ... IGNORE NULLS
# over rows-preceding), the standard marketing-analytics shape on an
# event stream.
#
# Scale: a single per-user window over user-partitioned data — one
# shuffle on user_id, no self-join, no sessionize intermediate; the
# rollup output is |channels|-sized.
# ---------------------------------------------------------------------------

_ATTR_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_type,
         cast(round(value * 100) AS BIGINT) AS cents,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER w AS touch_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                    IGNORE NULLS) OVER w AS touch_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), attributed AS (
  SELECT CASE WHEN touch_type IS NOT NULL
               AND ts - touch_ts <= INTERVAL 30 MINUTE
              THEN touch_type ELSE 'direct' END AS channel,
         cents
  FROM seq WHERE event_type = 'purchase'
)
SELECT channel, count(*) AS n_purchases,
       cast(sum(cents) AS BIGINT) AS attributed_cents
FROM attributed GROUP BY channel ORDER BY channel
"""


@register(
    "events_attribution_last_touch",
    _ATTR_ORACLE,
    tags=("events", "window", "attribution"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    seq = ev.select(
        "ts",
        "event_type",
        "cents",
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(non_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    ).where(F.col("event_type") == "purchase")
    channel = F.when(
        F.col("touch_type").isNotNull()
        & (
            F.unix_micros("ts") - F.unix_micros("touch_ts")
            <= 30 * 60 * 1_000_000
        ),
        F.col("touch_type"),
    ).otherwise(F.lit("direct"))
    return (
        seq.select(channel.alias("channel"), "cents")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("attributed_cents"),
        )
        .orderBy("channel")
    )


# ===========================================================================
# Event analytics: interval-sweep concurrency, cumulative
# uniques, Markov transition matrices, RFM segmentation, trailing-window
# distinct counts, and the shuffle-free bucketed big⋈big join.
#
# Scale design notes (the reason each query exists):
#
# * Interval concurrency and cumulative uniques use the SWEEP-LINE
#   reduction — intervals/arrivals become ±1 deltas on a bounded DATE
#   domain, then one distributed prefix sum (operators/ranks.py
#   ``with_global_cumsum``: range-bucketed local sorts + O(#partitions)
#   offsets).  The naive per-day COUNT(DISTINCT ... WHERE overlap) rescans
#   the fact table per day; the sweep touches it once.
# * The trailing-distinct window uses the user-day dedup + bounded fanout
#   (×7) rewrite — the only exact distributed shape for sliding DISTINCT
#   (sliding SUM decomposes into partials; sliding DISTINCT does not).
# * RFM reuses the distributed ntile closed form (no single-partition
#   global window; see the user-value deciles).
# * The bucketed join pays the big⋈big shuffle ONCE at write time
#   (sources/bucketed.py): both sides land hash-bucketed on the join key,
#   so the nightly re-join plans as a zipped SortMergeJoin with NO
#   Exchange — at 100 TB the dominant recurring cost deleted outright.
#
# Determinism: all engine-boundary aggregates are exact integers
# (functions/numeric.py) or closed-form ints (ppm floor division).
# ===========================================================================

# ---------------------------------------------------------------------------
# Open-order concurrency by day — the interval-stabbing aggregate ("how
# many orders were open on day D?") via the sweep-line reduction: each
# order [o_orderdate, max(l_shipdate)] emits +1 at open and −1 the day
# after close; per-day net deltas land on a generated day spine and one
# distributed prefix sum yields the concurrency curve.  Cost: one scan of
# lineitem (per-order max), 2 rows per order shuffled to O(days) groups,
# a days-sized cumsum — never a per-day rescan, never a range self-join.
# ---------------------------------------------------------------------------

_OPEN_ORACLE = """
WITH iv AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS s,
         CAST(max(l.l_shipdate) AS DATE) AS e
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
), d AS (
  SELECT s AS day, 1 AS dlt FROM iv
  UNION ALL
  SELECT e + INTERVAL 1 DAY, -1 FROM iv
), spine AS (
  SELECT unnest(generate_series(min(s), max(e), INTERVAL 1 DAY))::DATE AS day
  FROM iv
), nd AS (
  SELECT day, cast(sum(dlt) AS BIGINT) AS nd FROM d GROUP BY day
)
SELECT spine.day AS day,
       cast(sum(coalesce(nd.nd, 0)) OVER (ORDER BY spine.day) AS BIGINT)
         AS open_orders
FROM spine LEFT JOIN nd ON spine.day = nd.day
ORDER BY day
"""


@register(
    "orders_open_interval_concurrency",
    _OPEN_ORACLE,
    tags=("relational", "timeseries", "window"),
)
def orders_open_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ranks import with_global_cumsum

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("s")
    )
    close = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("e"))
    )
    iv = o.join(close, o.o_orderkey == close.l_orderkey).select("s", "e")
    deltas = iv.select(F.col("s").alias("day"), F.lit(1).alias("dlt")).unionByName(
        iv.select(F.date_add("e", 1).alias("day"), F.lit(-1).alias("dlt"))
    )
    nd = deltas.groupBy("day").agg(F.sum("dlt").alias("nd"))
    spine = (
        iv.agg(F.min("s").alias("d0"), F.max("e").alias("d1"))
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    base = spine.join(nd, "day", "left").na.fill({"nd": 0})
    out, _ = with_global_cumsum(base, [F.asc("day")], "nd", "open_orders")
    return out.select(
        "day", F.col("open_orders").cast("long").alias("open_orders")
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Cumulative distinct users by day ("total users ever seen, daily") —
# the growing-window COUNT(DISTINCT) that is O(N·days) if computed
# per-day, reduced to O(N): a user contributes exactly once, at their
# FIRST-seen day (one groupBy), then a days-domain prefix sum.  The
# classic first-touch rewrite every product-analytics store hardcodes.
# ---------------------------------------------------------------------------

_CUMU_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
), newu AS (
  SELECT day, cast(count(*) AS BIGINT) AS new_users FROM firsts GROUP BY day
), spine AS (
  SELECT unnest(generate_series(min(CAST(ts AS DATE)), max(CAST(ts AS DATE)),
                                INTERVAL 1 DAY))::DATE AS day
  FROM events
)
SELECT spine.day AS day,
       coalesce(newu.new_users, 0) AS new_users,
       cast(sum(coalesce(newu.new_users, 0)) OVER (ORDER BY spine.day)
            AS BIGINT) AS cum_users
FROM spine LEFT JOIN newu ON spine.day = newu.day
ORDER BY day
"""


@register(
    "events_cumulative_distinct_users",
    _CUMU_ORACLE,
    tags=("events", "timeseries", "window", "agg"),
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ranks import with_global_cumsum

    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    newu = firsts.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    spine = (
        ev.agg(
            F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
        )
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    base = spine.join(newu, "day", "left").na.fill({"new_users": 0})
    out, _ = with_global_cumsum(base, [F.asc("day")], "new_users", "cum_users")
    return out.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.col("cum_users").cast("long").alias("cum_users"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences: P(next type |
# current type) as exact ppm integers.  One lead() window partitioned by
# user (key cardinality grows with data — fully parallel sort, no global
# window), one |types|²-sized count, totals folded back by a broadcast
# join on the config-sized from_type dimension.  The sequence-model
# sibling of the funnel family: funnels ask "did A→B happen", this asks
# "how often does A hand off to B".
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, cast(count(*) AS BIGINT) AS n_transitions
  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
), totals AS (
  SELECT from_type, sum(n_transitions) AS tot FROM pairs GROUP BY from_type
)
SELECT p.from_type AS from_type, p.to_type AS to_type, p.n_transitions,
       cast((p.n_transitions * 1000000) // t.tot AS BIGINT) AS prob_ppm
FROM pairs p JOIN totals t ON p.from_type = t.from_type
ORDER BY from_type, to_type
"""


@register(
    "events_markov_type_transitions",
    _MARKOV_ORACLE,
    tags=("events", "sequence", "window", "agg"),
)
def events_markov_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n_transitions").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            ((F.col("n_transitions") * 1_000_000) / F.col("tot"))
            .cast("long")
            .alias("prob_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintiles) — the
# product-analytics staple.  Each metric gets an EXACT global quintile
# via the distributed ntile closed form (the user-value deciles): range-
# bucketed parallel sorts + O(#partitions) offsets, never a
# single-partition ORDER BY over all users.  Output is the segment
# occupancy grid (≤ 125 cells) with per-segment monetary mass.
# ---------------------------------------------------------------------------

_RFM_ORACLE = f"""
WITH ref AS (SELECT max(CAST(ts AS DATE)) AS r FROM events),
pu AS (
  SELECT user_id,
         date_diff('day', max(CAST(ts AS DATE)), (SELECT r FROM ref))
           AS r_days,
         cast(count(*) AS BIGINT) AS f_n,
         {sql_exact_sum('value')} AS m_val
  FROM events GROUP BY user_id
), q AS (
  SELECT user_id, m_val,
         ntile(5) OVER (ORDER BY r_days ASC, user_id) AS r_q,
         ntile(5) OVER (ORDER BY f_n DESC, user_id) AS f_q,
         ntile(5) OVER (ORDER BY m_val DESC, user_id) AS m_q
  FROM pu
)
SELECT r_q, f_q, m_q, cast(count(*) AS BIGINT) AS n_users,
       round(cast(sum(cast(round(m_val * 1e6) AS BIGINT)) AS DOUBLE)/1e6, 2)
         AS seg_value
FROM q GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
"""


def _global_ntile(df: DataFrame, order_cols: list, out: str, tiles: int) -> DataFrame:
    """Exact ``ntile(tiles) OVER (ORDER BY order_cols)`` without a global
    single-partition sort — closed form over the distributed row number
    (same fill rule as the window function: first n%tiles tiles get one
    extra row)."""
    from event_streaming_spark.operators.ranks import with_global_row_number

    ranked, n = with_global_row_number(df, order_cols, "__rn")
    q, r = divmod(n, tiles)
    rn = F.col("__rn")
    if q == 0:
        tile = rn
    else:
        cut = r * (q + 1)
        tile = F.when(rn <= F.lit(cut), F.floor((rn - 1) / F.lit(q + 1)) + 1).otherwise(
            F.lit(r) + F.floor((rn - F.lit(cut) - 1) / F.lit(q)) + 1
        )
    return ranked.withColumn(out, tile.cast("int")).drop("__rn")


@register(
    "events_rfm_segments",
    _RFM_ORACLE,
    tags=("events", "window", "agg", "segmentation"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.to_date("ts"))).first()[0]  # 1-row scalar probe
    pu = ev.groupBy("user_id").agg(
        F.datediff(F.lit(ref), F.max(F.to_date("ts"))).alias("r_days"),
        F.count(F.lit(1)).alias("f_n"),
        exact_sum("value").alias("m_val"),
    )
    pu = _global_ntile(pu, [F.asc("r_days"), F.asc("user_id")], "r_q", 5)
    pu = _global_ntile(pu, [F.desc("f_n"), F.asc("user_id")], "f_q", 5)
    pu = _global_ntile(pu, [F.desc("m_val"), F.asc("user_id")], "m_q", 5)
    return (
        pu.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            exact_sum("m_val").alias("seg_value"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


# ---------------------------------------------------------------------------
# Trailing-7-day DISTINCT users per day (rolling actives — the WAU
# curve).  Sliding SUM decomposes into partials; sliding DISTINCT does
# not — the exact distributed shape is user-day dedup then a BOUNDED ×7
# fanout (each user-day serves the 7 windows it can affect) and a
# per-day distinct count.  Cost: |user-days|×7 shuffled rows — linear,
# window-bounded, no per-day rescan and no range self-join of the fact.
# ---------------------------------------------------------------------------

_TRAIL7_ORACLE = """
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), b AS (
  SELECT max(CAST(ts AS DATE)) AS d1 FROM events
), w AS (
  SELECT unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE
           AS day,
         user_id
  FROM ud
)
SELECT day, cast(count(DISTINCT user_id) AS BIGINT) AS users_7d
FROM w, b WHERE day <= b.d1
GROUP BY day ORDER BY day
"""


@register(
    "events_trailing_7d_distinct_users",
    _TRAIL7_ORACLE,
    tags=("events", "timeseries", "window", "agg"),
)
def events_trailing_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    d1 = ev.agg(F.max(F.to_date("ts"))).first()[0]  # 1-row scalar probe
    ud = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    fan = ud.select(
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"),
        "user_id",
    ).where(F.col("day") <= F.lit(d1))
    return (
        fan.groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Bucketed co-located big⋈big join — the shuffle-elimination flagship.
# orders and lineitem are written bucketed (and bucket-sorted) on the
# join key into catalog tables (sources/bucketed.py); the join then
# plans as a zipped SortMergeJoin with NO Exchange on either side —
# verified via capture_plan + tests/test_plan_regressions.py.  At 100 TB
# this is the difference between re-shuffling both tables every nightly
# run and reading pre-shuffled buckets: the write-time shuffle is paid
# once, every subsequent join is shuffle-free.  The rollup output is the
# per-priority revenue summary (the recurring-join archetype).
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = f"""
SELECT o_orderpriority,
       cast(count(*) AS BIGINT) AS n_lineitems,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "join_bucketed_orders_lineitem",
    _BUCKETED_ORACLE,
    tags=("relational", "join", "layout"),
)
def join_bucketed_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.sources.bucketed import write_bucketed

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    t_o, t_l = "r8_bucketed_orders", "r8_bucketed_lineitem"
    try:
        # write-time shuffle: both sides hash-bucketed on the join key
        write_bucketed(o, t_o, "k", 16)
        write_bucketed(li, t_l, "k", 16)
        joined = spark.table(t_o).join(spark.table(t_l), "k")
        agg = (
            joined.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lineitems"),
                exact_sum("rev").alias("revenue"),
            )
            .orderBy("o_orderpriority")
        )
        # the graded plan property: NO Exchange below the join (the
        # bucket layout IS the shuffle) — pinned by
        # tests/test_plan_regressions.py::test_bucketed_catalog_join_has_no_exchange
        capture_plan("join_bucketed_orders_lineitem/colocated_join", agg)
        pdf = agg.toPandas()  # 5-row result, localized before DROP TABLE
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_l}")
    return spark.createDataFrame(
        pdf, "o_orderpriority string, n_lineitems long, revenue double"
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# Funnel TIME-TO-CONVERT distribution: latency from a user's first view
# to their first purchase at-or-after it, bucketed by hour.  The funnel
# family (events_funnel_*) counts WHO converts; this measures HOW LONG
# conversion takes — the other axis every growth dashboard needs.
# Scale: two per-user aggregates + one broadcast-sized join back; all
# latency arithmetic is integer µs → hour floor division.
# ---------------------------------------------------------------------------

_TTC_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts) AS v_ts FROM events WHERE event_type = 'view'
  GROUP BY user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= v.v_ts
  GROUP BY e.user_id
)
SELECT (epoch_us(p.p_ts) - epoch_us(v.v_ts)) // 3600000000 AS latency_h,
       cast(count(*) AS BIGINT) AS n_users
FROM v JOIN p ON v.user_id = p.user_id
GROUP BY latency_h ORDER BY latency_h
"""


@register(
    "events_funnel_time_to_convert",
    _TTC_ORACLE,
    tags=("events", "funnel", "agg"),
)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"), F.first("v_ts").alias("v_ts"))
    )
    lat_h = (
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")) / 3_600_000_000
    ).cast("long")
    return (
        p.select(lat_h.alias("latency_h"))
        .groupBy("latency_h")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("latency_h")
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint over the daily event-count series: cumulative sum of
# the SCALED deviation n_d·D − N (all integers — multiplying through by
# the day count D avoids the float mean), argmax |CUSUM| marks the most
# likely level-shift day (the classic offline CUSUM estimator).  The
# anomaly family (zscore, MAD) flags pointwise outliers; CUSUM finds the
# persistent REGIME CHANGE those tests miss.
# Scale: day-spine prefix sum — the same distributed-cumsum shape as the
# sweep queries; one O(days) pass after one fact-table aggregate.
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS n
  FROM events GROUP BY day
), spine AS (
  SELECT unnest(generate_series(min(CAST(ts AS DATE)), max(CAST(ts AS DATE)),
                                INTERVAL 1 DAY))::DATE AS day
  FROM events
), filled AS (
  SELECT spine.day, coalesce(daily.n, 0) AS n
  FROM spine LEFT JOIN daily ON spine.day = daily.day
), tot AS (
  SELECT count(*) AS d, sum(n) AS big_n FROM filled
), cus AS (
  SELECT day, n,
         cast(sum(n * tot.d - tot.big_n) OVER (ORDER BY day) AS BIGINT)
           AS cusum_scaled
  FROM filled, tot
)
SELECT day, n AS n_events, cusum_scaled,
       CASE WHEN abs(cusum_scaled) = (SELECT max(abs(cusum_scaled)) FROM cus)
            THEN 1 ELSE 0 END AS is_changepoint
FROM cus ORDER BY day
"""


@register(
    "events_cusum_changepoint",
    _CUSUM_ORACLE,
    tags=("events", "timeseries", "anomaly", "window"),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ranks import with_global_cumsum

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    spine = (
        ev.agg(
            F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
        )
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    filled = spine.join(daily, "day", "left").na.fill({"n": 0})
    d, big_n = filled.agg(
        F.count(F.lit(1)), F.sum("n")
    ).first()  # 1-row scalar probe (O(1))
    dev = filled.withColumn("dv", F.col("n") * int(d) - int(big_n))
    cus, _ = with_global_cumsum(dev, [F.asc("day")], "dv", "cusum_scaled")
    peak = cus.agg(F.max(F.abs(F.col("cusum_scaled")))).first()[0]
    return cus.select(
        "day",
        F.col("n").alias("n_events"),
        F.col("cusum_scaled").cast("long").alias("cusum_scaled"),
        F.when(F.abs(F.col("cusum_scaled")) == peak, F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_changepoint"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Trailing-7-day distinct users via MERGEABLE HLL partials — the sketch
# twin of events_trailing_7d_distinct_users, and the reason sketches
# exist at 100 TB: the exact query fans out |user-days|×7 rows, the
# sketch fans out DAILY REGISTER SETS (≤ 64 rows per day, independent of
# event volume), merges by per-(window, bucket) max, and finalizes per
# window.  Daily partials are computed once and reused by every window
# they serve — the partial-aggregate reuse pattern every metrics store
# (Druid/Pinot/ClickHouse AggregatingMergeTree) is built on.  The exact
# count rides along per window so the driver's hash also pins the
# sketch's error behavior on this corpus.
# ---------------------------------------------------------------------------


def _hll7_oracle() -> str:
    from event_streaming_spark.functions.hashing import sql_stable_hash32
    from event_streaming_spark.operators.sketches import _alpha

    b = 6
    m = 1 << b
    w_bits = 32 - b
    mask = (1 << w_bits) - 1
    alpha = _alpha(m)
    h = sql_stable_hash32("cast(user_id AS VARCHAR)")
    return f"""
WITH hashed AS (
  SELECT CAST(ts AS DATE) AS d, {h} AS h FROM events
), br AS (
  SELECT d, h >> {w_bits} AS bucket,
         CASE WHEN (h & {mask}) = 0 THEN {w_bits + 1}
              ELSE {w_bits + 1} - length(bin(h & {mask})) END AS rank
  FROM hashed WHERE h IS NOT NULL
), dregs AS (
  SELECT d, bucket, max(rank) AS reg FROM br GROUP BY d, bucket
), bnd AS (
  SELECT max(CAST(ts AS DATE)) AS d1 FROM events
), fan AS (
  SELECT unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE
           AS day,
         bucket, reg
  FROM dregs
), regs AS (
  SELECT day, bucket, max(reg) AS reg
  FROM fan, bnd WHERE day <= bnd.d1 GROUP BY day, bucket
), acc AS (
  SELECT day, sum(1::BIGINT << (32 - reg)) AS s_scaled, count(*) AS m_present
  FROM regs GROUP BY day
), est AS (
  SELECT day, CASE
    WHEN ({alpha} * {m} * {m} * 4294967296.0)
           / (s_scaled + ({m} - m_present) * 4294967296) <= {2.5 * m}
         AND ({m} - m_present) > 0
    THEN round({float(m)} * ln({float(m)} / ({m} - m_present)), 4)
    ELSE round(({alpha} * {m} * {m} * 4294967296.0)
           / (s_scaled + ({m} - m_present) * 4294967296), 4)
  END AS hll_users_7d
  FROM acc
), ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), w AS (
  SELECT unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE
           AS day, user_id
  FROM ud
), exact AS (
  SELECT day, cast(count(DISTINCT user_id) AS BIGINT) AS exact_users_7d
  FROM w, bnd WHERE day <= bnd.d1 GROUP BY day
)
SELECT est.day AS day, est.hll_users_7d, exact.exact_users_7d
FROM est JOIN exact ON est.day = exact.day
ORDER BY day
"""


@register(
    "sketch_hll_trailing_7d_users",
    _hll7_oracle(),
    tags=("sketch", "events", "timeseries", "window"),
)
def sketch_hll_trailing_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.sketches import (
        hll_finalize_by,
        hll_merge_by,
        hll_registers_by,
    )

    ev = load(spark, sf_dir, "events")
    d1 = ev.agg(F.max(F.to_date("ts"))).first()[0]  # 1-row scalar probe
    daily = hll_registers_by(
        ev.select(F.to_date("ts").alias("day"), "user_id"), ["day"], F.col("user_id")
    )
    fan = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("day"),
        "bucket",
        "reg",
    ).where(F.col("day") <= F.lit(d1))
    est = hll_finalize_by(hll_merge_by(fan, ["day"]), ["day"]).withColumnRenamed(
        "hll_estimate", "hll_users_7d"
    )
    ud = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    exact = (
        ud.select(
            F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"),
            "user_id",
        )
        .where(F.col("day") <= F.lit(d1))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    return est.join(exact, "day").orderBy("day")


# ---------------------------------------------------------------------------
# EWMA smoothing of the daily event-count series — exponential smoothing
# with rational α = 1/8 in pure integer fixed point:
#   S_0 = 10⁶·n_0;  S_t = (7·S_{t−1} + 10⁶·n_t) div 8
# (floor division each step, so both engines recurse bit-identically —
# no float pow/decay drift).  The smoothing recursion is DAY-domain
# work: the data-sized job is the one daily aggregate; the O(days)
# recursion runs on the driver (the same boundary the k-means/IVF
# centroid loops draw), and the oracle replays it as a recursive CTE.
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS n
  FROM events GROUP BY day
), spine AS (
  SELECT unnest(generate_series(min(CAST(ts AS DATE)), max(CAST(ts AS DATE)),
                                INTERVAL 1 DAY))::DATE AS day
  FROM events
), filled AS (
  SELECT spine.day, coalesce(daily.n, 0) AS n
  FROM spine LEFT JOIN daily ON spine.day = daily.day
), r(day, n, s) AS (
  SELECT day, n, 1000000 * n FROM filled
  WHERE day = (SELECT min(day) FROM filled)
  UNION ALL
  SELECT f.day, f.n, (7 * r.s + 1000000 * f.n) // 8
  FROM r JOIN filled f ON f.day = r.day + INTERVAL 1 DAY
)
SELECT day, n AS n_events, cast(s AS BIGINT) AS ewma_scaled
FROM r ORDER BY day
"""


@register(
    "events_ewma_daily",
    _EWMA_ORACLE,
    tags=("events", "timeseries", "smoothing"),
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    spine = (
        ev.agg(
            F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
        )
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    filled = (
        spine.join(daily, "day", "left").na.fill({"n": 0}).orderBy("day").collect()
    )  # O(days) localization — the recursion's domain, never the fact table
    rows = []
    s = None
    for r in filled:
        n = int(r["n"])
        s = 1_000_000 * n if s is None else (7 * s + 1_000_000 * n) // 8
        rows.append((r["day"], n, s))
    return local_frame(spark, 
        rows, "day date, n_events long, ewma_scaled long"
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Backlog AGING report: open orders per day BY AGE BUCKET (0-7d / 7-30d /
# 30d+) — the ops staple ("how much old backlog are we carrying?").
# Generalizes the sweep-line reduction to 2-D: within its lifetime an
# order migrates buckets at deterministic offsets, so each (order,
# bucket) contributes at most one +1/−1 delta pair — 6 rows per order
# max — and the per-bucket concurrency is a prefix sum over the day
# spine (bucket count is config-sized: the per-bucket window is
# domain-sized work, not data-sized).
# ---------------------------------------------------------------------------

_AGING_ORACLE = """
WITH iv AS (
  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS s,
         CAST(max(l.l_shipdate) AS DATE) AS e
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
), d AS (
  SELECT s AS day, '00-07d' AS bucket, 1 AS dlt FROM iv
  UNION ALL
  SELECT least(e, s + INTERVAL 6 DAY) + INTERVAL 1 DAY, '00-07d', -1 FROM iv
  UNION ALL
  SELECT s + INTERVAL 7 DAY, '07-30d', 1 FROM iv WHERE e >= s + INTERVAL 7 DAY
  UNION ALL
  SELECT least(e, s + INTERVAL 29 DAY) + INTERVAL 1 DAY, '07-30d', -1
  FROM iv WHERE e >= s + INTERVAL 7 DAY
  UNION ALL
  SELECT s + INTERVAL 30 DAY, '30d+', 1 FROM iv WHERE e >= s + INTERVAL 30 DAY
  UNION ALL
  SELECT e + INTERVAL 1 DAY, '30d+', -1 FROM iv WHERE e >= s + INTERVAL 30 DAY
), spine AS (
  SELECT unnest(generate_series(min(s), max(e), INTERVAL 1 DAY))::DATE AS day
  FROM iv
), grid AS (
  SELECT day, bucket
  FROM spine, (VALUES ('00-07d'), ('07-30d'), ('30d+')) AS b(bucket)
), nd AS (
  SELECT CAST(day AS DATE) AS day, bucket, cast(sum(dlt) AS BIGINT) AS nd
  FROM d GROUP BY 1, 2
)
SELECT g.day AS day, g.bucket AS bucket,
       cast(sum(coalesce(nd.nd, 0)) OVER (
         PARTITION BY g.bucket ORDER BY g.day) AS BIGINT) AS open_orders
FROM grid g LEFT JOIN nd ON g.day = nd.day AND g.bucket = nd.bucket
ORDER BY day, bucket
"""


@register(
    "orders_backlog_aging_buckets",
    _AGING_ORACLE,
    tags=("relational", "timeseries", "window"),
)
def orders_backlog_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("s")
    )
    close = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("e"))
    )
    iv = o.join(close, o.o_orderkey == close.l_orderkey).select("s", "e")

    def leg(cond, day_col, bucket, dlt):
        src = iv.where(cond) if cond is not None else iv
        return src.select(
            day_col.alias("day"), F.lit(bucket).alias("bucket"), F.lit(dlt).alias("dlt")
        )

    one_after = lambda c: F.date_add(c, 1)  # noqa: E731
    deltas = (
        leg(None, F.col("s"), "00-07d", 1)
        .unionByName(leg(None, one_after(F.least("e", F.date_add("s", 6))), "00-07d", -1))
        .unionByName(leg(F.col("e") >= F.date_add("s", 7), F.date_add("s", 7), "07-30d", 1))
        .unionByName(
            leg(
                F.col("e") >= F.date_add("s", 7),
                one_after(F.least("e", F.date_add("s", 29))),
                "07-30d",
                -1,
            )
        )
        .unionByName(leg(F.col("e") >= F.date_add("s", 30), F.date_add("s", 30), "30d+", 1))
        .unionByName(leg(F.col("e") >= F.date_add("s", 30), one_after(F.col("e")), "30d+", -1))
    )
    nd = deltas.groupBy("day", "bucket").agg(F.sum("dlt").alias("nd"))
    spine = (
        iv.agg(F.min("s").alias("d0"), F.max("e").alias("d1"))
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    grid = spine.crossJoin(
        local_frame(spark, [("00-07d",), ("07-30d",), ("30d+",)], "bucket string")
    )
    base = grid.join(nd, ["day", "bucket"], "left").na.fill({"nd": 0})
    w = Window.partitionBy("bucket").orderBy("day")  # 3 domain-sized partitions
    return base.select(
        "day",
        "bucket",
        F.sum("nd").over(w).cast("long").alias("open_orders"),
    ).orderBy("day", "bucket")


# ---------------------------------------------------------------------------
# HOLT double-exponential smoothing (level + trend) of the daily series,
# with a 7-day linear forecast — the trend-aware upgrade of the EWMA
# above, in the same pure integer fixed point (α = β = 1/8, integer
# division each step so both engines recurse bit-identically).  The
# trend numerator goes NEGATIVE on declining series, where DuckDB's //
# TRUNCATES toward zero while Python's floors — the engine recursion
# therefore uses an explicit truncating div to match the oracle's
# C-style semantics (measured divergence of 3 ppm-units by day 5
# before the fix):
#   L_0 = 10⁶·n_0;                T_0 = 0
#   L_t = (10⁶·n_t + 7·(L_{t−1} + T_{t−1})) div 8
#   T_t = ((L_t − L_{t−1}) + 7·T_{t−1}) div 8
#   forecast_h = L_N + h·T_N,  h = 1..7
# Fitted value for day t is the one-step-ahead prediction L_{t−1}+T_{t−1}.
# Same scale boundary as the EWMA: the data-sized job is one daily
# aggregate; the O(days) recursion is driver-domain work.
# ---------------------------------------------------------------------------

_HOLT_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS n
  FROM events GROUP BY day
), spine AS (
  SELECT unnest(generate_series(min(CAST(ts AS DATE)), max(CAST(ts AS DATE)),
                                INTERVAL 1 DAY))::DATE AS day
  FROM events
), filled AS (
  SELECT spine.day, coalesce(daily.n, 0) AS n
  FROM spine LEFT JOIN daily ON spine.day = daily.day
), r(day, n, l, t, fitted) AS (
  SELECT day, n, 1000000 * n, CAST(0 AS BIGINT), 1000000 * n FROM filled
  WHERE day = (SELECT min(day) FROM filled)
  UNION ALL
  SELECT f.day, f.n,
         (1000000 * f.n + 7 * (r.l + r.t)) // 8,
         (((1000000 * f.n + 7 * (r.l + r.t)) // 8 - r.l) + 7 * r.t) // 8,
         r.l + r.t
  FROM r JOIN filled f ON f.day = r.day + INTERVAL 1 DAY
), tail AS (
  SELECT l, t, day FROM r WHERE day = (SELECT max(day) FROM r)
), fc AS (
  SELECT (tail.day + to_days(h::INT))::DATE AS day, h
  , tail.l + h * tail.t AS f FROM tail, unnest([1,2,3,4,5,6,7]) AS u(h)
)
SELECT day, 'obs' AS kind, n AS n_events,
       cast(l AS BIGINT) AS level_scaled, cast(t AS BIGINT) AS trend_scaled,
       cast(fitted AS BIGINT) AS fitted_scaled
FROM r
UNION ALL
SELECT day, 'forecast', NULL, NULL, NULL, cast(f AS BIGINT) FROM fc
ORDER BY day, kind
"""


@register(
    "events_holt_linear_forecast",
    _HOLT_ORACLE,
    tags=("events", "timeseries", "smoothing", "forecast"),
)
def events_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    spine = (
        ev.agg(
            F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
        )
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    filled = (
        spine.join(daily, "day", "left").na.fill({"n": 0}).orderBy("day").collect()
    )  # O(days) localization — the recursion's domain, never the fact table
    def tdiv(a: int, b: int) -> int:
        # truncate toward zero — DuckDB's // semantics (Python's floors)
        return -((-a) // b) if a < 0 else a // b

    rows = []
    lvl = trd = None
    for r in filled:
        n = int(r["n"])
        if lvl is None:
            lvl, trd, fitted = 1_000_000 * n, 0, 1_000_000 * n
        else:
            fitted = lvl + trd
            new_l = tdiv(1_000_000 * n + 7 * (lvl + trd), 8)
            trd = tdiv((new_l - lvl) + 7 * trd, 8)
            lvl = new_l
        rows.append((r["day"], "obs", n, lvl, trd, fitted))
    last_day = filled[-1]["day"]
    for h in range(1, 8):
        rows.append(
            (last_day + _dt.timedelta(days=h), "forecast", None, None, None,
             lvl + h * trd)
        )
    return local_frame(spark, 
        rows,
        "day date, kind string, n_events long, level_scaled long, "
        "trend_scaled long, fitted_scaled long",
    ).orderBy("day", "kind")


# ---------------------------------------------------------------------------
# Seasonality-ADJUSTED anomaly report: the plain z-score flags every
# weekend as anomalous on weekly-cyclic traffic; this query scores each
# day against its OWN day-of-week's mean.  Exact integer form: for day t
# with count n_t on dow d (days_d days, total_d events across the dow
# group), the scaled residual is
#   resid_d(t) = n_t · days_d − total_d    ( = days_d · (n_t − mean_d) )
# and the flag is |resid| · 2 > total_d  ⇔  |n_t − mean_d| > mean_d / 2
# (a ±50 % band), all division-free so both engines agree bit-exactly.
# Scale: one daily aggregate (data-sized), then dow-group joins on the
# days-sized summary — aggregate first, analyze the tiny series.
# ---------------------------------------------------------------------------

_DOWRES_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS n
  FROM events GROUP BY day
), spine AS (
  SELECT unnest(generate_series(min(CAST(ts AS DATE)), max(CAST(ts AS DATE)),
                                INTERVAL 1 DAY))::DATE AS day
  FROM events
), filled AS (
  SELECT spine.day, dayofweek(spine.day) + 1 AS dow, coalesce(daily.n, 0) AS n
  FROM spine LEFT JOIN daily ON spine.day = daily.day
), g AS (
  SELECT dow, cast(count(*) AS BIGINT) AS days_d,
         cast(sum(n) AS BIGINT) AS total_d
  FROM filled GROUP BY dow
)
SELECT f.day, f.dow, f.n AS n_events, g.days_d, g.total_d,
       f.n * g.days_d - g.total_d AS resid_scaled,
       CASE WHEN abs(f.n * g.days_d - g.total_d) * 2 > g.total_d
            THEN 1 ELSE 0 END AS is_anomaly
FROM filled f JOIN g ON g.dow = f.dow
ORDER BY f.day
"""


@register(
    "events_dow_adjusted_anomaly",
    _DOWRES_ORACLE,
    tags=("events", "timeseries", "anomaly"),
)
def events_dow_adjusted_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.materialize import materialize

    ev = load(spark, sf_dir, "events")
    # Pin the days-sized dense series: the dow-group summary and the
    # residual join both read it — unpinned, each branch re-scans and
    # re-aggregates the fact table.
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    spine = (
        ev.agg(
            F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
        )
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    filled = materialize(
        spine.join(daily, "day", "left").select(
            "day",
            F.dayofweek("day").alias("dow"),
            F.coalesce("n", F.lit(0)).alias("n"),
        ),
        name="dow-anomaly-daily",
    )
    g = filled.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("days_d"),
        F.sum("n").cast("long").alias("total_d"),
    )
    resid = F.col("n") * F.col("days_d") - F.col("total_d")
    return (
        filled.join(F.broadcast(g), "dow")
        .select(
            "day",
            "dow",
            F.col("n").alias("n_events"),
            "days_d",
            "total_d",
            resid.alias("resid_scaled"),
            F.when(F.abs(resid) * 2 > F.col("total_d"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_anomaly"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Daily BOUNCE RATE over the same gap-based 30-minute sessions as
# `events_sessionize_30m`: share of sessions (attributed to their start
# day) with exactly one event, in exact ppm — the standard engagement
# KPI the sessionizer family lacked.  Same single user-keyed shuffle to
# build sessions; the per-day rollup runs on the sessions-sized summary.
# ---------------------------------------------------------------------------

_BOUNCE_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END
           AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id,
         CAST(min(ts) AS DATE) AS day,
         cast(count(*) AS BIGINT) AS n_events
  FROM sessions GROUP BY user_id, session_id
)
SELECT day,
       cast(count(*) AS BIGINT) AS n_sessions,
       cast(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       cast(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS bounce_ppm
FROM per_session
GROUP BY day ORDER BY day
"""


@register(
    "events_bounce_rate_daily",
    _BOUNCE_ORACLE,
    tags=("events", "session", "agg"),
)
def events_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_ms = F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_ms <= 30 * 60 * 1000, F.lit(0)).otherwise(F.lit(1)),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(run))
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.to_date(F.min("ts")).alias("day"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    is_bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return (
        per_session.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(is_bounce).cast("long").alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            ((F.col("n_bounces") * 1_000_000) / F.col("n_sessions"))
            .cast("long")
            .alias("bounce_ppm"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Fulfillment SLA percentiles per order priority: exact p50/p90/p99 of
# order→last-shipment latency (days), through the same distributed
# order-statistics machinery as the gap-percentile query — the rank
# runs range-partitioned (operators/ranks.with_group_rank), never one
# task per priority, and the type-7 interpolation is the hand-computed
# exact-integer form shared by both engines.  The ops report that tells
# you whether '1-URGENT' actually ships faster.
# ---------------------------------------------------------------------------

_SLA_PCTS = (50, 90, 99)


def _sla_oracle() -> str:
    from event_streaming_spark.functions.numeric import sql_exact_pct_agg

    pct_cols = ", ".join(
        f"{sql_exact_pct_agg(p)} AS p{p}_days" for p in _SLA_PCTS
    )
    return f"""
WITH lat AS (
  SELECT o.o_orderpriority AS priority,
         datediff('day', CAST(o.o_orderdate AS DATE),
                  CAST(max(l.l_shipdate) AS DATE)) AS days
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
), pos AS (
  SELECT priority, days AS val,
         row_number() OVER (PARTITION BY priority ORDER BY days) AS rv,
         count(*) OVER (PARTITION BY priority) AS n
  FROM lat
)
SELECT priority, max(n) AS n_orders, {pct_cols}
FROM pos GROUP BY priority ORDER BY priority
"""


@register(
    "orders_fulfillment_sla_percentiles",
    _sla_oracle(),
    tags=("relational", "agg", "percentile"),
)
def orders_fulfillment_sla_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.functions.numeric import exact_pct_agg
    from event_streaming_spark.operators.ranks import with_group_rank

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("od")
    )
    ship = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("sd"))
    )
    lat = o.join(ship, o.o_orderkey == ship.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("sd", "od").alias("val"),
    )
    pos = with_group_rank(lat, "priority", "val")
    return (
        pos.groupBy("priority")
        .agg(
            F.max("n").alias("n_orders"),
            *[exact_pct_agg(p).alias(f"p{p}_days") for p in _SLA_PCTS],
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# GINI coefficient of user engagement — the inequality measure behind
# "how concentrated is our traffic?" (the Pareto top-share query shows
# one point of the Lorenz curve; Gini integrates it).  Closed form over
# ascending-sorted per-user counts x_(1..n):
#   G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)
# — integer numerator and denominator, reported in exact ppm (floor).
# The global rank over per-user counts runs range-partitioned
# (operators/ranks.with_global_row_number): no single-task window at
# any user cardinality; the Σ i·x_(i) moment is one map-side-combined
# aggregate over the ranked rows.
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH c AS (
  SELECT user_id, cast(count(*) AS BIGINT) AS x FROM events GROUP BY user_id
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, user_id) AS i,
         count(*) OVER () AS n
  FROM c
)
SELECT cast(max(n) AS BIGINT) AS n_users,
       cast(sum(x) AS BIGINT) AS n_events,
       cast((2 * sum(i * x) - (max(n) + 1) * sum(x)) * 1000000
            // (max(n) * sum(x)) AS BIGINT) AS gini_ppm
FROM ranked
"""


@register(
    "events_user_engagement_gini",
    _GINI_ORACLE,
    tags=("events", "stats", "agg"),
)
def events_user_engagement_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ranks import with_global_row_number

    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    ranked, n = with_global_row_number(
        c, [F.asc("x"), F.asc("user_id")], out_col="i"
    )
    agg = ranked.agg(
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("six"),
    )
    num = 2 * F.col("six") - (F.lit(n) + 1) * F.col("sx")
    den = F.lit(n) * F.col("sx")
    return agg.select(
        F.lit(n).cast("long").alias("n_users"),
        F.col("sx").alias("n_events"),
        ((num * 1_000_000) / den).cast("long").alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Type-mix DRIFT monitor: each day's event-type mix compared to the
# PRIOR 7 days' mix by total-variation distance,
#   TVD = ½ · Σ_types |share_day − share_prior|    (exact ppm),
# — the drift alarm a training-data pipeline runs on every ingest day
# (a source changing its composition shows up here before any model
# does).  Shares are floored ppm on BOTH engines, so the distance is
# bit-exact.  The prior-week type counts come from the bounded ×7
# fanout rewrite (each (day, type) count contributes to exactly the 7
# following days' windows) — one data-sized aggregate, then everything
# runs on the (days × types)-sized dense grid.
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH cnt AS (
  SELECT CAST(ts AS DATE) AS day, event_type AS t,
         cast(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), days AS (SELECT DISTINCT day FROM cnt),
types AS (SELECT DISTINCT t FROM cnt),
dense AS (
  SELECT days.day, types.t, coalesce(cnt.c, 0) AS c
  FROM days CROSS JOIN types
  LEFT JOIN cnt ON cnt.day = days.day AND cnt.t = types.t
), prior AS (
  SELECT d2.day, dense.t, cast(sum(dense.c) AS BIGINT) AS pc
  FROM dense
  JOIN days d2 ON d2.day BETWEEN dense.day + INTERVAL 1 DAY
                             AND dense.day + INTERVAL 7 DAY
  GROUP BY d2.day, dense.t
), tot AS (
  SELECT day, cast(sum(c) AS BIGINT) AS day_total FROM dense GROUP BY day
), ptot AS (
  SELECT day, cast(sum(pc) AS BIGINT) AS prior_total FROM prior GROUP BY day
), shares AS (
  SELECT dense.day, dense.t,
         dense.c * 1000000 // tot.day_total AS s_day,
         prior.pc * 1000000 // ptot.prior_total AS s_prior
  FROM dense
  JOIN tot ON tot.day = dense.day
  JOIN prior ON prior.day = dense.day AND prior.t = dense.t
  JOIN ptot ON ptot.day = dense.day
  WHERE tot.day_total > 0 AND ptot.prior_total > 0
)
SELECT day,
       cast(sum(abs(s_day - s_prior)) // 2 AS BIGINT) AS tvd_ppm
FROM shares GROUP BY day ORDER BY day
"""


@register(
    "events_type_mix_drift_daily",
    _DRIFT_ORACLE,
    tags=("events", "timeseries", "drift", "quality"),
)
def events_type_mix_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.materialize import materialize

    ev = load(spark, sf_dir, "events")
    # Pin the (days × types)-sized dense grid: five downstream consumers
    # (prior fanout, both totals, both share joins) read it.
    cnt = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type").alias("t")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    days = cnt.select("day").distinct()
    types = cnt.select("t").distinct()
    dense = materialize(
        days.crossJoin(types)
        .join(cnt, ["day", "t"], "left")
        .select("day", "t", F.coalesce("c", F.lit(0)).alias("c")),
        name="drift-dense-grid",
    )
    # bounded ×7 fanout: each (day, t) count lands in the prior-week
    # windows of days day+1 .. day+7 (only days present in the data)
    fan = dense.select(
        F.explode(F.sequence(F.date_add("day", 1), F.date_add("day", 7))).alias(
            "day2"
        ),
        "t",
        "c",
    )
    prior = (
        fan.join(days.select(F.col("day").alias("day2")), "day2")
        .groupBy(F.col("day2").alias("day"), "t")
        .agg(F.sum("c").cast("long").alias("pc"))
    )
    tot = dense.groupBy("day").agg(F.sum("c").cast("long").alias("day_total"))
    ptot = prior.groupBy("day").agg(F.sum("pc").cast("long").alias("prior_total"))
    shares = (
        dense.join(tot, "day")
        .join(prior, ["day", "t"])
        .join(ptot, "day")
        .filter((F.col("day_total") > 0) & (F.col("prior_total") > 0))
        .select(
            "day",
            ((F.col("c") * 1_000_000) / F.col("day_total"))
            .cast("long")
            .alias("s_day"),
            ((F.col("pc") * 1_000_000) / F.col("prior_total"))
            .cast("long")
            .alias("s_prior"),
        )
    )
    return (
        shares.groupBy("day")
        .agg(
            (F.sum(F.abs(F.col("s_day") - F.col("s_prior"))) / 2)
            .cast("long")
            .alias("tvd_ppm")
        )
        .orderBy("day")
    )


# ===========================================================================
# Engagement and path analytics: bitmap-index engagement analytics,
# position-based multi-touch attribution, autocorrelation of the daily
# series, type-affinity Jaccard, and clickstream path mining — capability
# classes the catalog lacked.
#
# Scale design notes (the reason each query exists):
#
# * The ACTIVITY BITMAP packs a user's last-62-day presence into ONE
#   BIGINT (bit i = active on max_day − i), the classic bitmap-index
#   trick: engagement features (popcounts over masked windows, cross-week
#   retention AND-tests) become per-row constant-time bit ops on a
#   users-sized table instead of repeated date-range scans of the fact
#   table.  One (user, day) dedup shuffle + one groupBy — the fact table
#   is touched once no matter how many windows are derived.  Longest
#   streak rides gaps-and-islands on the SAME deduped user-day rows
#   (bitmaps answer membership/popcount; runs are a sort-within-user
#   property — two windows, no self-join).
# * POSITION-BASED (U-shaped) attribution is the multi-touch complement
#   of `events_attribution_last_touch`: 40 % first / 40 % last / 20 %
#   split over middles, all in exact integer ppm (the floor remainder of
#   the middle split goes to the FIRST touch so every conversion's
#   credit sums to exactly 1,000,000).  One pass builds purchase epochs
#   with a running count; converted/count/position are whole-partition
#   windows over (user, epoch) — one fact scan, zero joins.
# * The ACF query is "aggregate first, then analyze the tiny summary":
#   the only data-sized op is the per-day count; lag products run on the
#   days-sized series.  Integer-moments form (devs scaled by n so no
#   division happens until the end) with DECIMAL(38,0)/HUGEINT products,
#   one IEEE-identical round(num/den, 6) at the boundary — same
#   determinism recipe as `events_type_volume_correlation`.
# * TYPE-AFFINITY JACCARD projects the bipartite user×type graph onto
#   types WITHOUT a user×user join: the per-user distinct type set is
#   bounded by |types|, so the pair explosion is ≤ C(|types|,2) rows per
#   user — linear in users, never quadratic.
# * PATH MINING builds each (user, day) journey with one keyed collect +
#   array_sort (struct field order = the (ts, event_id) total order) —
#   no window, no self-join; identical paths count through a
#   wordcount-shaped shuffle.
#
# Determinism: engine-boundary values are exact integers (ppm floor
# division per the repo convention) except the ACF's final round(·, 6),
# which is bit-identical across engines on the same integer moments.
# ===========================================================================

# ---------------------------------------------------------------------------
# 62-day activity bitmap per user.  Window anchored at the global max
# event date (bit i = active on max_day − i); 62 bits keeps the mask a
# positive BIGINT.  Popcount features and the week-over-week retention
# test are mask arithmetic; longest streak is gaps-and-islands over the
# same deduped user-day rows.
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), anchor AS (
  SELECT max(day) AS max_day FROM ud
), idx AS (
  SELECT user_id, datediff('day', day, max_day) AS day_idx
  FROM ud CROSS JOIN anchor
  WHERE datediff('day', day, max_day) BETWEEN 0 AND 61
), m AS (
  SELECT user_id,
         bit_or(CAST(1 AS BIGINT) << day_idx) AS mask
  FROM idx GROUP BY user_id
), runs AS (
  SELECT user_id,
         day_idx - row_number() OVER (PARTITION BY user_id ORDER BY day_idx)
           AS island
  FROM idx
), streaks AS (
  SELECT user_id, cast(max(run_len) AS BIGINT) AS longest_streak
  FROM (SELECT user_id, island, count(*) AS run_len
        FROM runs GROUP BY user_id, island)
  GROUP BY user_id
)
SELECT m.user_id,
       m.mask,
       cast(bit_count(m.mask) AS BIGINT) AS active_days,
       cast(bit_count(m.mask & 127) AS BIGINT) AS days_last7,
       cast(bit_count((m.mask >> 7) & 127) AS BIGINT) AS days_prior7,
       s.longest_streak,
       CASE WHEN (m.mask & 127) <> 0 AND ((m.mask >> 21) & 127) <> 0
            THEN 1 ELSE 0 END AS retained_w1_w4
FROM m JOIN streaks s ON s.user_id = m.user_id
ORDER BY m.user_id
"""


@register(
    "events_user_activity_bitmap",
    _BITMAP_ORACLE,
    tags=("events", "bitmap", "engagement"),
    bench=True,  # r8: new capability class — tracked round-over-round
)
def events_user_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.materialize import materialize

    ev = load(spark, sf_dir, "events")
    # One fact scan: the deduped (user, day) set is materialized and
    # feeds anchor, mask, and streak branches — without the pin, each
    # branch would re-scan events (4 scans in the dumped plan).
    ud = materialize(
        ev.select("user_id", F.to_date("ts").alias("day")).distinct(),
        name="activity-user-days",
    )
    anchor = ud.agg(F.max("day").alias("max_day"))
    idx = (
        ud.crossJoin(F.broadcast(anchor))
        .select("user_id", F.datediff("max_day", "day").alias("day_idx"))
        .filter(F.col("day_idx").between(0, 61))
    )
    m = idx.groupBy("user_id").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), day_idx))").alias("mask")
    )
    w = Window.partitionBy("user_id").orderBy("day_idx")
    streaks = (
        idx.select("user_id", (F.col("day_idx") - F.row_number().over(w)).alias("island"))
        .groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("user_id")
        .agg(F.max("run_len").cast("long").alias("longest_streak"))
    )
    out = (
        m.join(streaks, "user_id")
        .select(
            "user_id",
            "mask",
            F.bit_count("mask").cast("long").alias("active_days"),
            F.bit_count(F.col("mask").bitwiseAND(F.lit(127)))
            .cast("long")
            .alias("days_last7"),
            F.bit_count(F.shiftright("mask", 7).bitwiseAND(F.lit(127)))
            .cast("long")
            .alias("days_prior7"),
            "longest_streak",
            F.when(
                (F.col("mask").bitwiseAND(F.lit(127)) != 0)
                & (F.shiftright("mask", 21).bitwiseAND(F.lit(127)) != 0),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("retained_w1_w4"),
        )
        .orderBy("user_id")
    )
    capture_plan("events_user_activity_bitmap", out)
    return out


# ---------------------------------------------------------------------------
# U-shaped (position-based) multi-touch attribution: each purchase
# distributes exactly 1,000,000 ppm of credit over the view/click
# touches since the previous purchase — 40 % first, 40 % last, 20 %
# split over middles (floor; remainder to the first touch).  Epochs come
# from ONE running count of prior purchases per user; the converted
# flag, touch count, and touch position are whole-partition windows over
# (user, epoch) in the SAME sort — one fact scan, no ts-range join, no
# self-join (the oracle states the equivalent join form).  Touches after
# a user's final purchase never convert and drop out.
# ---------------------------------------------------------------------------

_UATTR_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts, event_type,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS epoch
  FROM events
), touches AS (
  SELECT user_id, epoch, event_type AS touch_type, ts, event_id
  FROM seq WHERE event_type IN ('view', 'click')
), conv AS (
  SELECT user_id, epoch FROM seq WHERE event_type = 'purchase'
), pos AS (
  SELECT t.touch_type,
         row_number() OVER (PARTITION BY t.user_id, t.epoch
                            ORDER BY t.ts, t.event_id) AS p,
         count(*) OVER (PARTITION BY t.user_id, t.epoch) AS n
  FROM touches t JOIN conv c
    ON c.user_id = t.user_id AND c.epoch = t.epoch
), credit AS (
  SELECT touch_type,
         CASE WHEN n = 1 THEN 'solo'
              WHEN p = 1 THEN 'first'
              WHEN p = n THEN 'last'
              ELSE 'middle' END AS position_class,
         CASE WHEN n = 1 THEN 1000000
              WHEN n = 2 THEN 500000
              WHEN p = 1 THEN 400000 + (200000 % (n - 2))
              WHEN p = n THEN 400000
              ELSE 200000 // (n - 2) END AS ppm
  FROM pos
)
SELECT touch_type, position_class,
       cast(count(*) AS BIGINT) AS n_touches,
       cast(sum(ppm) AS BIGINT) AS credit_ppm_total
FROM credit
GROUP BY touch_type, position_class
ORDER BY touch_type, position_class
"""


@register(
    "events_attribution_position_based",
    _UATTR_ORACLE,
    tags=("events", "attribution", "window"),
)
def events_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wseq = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(wseq),
            F.lit(0),
        ).alias("epoch"),
    )
    # Within (user, epoch) the purchase — if the epoch converted at all —
    # is by construction the LAST row and the ONLY purchase (rows after
    # it advance to epoch+1).  So the touch↔conversion match needs no
    # join: whole-partition windows over (user, epoch) supply the
    # converted flag, the touch count n, and the running touch position
    # p in the same sort the epoch window already established — ONE fact
    # scan, one partition-sort family, zero self-joins.
    is_touch = F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0)
    wp = Window.partitionBy("user_id", "epoch")
    wrun = wp.orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    pos = (
        seq.select(
            F.col("event_type").alias("touch_type"),
            is_touch.alias("is_touch"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .over(wp)
            .alias("converted"),
            F.sum(is_touch).over(wp).alias("n"),
            F.sum(is_touch).over(wrun).alias("p"),
        )
        .filter((F.col("is_touch") == 1) & (F.col("converted") == 1))
        .select("touch_type", "p", "n")
    )
    n, p = F.col("n"), F.col("p")
    ppm = (
        F.when(n == 1, F.lit(1_000_000))
        .when(n == 2, F.lit(500_000))
        .when(p == 1, F.lit(400_000) + F.lit(200_000) % (n - 2))
        .when(p == n, F.lit(400_000))
        .otherwise(F.expr("200000 div (n - 2)"))
    )
    cls = (
        F.when(n == 1, F.lit("solo"))
        .when(p == 1, F.lit("first"))
        .when(p == n, F.lit("last"))
        .otherwise(F.lit("middle"))
    )
    out = (
        pos.select(F.col("touch_type"), cls.alias("position_class"), ppm.alias("ppm"))
        .groupBy("touch_type", "position_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum("ppm").cast("long").alias("credit_ppm_total"),
        )
        .orderBy("touch_type", "position_class")
    )
    capture_plan("events_attribution_position_based", out)
    return out


# ---------------------------------------------------------------------------
# Autocorrelation of the DENSE daily event-count series at lags 1..7
# (absent days count 0 — skipping them shifts every lag).  Integer
# moments: dev_t = n·c_t − S (a bigint), so
# acf_k = Σ dev_t·dev_{t+k} / Σ dev_t² is division-free until one
# IEEE-identical round(·, 6).  Products ride DECIMAL(38,0) (Spark) /
# HUGEINT (DuckDB) so a decade-long 100 TB series cannot overflow.
# ---------------------------------------------------------------------------

_ACF_ORACLE = """
WITH cnt AS (
  SELECT CAST(ts AS DATE) AS day, cast(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), spine AS (
  SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
  FROM cnt
), dense AS (
  SELECT datediff('day', (SELECT min(day) FROM spine), spine.day) AS t,
         coalesce(cnt.c, 0) AS c
  FROM spine LEFT JOIN cnt ON cnt.day = spine.day
), tot AS (
  SELECT cast(count(*) AS BIGINT) AS n, cast(sum(c) AS BIGINT) AS s FROM dense
), dev AS (
  SELECT t, (tot.n * c - tot.s) AS d FROM dense CROSS JOIN tot
), den AS (
  SELECT sum(CAST(d AS HUGEINT) * d) AS den FROM dev
), lags AS (
  SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS k
), num AS (
  SELECT lags.k, sum(CAST(a.d AS HUGEINT) * b.d) AS num,
         cast(count(*) AS BIGINT) AS n_terms
  FROM lags JOIN dev a ON TRUE JOIN dev b ON b.t = a.t + lags.k
  GROUP BY lags.k
)
SELECT num.k AS lag, num.n_terms,
       CASE WHEN den.den > 0
            THEN round(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE), 6)
       END AS acf_r
FROM num CROSS JOIN den
ORDER BY lag
"""


@register(
    "events_acf_daily_lags",
    _ACF_ORACLE,
    tags=("events", "timeseries", "stats"),
)
def events_acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.materialize import materialize

    ev = load(spark, sf_dir, "events")
    # Pin the days-sized summary: bounds/spine/tot/dev/den/num all read
    # it — unpinned, each branch re-scans and re-aggregates the fact
    # table (6 scans in the dumped plan; 1 after the pin).
    cnt = materialize(
        ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
        name="acf-daily-counts",
    )
    bounds = cnt.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
        "d0",
    )
    dense = spine.join(cnt, "day", "left").select(
        F.datediff("day", "d0").alias("t"),
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    tot = dense.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("c").cast("long").alias("s")
    )
    dev = dense.crossJoin(F.broadcast(tot)).select(
        "t", (F.col("n") * F.col("c") - F.col("s")).alias("d")
    )
    den = dev.agg(
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("den")
    )
    lags = dev.sparkSession.range(1, 8).select(F.col("id").cast("int").alias("k"))
    a = dev.select(F.col("t").alias("ta"), F.col("d").alias("da"))
    b = dev.select(F.col("t").alias("tb"), F.col("d").alias("db"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("tb") == F.col("ta") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.col("da").cast("decimal(38,0)") * F.col("db")).alias("num"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )
    out = (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("k").alias("lag"),
            "n_terms",
            F.when(
                F.col("den") > 0,
                F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6),
            ).alias("acf_r"),
        )
        .orderBy("lag")
    )
    capture_plan("events_acf_daily_lags", out)
    return out


# ---------------------------------------------------------------------------
# Type-affinity Jaccard: |users(a) ∩ users(b)| / |users(a) ∪ users(b)|
# between event types, projected from the bipartite user×type graph.
# The pair stage self-joins the per-user DISTINCT type rows on user_id —
# at most C(|types|, 2) rows per user, so the explosion is linear in
# users and bounded by the (tiny) type vocabulary, never user×user.
# ---------------------------------------------------------------------------

_AFFINITY_ORACLE = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), sz AS (
  SELECT event_type, cast(count(*) AS BIGINT) AS n_users FROM ut GROUP BY 1
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         cast(count(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, sa.n_users AS n_a, sb.n_users AS n_b, p.n_both,
       p.n_both * 1000000 // (sa.n_users + sb.n_users - p.n_both)
         AS jaccard_ppm
FROM pairs p
JOIN sz sa ON sa.event_type = p.type_a
JOIN sz sb ON sb.event_type = p.type_b
ORDER BY type_a, type_b
"""


@register(
    "events_type_affinity_jaccard",
    _AFFINITY_ORACLE,
    tags=("events", "similarity", "graph"),
)
def events_type_affinity_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.materialize import materialize

    ev = load(spark, sf_dir, "events")
    # Pin the deduped bipartite edges: both self-join sides and the
    # per-type sizes read them — unpinned, each reference re-scans the
    # fact table and re-runs the dedup shuffle.
    ut = materialize(
        ev.select("user_id", "event_type").distinct(), name="affinity-user-types"
    )
    sz = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    a, b = ut.alias("a"), ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    out = (
        pairs.join(
            F.broadcast(sz.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sz.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                (F.col("n_both") * 1_000_000)
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            )
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy("type_a", "type_b")
    )
    capture_plan("events_type_affinity_jaccard", out)
    return out


# ---------------------------------------------------------------------------
# Clickstream PATH MINING: the top-10 most frequent ordered event-type
# sequences per (user, day) journey, with a deterministic tie-break —
# the "what do users actually do" complement of the Markov transition
# matrix (which only sees adjacent pairs).  The journey build is one
# keyed aggregate: collect the day's (ts, event_id, type) structs,
# array_sort (struct order = field order, so the (ts, event_id) total
# order), then project the types — no window, no self-join; the
# frequency count is a wordcount-shaped shuffle over journey strings.
# Scale: journeys are bounded by per-user-per-day activity (a data
# property, not a plan property — the collect_list is per (user, day),
# never per user); the top-10 is TakeOrdered on the path vocabulary.
# ---------------------------------------------------------------------------

_PATHS_ORACLE = """
WITH j AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id, CAST(ts AS DATE)
), c AS (
  SELECT path, cast(count(*) AS BIGINT) AS n_journeys FROM j GROUP BY path
), r AS (
  SELECT path, n_journeys,
         row_number() OVER (ORDER BY n_journeys DESC, path) AS rnk
  FROM c
)
SELECT path, n_journeys, rnk FROM r WHERE rnk <= 10
"""


@register(
    "events_top_session_paths",
    _PATHS_ORACLE,
    tags=("events", "sequence", "agg"),
    bench=True,  # r8: new capability class — tracked round-over-round
)
def events_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    journeys = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    counts = journeys.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_journeys")
    )
    top = counts.orderBy(F.col("n_journeys").desc(), "path").limit(10)
    return top.select(
        "path",
        "n_journeys",
        F.row_number()
        .over(Window.orderBy(F.col("n_journeys").desc(), F.col("path")))
        .alias("rnk"),
    )


# ---------------------------------------------------------------------------
# NEAREST as-of enrichment: each purchase matched to the user's closest
# 'error' event in EITHER direction (operators/joins.py
# ``asof_join_nearest`` — the pandas merge_asof direction='nearest'
# analogue; the catalog's existing as-of is backward-only).  Exact-tie
# distances resolve backward; several errors at the same matched
# instant resolve max-event_id backward / min-event_id forward (each
# leg's deterministic carry order).  The oracle states the same
# semantics with monotone max/min carries plus a per-instant id
# resolution join.
# Scale: two keyed window sorts over purchases+errors — no ts-range
# join, no per-row probe; gap arithmetic in exact µs longs.
# ---------------------------------------------------------------------------

_NEAREST_ORACLE = """
WITH t AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS isr
  FROM events WHERE event_type IN ('error', 'purchase')
), carried AS (
  SELECT user_id, us, event_id, isr,
         max(CASE WHEN isr = 1 THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, isr DESC, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bus,
         min(CASE WHEN isr = 1 THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, isr, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fus
  FROM t
), eagg AS (
  SELECT user_id, us, max(event_id) AS max_eid, min(event_id) AS min_eid
  FROM t WHERE isr = 1 GROUP BY 1, 2
), chosen AS (
  SELECT c.user_id, c.event_id AS purchase_id, c.us,
         CASE WHEN c.bus IS NOT NULL
                   AND (c.fus IS NULL OR (c.us - c.bus) <= (c.fus - c.us))
              THEN TRUE ELSE FALSE END AS take_b,
         coalesce(CASE WHEN c.bus IS NOT NULL
                            AND (c.fus IS NULL OR (c.us - c.bus) <= (c.fus - c.us))
                       THEN c.bus END, c.fus) AS mus
  FROM carried c WHERE c.isr = 0
)
SELECT ch.user_id, ch.purchase_id,
       CASE WHEN ch.take_b THEN e.max_eid ELSE e.min_eid END AS error_id,
       cast(ch.mus - ch.us AS BIGINT) AS gap_us
FROM chosen ch
LEFT JOIN eagg e ON e.user_id = ch.user_id AND e.us = ch.mus
ORDER BY ch.purchase_id
"""


@register(
    "events_asof_nearest_error_context",
    _NEAREST_ORACLE,
    tags=("events", "join", "asof"),
)
def events_asof_nearest_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.joins import asof_join_nearest

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "purchase")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("us"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.col("event_id").alias("error_id"),
    )
    out = asof_join_nearest(
        purchases,
        errors,
        on="us",
        by=["user_id"],
        value_cols=["error_id"],
        gap_col="gap_us",
    )
    return out.select("user_id", "purchase_id", "error_id", "gap_us").orderBy(
        "purchase_id"
    )


# ===========================================================================
# Decomposition and interval estimates: time-series decomposition, interval-estimate
# analytics, and cohort lifetime value — three capability classes the
# catalog lacked (the reference's events surface stops at scalar time
# formatting, include/events-agency.h:70-76; these are the standard
# analytics a production deployment layers on the same event log).
#
# Scale design notes (the reason each query exists):
#
# * STL-STYLE DECOMPOSITION is "aggregate first, then analyze the tiny
#   summary" (the ACF/Holt recipe): the only data-sized op is the per-day
#   count; the centered 7-row moving average, day-of-week seasonal means,
#   and residuals all run on the days-sized series.  Exactness recipe:
#   every intermediate is an INTEGER (detrended values are carried ×7 so
#   the /7 never happens mid-pipeline — ``detr7 = 7·n − sum7``); the only
#   float ops are the boundary divisions, written as the identical
#   expression tree on both engines (IEEE division is deterministic).
# * WILSON CONFIDENCE INTERVALS upgrade a share-of-traffic point estimate
#   to an interval the way an experimentation platform must (a 2 %
#   purchase share over 40 events is not a 2 % purchase share over
#   40 M events).  The per-group inputs are two exact integers (x, n);
#   the score-interval formula is a fixed expression over them — sqrt is
#   IEEE-correctly-rounded, so both engines agree bit-for-bit.  One fact
#   scan, one tiny groupBy.
# * COHORT LTV is the classic acquisition-cohort × months-since-first
#   revenue triangle.  The first-order month is a per-customer MIN — a
#   partial-agg-friendly shuffle on o_custkey — joined back to orders on
#   the same key (co-partitioned, no second shuffle of the fact table at
#   scale when both sides hash-partition on custkey); month arithmetic is
#   pure integers (y·12+m), revenue the repo's exact fixed-point sum.
#
# Determinism: integer counts, integer month offsets, exact-decimal money
# sums, and boundary-only float division/sqrt rounded to 6 — bit-identical
# across Spark and DuckDB per the repo convention.
# ===========================================================================

# ---------------------------------------------------------------------------
# STL-style additive decomposition of the daily event count:
#   trend    = centered 7-row moving average (full windows only)
#   seasonal = per-day-of-week mean of the detrended series
#   residual = observed − trend − seasonal
# Carried ×7 in integers until the boundary: detr7 = 7·n − sum7, so
# trend = sum7/7, seasonal = Σdetr7/(7·cnt), residual = detr7/7 − seasonal.
# ---------------------------------------------------------------------------

_STL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY CAST(ts AS DATE)
), win AS (
  SELECT day, n,
         sum(n)   OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
         count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt7
  FROM daily
), mid AS (
  SELECT day, n, sum7, dayofweek(day) + 1 AS dow, 7 * n - sum7 AS detr7
  FROM win WHERE cnt7 = 7
), seas AS (
  SELECT dow, sum(detr7) AS s_num, count(*) AS s_cnt FROM mid GROUP BY dow
)
SELECT mid.day, mid.n AS n_events,
       round(cast(sum7 AS double) / 7.0, 6) AS trend,
       round(cast(s_num AS double) / (7.0 * s_cnt), 6) AS seasonal,
       round(cast(detr7 AS double) / 7.0
             - cast(s_num AS double) / (7.0 * s_cnt), 6) AS residual
FROM mid JOIN seas USING (dow)
ORDER BY day
"""


@register(
    "events_stl_decompose_daily",
    _STL_ORACLE,
    tags=("events", "timeseries", "window"),
)
def events_stl_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/residual decomposition of the daily count.

    One fact scan → days-sized series; every op after the first groupBy
    touches O(#days) rows.  The 7-row centered window is a single-node
    series op here by design (days ≪ data); at 100 TB the daily rollup
    is the partial-agg shuffle and this stays exactly as cheap.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n"))
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "n",
        F.sum("n").over(w7).alias("sum7"),
        F.count(F.lit(1)).over(w7).alias("cnt7"),
    )
    mid = win.where(F.col("cnt7") == 7).select(
        "day",
        "n",
        "sum7",
        F.dayofweek("day").alias("dow"),
        (F.lit(7) * F.col("n") - F.col("sum7")).alias("detr7"),
    )
    seas = mid.groupBy("dow").agg(
        F.sum("detr7").alias("s_num"), F.count(F.lit(1)).alias("s_cnt")
    )
    seasonal = F.col("s_num").cast("double") / (F.lit(7.0) * F.col("s_cnt"))
    return (
        mid.join(F.broadcast(seas), "dow")
        .select(
            "day",
            F.col("n").alias("n_events"),
            F.round(F.col("sum7").cast("double") / F.lit(7.0), 6).alias("trend"),
            F.round(seasonal, 6).alias("seasonal"),
            F.round(
                F.col("detr7").cast("double") / F.lit(7.0) - seasonal, 6
            ).alias("residual"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Wilson 95 % score intervals for the purchase share of each day-of-week.
# x, n are exact integers per group; the interval is
#   (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n),  z = 1.96.
# The expression tree is written identically on both engines — every
# operand derives from (x, n) by IEEE-deterministic ops (÷, ×, √).
# ---------------------------------------------------------------------------

_WILSON_EXPR = (
    "round((p + {zz} / (2.0 * n) - {z} * sqrt(p * (1.0 - p) / n"
    " + {zz} / (4.0 * n * n))) / (1.0 + {zz} / n), 6)",
    "round((p + {zz} / (2.0 * n) + {z} * sqrt(p * (1.0 - p) / n"
    " + {zz} / (4.0 * n * n))) / (1.0 + {zz} / n), 6)",
)
_Z = "1.96"
_ZZ = "3.8416"  # z² exactly (1.96² = 3.8416, exact in binary? no — but the
# LITERAL 3.8416 parses to the same double in both engines, which is all
# determinism needs; deriving it as 1.96*1.96 would also match, but a
# shared literal removes even that dependency)

_WILSON_ORACLE = f"""
WITH g AS (
  SELECT dayofweek(CAST(ts AS DATE)) + 1 AS dow,
         count(*) AS n_events,
         count(*) FILTER (WHERE event_type = 'purchase') AS purchases
  FROM events GROUP BY 1
), p AS (
  SELECT dow, n_events, purchases,
         cast(purchases AS double) / n_events AS p,
         cast(n_events AS double) AS n
  FROM g
)
SELECT dow, n_events, purchases,
       round(p, 6) AS p_hat,
       {_WILSON_EXPR[0].format(z=_Z, zz=_ZZ)} AS wilson_low,
       {_WILSON_EXPR[1].format(z=_Z, zz=_ZZ)} AS wilson_high
FROM p
ORDER BY dow
"""


@register(
    "events_wilson_ci_purchase_share",
    _WILSON_ORACLE,
    tags=("events", "stats"),
)
def events_wilson_ci_purchase_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95 % score interval for the per-day-of-week purchase share.

    One fact scan, one 7-group rollup; the interval math runs on the
    7-row summary.  The Wilson form (unlike the naive Wald interval)
    stays inside [0,1] and is well-behaved at small n — the estimator an
    experimentation readout actually needs.
    """
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy(F.dayofweek(F.to_date("ts")).alias("dow")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
    )
    p = F.col("purchases").cast("double") / F.col("n_events")
    n = F.col("n_events").cast("double")
    z, zz = F.lit(1.96), F.lit(3.8416)
    half = zz / (F.lit(2.0) * n)
    rad = F.sqrt(p * (F.lit(1.0) - p) / n + zz / (F.lit(4.0) * n * n))
    denom = F.lit(1.0) + zz / n
    return g.select(
        "dow",
        "n_events",
        "purchases",
        F.round(p, 6).alias("p_hat"),
        F.round((p + half - z * rad) / denom, 6).alias("wilson_low"),
        F.round((p + half + z * rad) / denom, 6).alias("wilson_high"),
    ).orderBy("dow")


# ---------------------------------------------------------------------------
# Cohort LTV triangle: customers grouped by first-order month; revenue
# per (cohort month, months-since-first).  Month arithmetic in integers
# (y·12 + m); revenue via the exact fixed-point sum.
# ---------------------------------------------------------------------------

_LTV_ORACLE = f"""
WITH first_o AS (
  SELECT o_custkey,
         min(date_trunc('month', CAST(o_orderdate AS DATE))) AS cohort_month
  FROM orders GROUP BY o_custkey
), joined AS (
  SELECT f.cohort_month,
         (year(CAST(o.o_orderdate AS DATE)) * 12 + month(CAST(o.o_orderdate AS DATE)))
         - (year(f.cohort_month) * 12 + month(f.cohort_month)) AS month_offset,
         o.o_custkey, o.o_totalprice
  FROM orders o JOIN first_o f ON f.o_custkey = o.o_custkey
)
SELECT cohort_month, month_offset,
       count(DISTINCT o_custkey) AS active_customers,
       count(*) AS n_orders,
       {sql_exact_sum('o_totalprice')} AS revenue
FROM joined
GROUP BY cohort_month, month_offset
ORDER BY cohort_month, month_offset
"""


@register(
    "orders_cohort_ltv_matrix",
    _LTV_ORACLE,
    tags=("orders", "cohort", "agg"),
)
def orders_cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-cohort × month-offset revenue triangle over orders.

    Two shuffles on the SAME key (o_custkey): the per-customer MIN and
    the join back — at scale both sides hash-partition identically, so
    the join is co-partitioned (no third fact-table shuffle); the final
    rollup output is months² rows.  This is the canonical LTV shape: no
    window over the fact table, no per-customer driver loop.
    """
    orders = load(spark, sf_dir, "orders")
    first_o = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", F.to_date("o_orderdate")).cast("date")).alias(
            "cohort_month"
        )
    )
    mnum = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    joined = orders.join(first_o, "o_custkey").select(
        F.col("cohort_month"),
        (mnum(F.to_date("o_orderdate")) - mnum(F.col("cohort_month"))).alias(
            "month_offset"
        ),
        "o_custkey",
        "o_totalprice",
    )
    return (
        joined.groupBy("cohort_month", "month_offset")
        .agg(
            F.countDistinct("o_custkey").alias("active_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("cohort_month", "month_offset")
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution — completes the attribution family
# (last-touch, position-based/U-shaped → data-driven).  Journeys are the
# (user, day) event sequences of `events_top_session_paths`, truncated
# at the first purchase; the chain has states {START} ∪ channels and
# absorbers {CONV, DROP}.  A channel's credit is its REMOVAL EFFECT
# (Anderl et al. 2014, public paper): base absorption probability minus
# the absorption probability of the chain with that channel's node
# deleted (transitions touching it fall to DROP — the standard, no
# renormalization).  Absorption probabilities run K=12 fixed iterations
# of  pc(s) ← p(s→CONV) + Σ_d p(s→d)·pc(d)  in exact integer ppm
# (product scaled back with floor div), so both engines agree
# bit-for-bit; paths longer than K channel hops contribute 0 on BOTH
# sides identically.
#
# Scale: the data-sized stages are one (user, day)-keyed window pass and
# a wordcount-shaped transition count; everything after lives on the
# (variants × states) grid — ≤ (|types|+1)² rows, schema-bounded, like
# the ACF/OLS "aggregate first, analyze the tiny summary" recipe.  The
# variant dimension makes the removal sweep ONE relational program
# instead of |channels| separate chains.
# ---------------------------------------------------------------------------

_MK_ITERS = 12

_MK_TRANS = """
seq AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events
), fp AS (
  SELECT user_id, day,
         min(rn) FILTER (WHERE event_type = 'purchase') AS fp
  FROM seq GROUP BY user_id, day
), kept AS (
  SELECT s.user_id, s.day, s.event_type, s.rn
  FROM seq s JOIN fp f USING (user_id, day)
  WHERE f.fp IS NULL OR s.rn < f.fp
), step AS (
  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id, day
                                        ORDER BY rn), '__start__') AS src,
         event_type AS dst
  FROM kept
), lastk AS (
  SELECT user_id, day, max_by(event_type, rn) AS last_type
  FROM kept GROUP BY user_id, day
), term AS (
  SELECT coalesce(k.last_type, '__start__') AS src,
         CASE WHEN f.fp IS NOT NULL THEN '__conv__' ELSE '__drop__' END AS dst
  FROM fp f LEFT JOIN lastk k USING (user_id, day)
), trans AS MATERIALIZED (
  SELECT src, dst, count(*) AS c
  FROM (SELECT src, dst FROM step UNION ALL SELECT src, dst FROM term)
  GROUP BY src, dst
), outs AS (SELECT src, sum(c) AS tot FROM trans GROUP BY src),
p AS MATERIALIZED (
  SELECT t.src, t.dst, (t.c * 1000000) // o.tot AS p
  FROM trans t JOIN outs o USING (src)
), channels AS (
  SELECT DISTINCT dst AS ch FROM trans
  WHERE dst NOT IN ('__conv__', '__drop__')
), variants AS (
  SELECT '__base__' AS v UNION ALL SELECT ch FROM channels
), states AS (
  SELECT '__start__' AS s UNION ALL SELECT ch FROM channels
), vstates AS (
  SELECT v, s FROM variants CROSS JOIN states WHERE s <> v
), convp AS MATERIALIZED (
  SELECT vs.v, vs.s, coalesce(max(p.p), 0) AS cp
  FROM vstates vs
  LEFT JOIN p ON p.src = vs.s AND p.dst = '__conv__'
  GROUP BY vs.v, vs.s
), ctrans AS MATERIALIZED (
  SELECT va.v, p.src AS s, p.dst AS d, p.p
  FROM p JOIN variants va
    ON (va.v = '__base__' OR (p.src <> va.v AND p.dst <> va.v))
  WHERE p.dst NOT IN ('__conv__', '__drop__')
)"""


def _markov_oracle() -> str:
    parts = [
        "WITH " + _MK_TRANS.strip().lstrip(),
        "pc0 AS (SELECT v, s, CAST(0 AS BIGINT) AS val FROM vstates)",
    ]
    for k in range(1, _MK_ITERS + 1):
        parts.append(
            f"""pc{k} AS (
  SELECT c.v, c.s,
         c.cp + coalesce(sum(t.p * q.val), 0) // 1000000 AS val
  FROM convp c
  LEFT JOIN ctrans t ON t.v = c.v AND t.s = c.s
  LEFT JOIN pc{k - 1} q ON q.v = t.v AND q.s = t.d
  GROUP BY c.v, c.s, c.cp
)"""
        )
    parts.append(
        f"""eff AS (
  SELECT ch AS channel,
         (SELECT val FROM pc{_MK_ITERS}
          WHERE v = '__base__' AND s = '__start__') - pc.val AS effect
  FROM channels JOIN pc{_MK_ITERS} pc ON pc.v = ch AND pc.s = '__start__'
), tot AS (SELECT sum(effect) AS te FROM eff)"""
    )
    body = ",\n".join(parts)
    return f"""{body}
SELECT channel, CAST(effect AS BIGINT) AS removal_effect_ppm,
       CAST(CASE WHEN te > 0 THEN (effect * 1000000) // te ELSE 0 END
            AS BIGINT) AS attribution_share_ppm
FROM eff, tot ORDER BY channel
"""


@register(
    "events_attribution_markov_removal",
    _markov_oracle(),
    tags=("events", "attribution", "iterative"),
    bench=True,  # heaviest tranche-15 addition -> regression-tracked
)
def events_attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain attribution: per-channel removal effect and share.

    One (user, day)-keyed window pass + a wordcount transition count are
    the only data-sized stages; the K=12 absorption iterations run on
    the (variants × states) grid (≤ (|types|+1)² rows, schema-bounded).
    """
    from event_streaming_spark.operators.materialize import materialize

    ev = load(spark, sf_dir, "events")
    wday = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id", "day")
    # ONE fact scan, ONE keyed exchange: both windows (the ordered rn/lag
    # pass and the whole-partition fp/last-kept aggregates) share the
    # (user_id, day) partitioning, so Spark plans a single shuffle; every
    # journey row emits its transitions through one explode — no
    # seq⋈fp⋈lastk join tree (the first cut's join shape scanned the
    # fact table 5 times; plan-tested below).
    seq = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("day"),
            "event_type",
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(wday))
        .withColumn("lag_type", F.lag("event_type").over(wday))
        .withColumn(
            "fp",
            F.min(F.when(F.col("event_type") == "purchase", F.col("rn"))).over(wall),
        )
        .withColumn("kept", F.col("fp").isNull() | (F.col("rn") < F.col("fp")))
        .withColumn(
            "last_kept",
            F.expr(
                "max_by(CASE WHEN kept THEN event_type END,"
                " CASE WHEN kept THEN rn END)"
            ).over(wall),
        )
    )
    step_arr = F.when(
        F.col("kept"),
        F.array(
            F.struct(
                F.coalesce(F.col("lag_type"), F.lit("__start__")).alias("src"),
                F.col("event_type").alias("dst"),
            )
        ),
    ).otherwise(F.array().cast("array<struct<src:string,dst:string>>"))
    term_arr = F.when(
        F.col("rn") == 1,
        F.array(
            F.struct(
                F.coalesce(F.col("last_kept"), F.lit("__start__")).alias("src"),
                F.when(F.col("fp").isNotNull(), F.lit("__conv__"))
                .otherwise(F.lit("__drop__"))
                .alias("dst"),
            )
        ),
    ).otherwise(F.array().cast("array<struct<src:string,dst:string>>"))
    t = seq.select(F.explode(F.concat(step_arr, term_arr)).alias("tr")).select(
        F.col("tr.src").alias("src"), F.col("tr.dst").alias("dst")
    )
    trans_plan = (
        t.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c")).repartition(1)
    )
    capture_plan("events_attribution_markov_removal/transition_count", trans_plan)
    trans = materialize(trans_plan, "markov-trans")
    # the transition matrix: ≤ (|types|+2)² rows, SCHEMA-bounded

    # The absorption sweep runs on the collected matrix — a bounded
    # collect per the repo convention (the MG completeness proof's
    # O(#sources) totals): at ANY data scale this is ≤ (|types|+2)²
    # integers.  Running 12 Spark jobs over an 81-row grid pays ~20 s of
    # scheduler/checkpoint floors for work a loop does in microseconds —
    # measured before this rewrite; the arithmetic below mirrors the
    # oracle's unrolled CTEs operation-for-operation (integer ppm, floor
    # division), so the hash gate still certifies it.
    rows = [(r["src"], r["dst"], r["c"]) for r in trans.collect()]
    tot: dict = {}
    for s, _d, c in rows:
        tot[s] = tot.get(s, 0) + c
    p = {(s, d): (c * 1_000_000) // tot[s] for s, d, c in rows}
    channels = sorted({d for _s, d, _c in rows if d not in ("__conv__", "__drop__")})
    states = ["__start__"] + channels

    def absorb(v: str) -> int:
        live = [s for s in states if s != v]
        pc = {s: 0 for s in live}
        for _ in range(_MK_ITERS):
            nxt = {}
            for s in live:
                acc = 0
                for d in channels:
                    if d == v:
                        continue
                    acc += p.get((s, d), 0) * pc[d]
                nxt[s] = p.get((s, "__conv__"), 0) + acc // 1_000_000
            pc = nxt
        return pc["__start__"]

    base = absorb("__base__")
    effects = [(ch, base - absorb(ch)) for ch in channels]
    te = sum(e for _ch, e in effects)
    out = [
        (ch, e, (e * 1_000_000) // te if te > 0 else 0) for ch, e in effects
    ]
    return local_frame(spark, 
        out, "channel string, removal_effect_ppm long, attribution_share_ppm long"
    ).orderBy("channel")



# ---------------------------------------------------------------------------
# Kaplan–Meier survival curve for time-to-first-purchase.  Each user
# enters at their first event; converts at their first purchase
# (duration in whole days) or is right-censored at the global max
# timestamp.  Standard KM: at each distinct conversion time t,
#   n_t = #users with duration ≥ t   (censored-at-t count as at-risk),
#   d_t = #conversions at exactly t,
#   S(t) = Π_{t_i ≤ t} (1 − d_i/n_i).
# Determinism recipe: the product is computed as exp of a RUNNING sum
# (ordered by t — a fixed accumulation order on both engines) of
# per-step ln factors each rounded to 9 decimals; the d=n terminal step
# (factor 0) is flagged and forces S=0 from there on instead of ln(0).
# Inputs to every ln are identical doubles from exact integers (d, n) —
# the tfidf/ltv precedent; one round(·, 6) at the boundary.
#
# Scale: one fact scan → per-user (first event, first purchase) via a
# single groupBy on user_id; the curve lives on the duration-days grid
# (calendar-bounded).  The classic survival shape: no per-user loop, no
# per-time rescan.
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         min(ts) AS t0,
         min(ts) FILTER (WHERE event_type = 'purchase') AS tp
  FROM events GROUP BY user_id
), g AS (SELECT max(ts) AS tmax FROM events),
dur AS (
  SELECT CASE WHEN tp IS NOT NULL THEN datediff('day', t0, tp)
              ELSE datediff('day', t0, tmax) END AS t_days,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS conv
  FROM per_user, g
), grid AS (
  SELECT t_days, count(*) AS n_exit,
         cast(sum(conv) AS BIGINT) AS d_conv
  FROM dur GROUP BY t_days
), risk AS (
  SELECT t_days, d_conv,
         cast(sum(n_exit) OVER (ORDER BY t_days DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS n_risk
  FROM grid
), steps AS (
  SELECT t_days, d_conv, n_risk,
         CASE WHEN d_conv < n_risk
              THEN round(ln(1.0 - cast(d_conv AS double) / n_risk), 9)
              ELSE 0.0 END AS lnf,
         CASE WHEN d_conv = n_risk THEN 1 ELSE 0 END AS zf
  FROM risk WHERE d_conv > 0
), cum AS (
  SELECT t_days, d_conv, n_risk,
         sum(lnf) OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cs,
         sum(zf)  OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS zc
  FROM steps
)
SELECT t_days, n_risk, d_conv,
       CASE WHEN zc > 0 THEN 0.0 ELSE round(exp(cs), 6) END AS s_hat
FROM cum ORDER BY t_days
"""


@register(
    "events_survival_km_purchase",
    _KM_ORACLE,
    tags=("events", "stats", "timeseries"),
)
def events_survival_km_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier curve of time-to-first-purchase (days), right-
    censored at the global max timestamp.

    One user-keyed groupBy is the only data-sized op; the at-risk
    counts, step factors, and running product all live on the
    duration-days grid.
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    tmax = ev.agg(F.max("ts")).first()[0]  # 1-row scalar probe
    dur = per_user.select(
        F.when(
            F.col("tp").isNotNull(), F.datediff(F.to_date("tp"), F.to_date("t0"))
        )
        .otherwise(F.datediff(F.to_date(F.lit(tmax)), F.to_date("t0")))
        .alias("t_days"),
        F.when(F.col("tp").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("conv"),
    )
    grid = dur.groupBy("t_days").agg(
        F.count(F.lit(1)).alias("n_exit"), F.sum("conv").alias("d_conv")
    )
    w_desc = Window.orderBy(F.col("t_days").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.select(
        "t_days", "d_conv", F.sum("n_exit").over(w_desc).alias("n_risk")
    )
    steps = risk.where(F.col("d_conv") > 0).select(
        "t_days",
        "d_conv",
        "n_risk",
        F.when(
            F.col("d_conv") < F.col("n_risk"),
            F.round(
                F.log(
                    F.lit(1.0) - F.col("d_conv").cast("double") / F.col("n_risk")
                ),
                9,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("lnf"),
        F.when(F.col("d_conv") == F.col("n_risk"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("zf"),
    )
    w_asc = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = steps.select(
        "t_days",
        "d_conv",
        "n_risk",
        F.sum("lnf").over(w_asc).alias("cs"),
        F.sum("zf").over(w_asc).alias("zc"),
    )
    return cum.select(
        "t_days",
        "n_risk",
        "d_conv",
        F.when(F.col("zc") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cs")), 6))
        .alias("s_hat"),
    ).orderBy("t_days")


# ---------------------------------------------------------------------------
# Poisson-bootstrap 95 % CI for the mean event value — the one-pass
# bootstrap that actually works at 100 TB (Chamandy et al., "Estimating
# Uncertainty for Massive Data Streams", Google 2012, public paper):
# instead of materializing B resamples, each row draws a Poisson(1) weight
# per replicate from a DETERMINISTIC hash (md5 of 'boot|event_id|b'
# bucketed through the exact integer Poisson CDF thresholds), so the
# whole bootstrap is one map-side projection + a B-group partial
# aggregate.  Replicate means use the repo's scaled-long exact sums; the
# CI is read off the rank-ordered replicate means (ranks 3/98 of B=100
# ≈ the 2.5/97.5 percentiles).  Every value both engines compare is an
# exact integer or a fixed IEEE chain on identical integers.
#
# Scale: B× per-row weight draws are embarrassingly parallel and
# map-side-combined — the shuffle carries B×|partitions| partial rows,
# never B× the data; the rank pass runs on B rows.
# ---------------------------------------------------------------------------

_BOOT_B = 100
# Poisson(1) CDF × 1000, floored: P(k≤0)=.3679, ≤1=.7358, ≤2=.9197,
# ≤3=.9810, ≤4=.9963, ≤5=.9994 → thresholds on h ∈ [0, 999]:
_BOOT_THRESH = (368, 736, 920, 981, 996, 999)


def _boot_w_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_BOOT_THRESH)
    )
    return f"CASE {cases} ELSE 6 END"


_BOOT_ORACLE = f"""
WITH b AS (SELECT cast(range AS BIGINT) AS b FROM range(0, {_BOOT_B})),
w AS (
  SELECT b.b,
         {_boot_w_sql(sql_stable_hash32(
             "'boot|' || cast(event_id AS VARCHAR) || '|' || cast(b.b AS VARCHAR)"
         ) + " % 1000")} AS w,
         cast(round(value * 1e6) AS BIGINT) AS xv
  FROM events CROSS JOIN b
), means AS (
  SELECT b, round(cast(sum(w * xv) AS double) / 1e6 / sum(w), 6) AS m
  FROM w GROUP BY b
), ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM means
)
SELECT
  (SELECT round(cast(sum(cast(round(value * 1e6) AS BIGINT)) AS double)
                / 1e6 / count(*), 6) FROM events) AS mean_value,
  (SELECT m FROM ranked WHERE rk = 3) AS ci_low,
  (SELECT m FROM ranked WHERE rk = {_BOOT_B - 2}) AS ci_high,
  {_BOOT_B} AS n_resamples
"""


@register(
    "events_bootstrap_ci_value_mean",
    _BOOT_ORACLE,
    tags=("events", "stats", "sampling"),
    bench=True,  # B x rows weight draws -> regression-tracked
)
def events_bootstrap_ci_value_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Poisson-bootstrap 95 % CI for mean(value), B=100
    deterministic hash-drawn replicates.

    The replicate dimension explodes map-side and partial-aggregates
    before the shuffle — the exchange carries B×partitions rows, never
    B× the data; ranks run on the B-row replicate table.

    Cost knobs (VERDICT r8 #3 note): the per-(row×replicate) md5-derived
    draw is the dominant cost and exists ONLY for cross-engine hash
    parity with the DuckDB oracle.  A production deployment not bound by
    that gate would (a) swap ``stable_hash32`` for the JVM-native
    ``xxhash64`` (same plan shape, no md5 string round-trip — roughly
    halves the replicate pass), and/or (b) drop B from 100 to 50, which
    halves replicate work linearly and widens the CI's Monte-Carlo error
    by ~sqrt(2) (Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", 2012 — B in the tens suffices for a 95 % interval).
    """
    from event_streaming_spark.functions.hashing import stable_hash32

    # spread() BEFORE the replicate explode: the fixture scan is one
    # parquet split, so without it the whole B×rows md5 pass — the
    # query's entire cost — runs in ONE task (measured 10.9 s in a
    # single 100 %-CPU task at sf0.1).  The shuffle moves only
    # (event_id, value) rows once; on a deployment whose scan already
    # has file parallelism spread() is a no-op passthrough.
    ev = spread(load(spark, sf_dir, "events").select("event_id", "value"))
    xv = F.round(F.col("value") * 1e6).cast("long")
    # The md5 input is "boot|<event_id>|<b>"; the "boot|<event_id>|"
    # prefix is per-ROW, so build it once before the B-way explode
    # instead of re-concatenating (and re-casting event_id) per
    # replicate — byte-identical hash input, ~B× fewer prefix builds.
    h = (
        stable_hash32(F.concat(F.col("pre"), F.col("b").cast("string")))
        % 1000
    )
    w_expr = F.when(h < _BOOT_THRESH[0], 0)
    for k, t in enumerate(_BOOT_THRESH[1:], start=1):
        w_expr = w_expr.when(h < t, k)
    w_expr = w_expr.otherwise(6)
    w = ev.select(
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        xv.alias("xv"),
        F.concat(
            F.lit("boot|"), F.col("event_id").cast("string"), F.lit("|")
        ).alias("pre"),
    ).select("b", w_expr.alias("w"), "xv")
    means = w.groupBy("b").agg(
        F.round(
            F.sum(F.col("w") * F.col("xv")).cast("double")
            / F.lit(1e6)
            / F.sum("w"),
            6,
        ).alias("m")
    )
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m", "b")).alias("rk")
    )
    point = ev.agg(
        F.round(
            F.sum(xv).cast("double") / F.lit(1e6) / F.count(F.lit(1)), 6
        ).alias("mean_value")
    )
    lo = ranked.where(F.col("rk") == 3).select(F.col("m").alias("ci_low"))
    hi = ranked.where(F.col("rk") == _BOOT_B - 2).select(F.col("m").alias("ci_high"))
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "mean_value",
            "ci_low",
            "ci_high",
            F.lit(_BOOT_B).cast("int").alias("n_resamples"),
        )
    )


# ---------------------------------------------------------------------------
# Difference-in-differences: mean event value of a deterministic
# hash-assigned user cohort vs the rest, before/after the calendar
# midpoint (the synthetic fixture has no natural treatment roster — the
# md5 split plays that role and guarantees both cohorts are populated at
# every SF; swap in a real assignment table in production).  The classic 2×2 causal read on observational
# event data: DiD = (T_post − T_pre) − (C_post − C_pre).  Every cell
# mean is the repo's exact scaled-long sum over integer-keyed groups;
# the midpoint is exact integer day arithmetic; the final subtraction
# is one fixed IEEE chain on the four identical doubles.
# Scale: one user-keyed semi-aggregate for the treatment flag broadcast
# back into a single fact scan (the flag table is users-sized), then a
# 4-cell rollup.
# ---------------------------------------------------------------------------

_DID_ORACLE = """
WITH treat AS (
  SELECT DISTINCT user_id,
         cast(('0x' || substr(md5('did|' || cast(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS treated
  FROM events
), bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events
), cells AS (
  SELECT t.treated,
         CASE WHEN datediff('day', b.d0, CAST(e.ts AS DATE))
                   >= datediff('day', b.d0, b.d1) // 2
              THEN 1 ELSE 0 END AS post,
         count(*) AS n,
         cast(sum(cast(round(e.value * 1e6) AS BIGINT)) AS BIGINT) AS sv
  FROM events e JOIN treat t USING (user_id) CROSS JOIN bounds b
  GROUP BY 1, 2
), m AS (
  SELECT treated, post, n,
         cast(sv AS double) / 1e6 / n AS mean_v
  FROM cells
)
SELECT
  round((SELECT mean_v FROM m WHERE treated = 1 AND post = 1), 6) AS t_post,
  round((SELECT mean_v FROM m WHERE treated = 1 AND post = 0), 6) AS t_pre,
  round((SELECT mean_v FROM m WHERE treated = 0 AND post = 1), 6) AS c_post,
  round((SELECT mean_v FROM m WHERE treated = 0 AND post = 0), 6) AS c_pre,
  round(((SELECT mean_v FROM m WHERE treated = 1 AND post = 1)
       - (SELECT mean_v FROM m WHERE treated = 1 AND post = 0))
      - ((SELECT mean_v FROM m WHERE treated = 0 AND post = 1)
       - (SELECT mean_v FROM m WHERE treated = 0 AND post = 0)), 6) AS did
"""


@register(
    "events_diff_in_diff_signup",
    _DID_ORACLE,
    tags=("events", "stats", "causal"),
)
def events_diff_in_diff_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 diff-in-differences of mean event value: hash-assigned
    cohort vs rest, pre/post the calendar midpoint."""
    ev = load(spark, sf_dir, "events")
    from event_streaming_spark.functions.hashing import stable_hash32

    treat = ev.select("user_id").distinct().select(
        "user_id",
        (
            stable_hash32(F.concat(F.lit("did|"), F.col("user_id").cast("string")))
            % 2
        ).alias("treated"),
    )
    b = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    ).first()
    half = (b["d1"] - b["d0"]).days // 2
    cells = (
        ev.join(treat, "user_id")
        .select(
            "treated",
            F.when(
                F.datediff(F.to_date("ts"), F.lit(b["d0"])) >= F.lit(half),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("post"),
            F.round(F.col("value") * 1e6).cast("long").alias("xv"),
        )
        .groupBy("treated", "post")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("xv").alias("sv"))
        .select(
            "treated",
            "post",
            (F.col("sv").cast("double") / F.lit(1e6) / F.col("n")).alias("mean_v"),
        )
    )
    # 4-cell grid — bounded collect.  Use .get so a degenerate fixture
    # with an empty 2x2 cell yields NULLs (mirroring the oracle's AVG over
    # an empty group) instead of a driver-side KeyError.
    g = {(r["treated"], r["post"]): r["mean_v"] for r in cells.collect()}
    c11, c10 = g.get((1, 1)), g.get((1, 0))
    c01, c00 = g.get((0, 1)), g.get((0, 0))
    did = (
        (c11 - c10) - (c01 - c00)
        if None not in (c11, c10, c01, c00)
        else None
    )
    rnd = lambda x: round(x, 6) if x is not None else None
    row = [(rnd(c11), rnd(c10), rnd(c01), rnd(c00), rnd(did))]
    return local_frame(spark, 
        row, "t_post double, t_pre double, c_post double, c_pre double, did double"
    )


# ---------------------------------------------------------------------------
# Minimum-detectable-effect planner per event type: given the observed
# exact variance and daily volume, the two-sample MDE at α=.05 / power
# .8 is (z_α/2 + z_β)·√(2σ²/n) for a 14-day 50/50 test.  Moments come
# from the exact scaled-integer sums with the squared moment in
# DECIMAL(19,0)² (the z-test recipe — int64 overflows on Σx²); the
# final chain is fixed IEEE ops on identical doubles.  The planning
# readout every experimentation platform ships next to its z-test.
# ---------------------------------------------------------------------------

_MDE_Z = "2.8016"  # z_{.025} + z_{.20} = 1.9600 + 0.8416, shared literal

_MDE_ORACLE = f"""
WITH m AS (
  SELECT event_type,
         count(*) AS n_events,
         sum(cast(round(value * 1e6) AS BIGINT)) AS s1,
         sum(cast(round(value * 1e6) AS DECIMAL(19,0))
             * cast(round(value * 1e6) AS DECIMAL(19,0))) AS s2,
         max(CAST(ts AS DATE)) AS dmax,
         min(CAST(ts AS DATE)) AS dmin
  FROM events GROUP BY event_type
), v AS (
  SELECT event_type, n_events,
         (cast(s2 AS DOUBLE) / 1e12 - (cast(s1 AS DOUBLE) / 1e6)
            * (cast(s1 AS DOUBLE) / 1e6) / n_events) / (n_events - 1)
           AS variance,
         cast(n_events AS double)
           / (datediff('day', dmin, dmax) + 1) * 14.0 / 2.0 AS n_arm
  FROM m
)
SELECT event_type, n_events,
       round(variance, 6) AS variance,
       round({_MDE_Z} * sqrt(2.0 * variance / n_arm), 6) AS mde_14d
FROM v ORDER BY event_type
"""


@register(
    "events_mde_planner_by_type",
    _MDE_ORACLE,
    tags=("events", "stats"),
)
def events_mde_planner_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample minimum detectable effect per event type for a 14-day
    50/50 experiment at α=.05, power=.8 — exact integer moments, one
    IEEE chain at the boundary."""
    ev = load(spark, sf_dir, "events")
    xv = F.round(F.col("value") * 1e6).cast("long")
    xd = xv.cast("decimal(19,0)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(xv).alias("s1"),
        F.sum(xd * xd).alias("s2"),
        F.max(F.to_date("ts")).alias("dmax"),
        F.min(F.to_date("ts")).alias("dmin"),
    )
    s1d = F.col("s1").cast("double") / F.lit(1e6)
    variance = (
        F.col("s2").cast("double") / F.lit(1e12)
        - s1d * s1d / F.col("n_events")
    ) / (F.col("n_events") - 1)
    n_arm = (
        F.col("n_events").cast("double")
        / (F.datediff("dmax", "dmin") + 1)
        * F.lit(14.0)
        / F.lit(2.0)
    )
    return m.select(
        "event_type",
        "n_events",
        F.round(variance, 6).alias("variance"),
        F.round(
            F.lit(2.8016) * F.sqrt(F.lit(2.0) * variance / n_arm), 6
        ).alias("mde_14d"),
    ).orderBy("event_type")


# ===========================================================================
# Bursts and forecasting: burst detection and the seasonal-naive
# forecast backtest.
#
# * ``events_burst_detection_trailing`` — per (event_type, day) volume
#   against its own trailing-7-day baseline: a day is a BURST when its
#   count is at least twice the trailing mean on a minimum absolute
#   floor.  The on-call anomaly primitive (Kleinberg's burst model's
#   zeroth-order approximation) phrased so every comparison is an
#   integer cross-multiplication — no division, no doubles, so the
#   flag can never drift between engines.
# * ``events_seasonal_naive_backtest`` — the honest forecasting baseline:
#   predict day d's per-type total with day d-7's, then score MAE and
#   weighted sMAPE per type.  Any model the engine ships (Holt, STL,
#   EWMA — above) has to beat THIS row to justify itself;
#   publishing the baseline next to the models is the backtest
#   discipline every forecasting pipeline needs.
#
# Both are one fact-table scan feeding day×type-sized frames (≤ 37·5
# rows at any SF — the day spine is data-bounded, never corpus-sized);
# the trailing window and the d-7 self-join run on that tiny frame.
# 100 TB shape: the only corpus-sized stage is the map-side-combined
# daily count/sum aggregate, a wordcount-shaped shuffle.
#
# Reference parity note: the reference engine has no analytics surface
# (SURVEY §2 — its queries are keyed lookups); these extend the driver's
# LLM/analytics mandate like the rest of plans/events*.py.
# ===========================================================================

# ---------------------------------------------------------------------------
# Burst detection: cnt_d >= 2 * mean(cnt over the 7 preceding days),
# cross-multiplied (cnt_d * n_prev >= 2 * sum_prev) so the test is
# exact-integer, plus an absolute floor so a 1-then-3-events type never
# "bursts".  Days with no trailing history emit NULL ratio and never
# flag.  ratio_ppm = cnt * n_prev * 1e6 // sum_prev (floor division on
# nonnegative ints — identical truncation in both engines).
# ---------------------------------------------------------------------------

_BURST_MIN = 20  # absolute floor: bursts need at least this many events

_BURST_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         cast(count(*) AS BIGINT) AS cnt,
         CAST(ts AS DATE) - DATE '1970-01-01' AS day_num
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), trailed AS (
  SELECT event_type, day, cnt,
         cast(sum(cnt) OVER w AS BIGINT) AS prev_sum,
         cast(count(cnt) OVER w AS BIGINT) AS prev_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day_num
               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, cnt,
       prev_sum, prev_n,
       CASE WHEN prev_sum > 0
            THEN cast(cnt * prev_n * 1000000 // prev_sum AS BIGINT) END
         AS ratio_ppm,
       CASE WHEN prev_n > 0 AND cnt >= {_BURST_MIN}
                 AND cnt * prev_n >= 2 * prev_sum
            THEN 1 ELSE 0 END AS is_burst
FROM trailed
ORDER BY event_type, day
"""


@register(
    "events_burst_detection_trailing",
    _BURST_ORACLE,
    tags=("events", "anomaly", "window"),
)
def events_burst_detection_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    daily = daily.withColumn(
        "day_num", F.datediff("day", F.lit("1970-01-01"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-7, -1)
    )
    trailed = daily.select(
        "event_type",
        "day",
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("prev_sum"),
        F.count("cnt").over(w).cast("long").alias("prev_n"),
    )
    ratio = F.when(
        F.col("prev_sum") > 0,
        (F.col("cnt") * F.col("prev_n") * 1_000_000 / F.col("prev_sum")).cast(
            "long"
        ),
    )
    burst = F.when(
        (F.col("prev_n") > 0)
        & (F.col("cnt") >= _BURST_MIN)
        & (F.col("cnt") * F.col("prev_n") >= 2 * F.col("prev_sum")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return trailed.select(
        "event_type",
        "day",
        "cnt",
        "prev_sum",
        "prev_n",
        ratio.alias("ratio_ppm"),
        burst.alias("is_burst"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Seasonal-naive backtest: forecast(type, d) = actual(type, d-7); score
# only days whose d-7 exists (an equi-join on (type, day_num-7), not a
# lag, so calendar gaps never misalign the season).  Per-type readout:
# days scored, MAE in exact µ-value units (long div long), and weighted
# sMAPE = Σ|a-f| / Σ(|a|+|f|) as ONE double division of two exact long
# sums, rounded 6 (the ACF convention: exact integers until the last
# IEEE-identical op; Σ here stays < 2^53 through a 100× replica —
# beyond that the sums move to DECIMAL(38,0), shape unchanged).
# ---------------------------------------------------------------------------

_SNAIVE_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(ts AS DATE) - DATE '1970-01-01' AS day_num,
         cast(sum(cast(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), scored AS (
  SELECT a.event_type, a.day_num, a.v AS actual, f.v AS forecast
  FROM daily a JOIN daily f
    ON f.event_type = a.event_type AND f.day_num = a.day_num - 7
)
SELECT event_type,
       cast(count(*) AS BIGINT) AS n_days,
       cast(cast(sum(abs(actual - forecast)) AS BIGINT) // count(*)
            AS BIGINT) AS mae_micro,
       CASE WHEN sum(abs(actual) + abs(forecast)) > 0
            THEN round(cast(sum(abs(actual - forecast)) AS DOUBLE)
                       / cast(sum(abs(actual) + abs(forecast)) AS DOUBLE), 6)
       END AS smape
FROM scored
GROUP BY event_type ORDER BY event_type
"""


@register(
    "events_seasonal_naive_backtest",
    _SNAIVE_ORACLE,
    tags=("events", "forecast", "backtest"),
)
def events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    xv = F.round(F.col("value") * 1_000_000).cast("long")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_num"),
    ).agg(F.sum(xv).cast("long").alias("v"))
    fc = daily.select(
        F.col("event_type").alias("f_type"),
        (F.col("day_num") + 7).alias("f_day"),
        F.col("v").alias("forecast"),
    )
    scored = daily.join(
        fc,
        (F.col("event_type") == F.col("f_type"))
        & (F.col("day_num") == F.col("f_day")),
    ).select("event_type", "day_num", F.col("v").alias("actual"), "forecast")
    err = F.abs(F.col("actual") - F.col("forecast"))
    denom = F.abs(F.col("actual")) + F.abs(F.col("forecast"))
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(err).cast("long").alias("sum_err"),
            F.sum(denom).cast("long").alias("sum_denom"),
        )
        .select(
            "event_type",
            "n_days",
            F.expr("CAST(sum_err DIV n_days AS BIGINT)").alias("mae_micro"),
            F.when(
                F.col("sum_denom") > 0,
                F.round(
                    F.col("sum_err").cast("double")
                    / F.col("sum_denom").cast("double"),
                    6,
                ),
            ).alias("smape"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# New vs returning daily actives: the growth-accounting split every
# product dashboard leads with.  new(d) = users whose FIRST-ever event
# day is d; returning = active − new.  One user-keyed min(day) and a
# join back on the SAME key (co-partitioned — AQE reuses the exchange),
# then a days-sized rollup.
# ---------------------------------------------------------------------------

_NVR_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT CAST(ts AS DATE) AS day, user_id
  FROM events GROUP BY CAST(ts AS DATE), user_id
)
SELECT d.day,
       cast(count(*) AS BIGINT) AS active_users,
       cast(sum(CASE WHEN f.first_day = d.day THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       cast(count(*) - sum(CASE WHEN f.first_day = d.day THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users,
       cast(sum(CASE WHEN f.first_day = d.day THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS new_ppm
FROM daily d JOIN firsts f ON f.user_id = d.user_id
GROUP BY d.day ORDER BY d.day
"""


@register(
    "events_new_vs_returning_daily",
    _NVR_ORACLE,
    tags=("events", "growth", "agg"),
)
def events_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.distinct()
    firsts = daily.groupBy("user_id").agg(F.min("day").alias("first_day"))
    is_new = F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)
    return (
        daily.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("active_users"),
            F.sum(is_new).cast("long").alias("new_users"),
        )
        .select(
            "day",
            "active_users",
            "new_users",
            (F.col("active_users") - F.col("new_users"))
            .cast("long")
            .alias("returning_users"),
            # exact integer div (not double / + cast): double round-trips
            # lose exactness once the numerator crosses 2^53 — user-count
            # numerators stay small today, but `div` costs nothing and
            # matches the oracle's `//` at any scale.
            F.expr("(new_users * CAST(1000000 AS BIGINT)) div active_users")
            .cast("long")
            .alias("new_ppm"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Inter-arrival diagnostics per event type: mean gap, coefficient of
# variation, and the Poisson-likeness flag (an exponential process has
# CV = 1; CV >> 1 means bursty/clustered arrivals, CV << 1 means
# regular/scheduled) — the point-process readout behind capacity
# planning and the burst detector's priors.
# Scale: gaps come from a lag window partitioned by (event_type, DAY) —
# never one task per type; cross-day gaps are dropped by construction
# (the standard daily ops profile).  Second moments ride DECIMAL(38,0)
# (µs gaps square past int64); the CV is one sqrt on exact-derived
# doubles, rounded 6 (the ACF convention).
# ---------------------------------------------------------------------------

_IAT_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS g
  FROM events
  WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY ts, event_id)
), agg AS (
  SELECT event_type,
         cast(count(*) AS BIGINT) AS n_gaps,
         cast(sum(g) AS BIGINT) AS s1,
         sum(cast(g AS HUGEINT) * g) AS s2
  FROM gaps WHERE g IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n_gaps,
       cast(s1 // n_gaps AS BIGINT) AS mean_gap_us,
       round(sqrt(cast(n_gaps AS DOUBLE) * cast(s2 AS DOUBLE)
                  - cast(s1 AS DOUBLE) * cast(s1 AS DOUBLE))
             / cast(s1 AS DOUBLE), 6) AS cv,
       CASE WHEN abs(round(sqrt(cast(n_gaps AS DOUBLE) * cast(s2 AS DOUBLE)
                  - cast(s1 AS DOUBLE) * cast(s1 AS DOUBLE))
             / cast(s1 AS DOUBLE), 6) - 1.0) <= 0.1
            THEN 1 ELSE 0 END AS poisson_like
FROM agg
ORDER BY event_type
"""


@register(
    "events_interarrival_cv_profile",
    _IAT_ORACLE,
    tags=("events", "stats", "pointprocess"),
)
def events_interarrival_cv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("g")
    ).where(F.col("g").isNotNull())
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("s1"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("s2"),
    )
    cv = F.round(
        F.sqrt(
            F.col("n_gaps").cast("double") * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
        )
        / F.col("s1").cast("double"),
        6,
    )
    return agg.select(
        "event_type",
        "n_gaps",
        F.expr("CAST(s1 DIV n_gaps AS BIGINT)").alias("mean_gap_us"),
        cv.alias("cv"),
        F.when(F.abs(cv - 1.0) <= 0.1, 1).otherwise(0).alias("poisson_like"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Peak-hour traffic profile: the (day-of-week × hour) grid with exact
# ppm shares and each weekday's peak hour — the load-shaping readout
# behind autoscaling schedules.  One fact scan to a 7×24 frame.
# DOW convention: ISO (1 = Monday) on both engines (DuckDB isodow;
# Spark dayofweek is 1 = Sunday, so it is remapped).
# ---------------------------------------------------------------------------

_PEAK_ORACLE = """
WITH grid AS (
  SELECT isodow(ts) AS dow, hour(ts) AS hr,
         cast(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY isodow(ts), hour(ts)
), tot AS (
  SELECT grid.*,
         cast(sum(n_events) OVER () AS BIGINT) AS total,
         max(n_events) OVER (PARTITION BY dow) AS dow_max
  FROM grid
)
SELECT dow, hr, n_events,
       cast(n_events * 1000000 // total AS BIGINT) AS share_ppm,
       CASE WHEN n_events = dow_max
                 AND hr = min(CASE WHEN n_events = dow_max THEN hr END)
                          OVER (PARTITION BY dow)
            THEN 1 ELSE 0 END AS is_dow_peak
FROM tot
ORDER BY dow, hr
"""


@register(
    "events_peak_hour_profile",
    _PEAK_ORACLE,
    tags=("events", "profile", "agg"),
)
def events_peak_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    iso_dow = F.when(F.dayofweek("ts") == 1, 7).otherwise(
        F.dayofweek("ts") - 1
    )
    grid = ev.groupBy(
        iso_dow.alias("dow"), F.hour("ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    wall = Window.partitionBy()
    wdow = Window.partitionBy("dow")
    tot = grid.select(
        "dow",
        "hr",
        "n_events",
        F.sum("n_events").over(wall).cast("long").alias("total"),
        F.max("n_events").over(wdow).alias("dow_max"),
    )
    peak_hr = F.min(
        F.when(F.col("n_events") == F.col("dow_max"), F.col("hr"))
    ).over(wdow)
    return tot.select(
        "dow",
        "hr",
        "n_events",
        (F.col("n_events") * 1_000_000 / F.col("total")).cast("long").alias(
            "share_ppm"
        ),
        F.when(
            (F.col("n_events") == F.col("dow_max")) & (F.col("hr") == peak_hr),
            1,
        )
        .otherwise(0)
        .alias("is_dow_peak"),
    ).orderBy("dow", "hr")


# ===========================================================================
# Sessions and stickiness: session-gap sensitivity and DAU/WAU/MAU.
#
# * ``events_session_gap_sensitivity`` — the tuning curve behind every
#   sessionizer: per inactivity threshold (5/15/30/60/120 min), the
#   session count and mean events-per-session the corpus would produce.
#   ``events_sessionize_30m`` ships ONE point of this curve; picking the
#   threshold without the curve is guesswork (the knee is where session
#   counts stop collapsing).  All-integer: a session starts at each
#   user's first event and at every gap strictly greater than the
#   threshold, so n_sessions(t) = n_users + |gaps > t|.
# * ``events_dau_wau_mau_stickiness`` — the canonical engagement
#   triple: per calendar day, distinct users active that day (DAU), in
#   the trailing 7 days (WAU), in the trailing 30 days (MAU), and the
#   DAU/MAU stickiness ratio in exact ppm.
#
# 100 TB shape: gap detection is ONE lag window partitioned by user_id
# (state = one user's timeline per task — the same skew unit as every
# sessionizer); the five thresholds are conditional sums inside one
# aggregate, not five passes.  The rolling-active counts expand the
# DEDUPLICATED (user, day) table (orders of magnitude smaller than the
# fact table) by a bounded 7/30-day sequence explode, then count
# distinct per spine day — the day spine is calendar-bounded, and no
# unpartitioned window exists anywhere.
#
# Reference parity note: the reference engine has no analytics surface
# (SURVEY §2); these extend the events pack (plans/events*.py) under the
# LLM/analytics mandate.
# ===========================================================================

# ---------------------------------------------------------------------------
# Session-gap sensitivity curve.
# ---------------------------------------------------------------------------

_GAP_THRESHOLDS_S = (300, 900, 1800, 3600, 7200)

_GAP_ORACLE = f"""
WITH gaps AS MATERIALIZED (
  SELECT epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events
), base AS (
  SELECT cast(count(*) AS BIGINT) AS n_events,
         cast(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events
), curve AS (
  SELECT t.threshold_s,
         cast(count(*) FILTER (WHERE g > cast(t.threshold_s AS BIGINT) * 1000000)
              AS BIGINT) AS n_breaks
  FROM gaps, (VALUES {", ".join(f"({t})" for t in _GAP_THRESHOLDS_S)})
            AS t(threshold_s)
  WHERE g IS NOT NULL
  GROUP BY t.threshold_s
)
SELECT cast(c.threshold_s AS BIGINT) AS threshold_s,
       cast(b.n_users + c.n_breaks AS BIGINT) AS n_sessions,
       cast(b.n_events * 1000000 // (b.n_users + c.n_breaks) AS BIGINT)
         AS events_per_session_ppm
FROM curve c CROSS JOIN base b
ORDER BY threshold_s
"""


@register(
    "events_session_gap_sensitivity",
    _GAP_ORACLE,
    tags=("events", "sessions", "tuning"),
)
def events_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session count + mean session size per inactivity threshold.

    Scale design: one user-partitioned lag window; the five thresholds
    are conditional sums inside ONE map-side-combined aggregate (the
    oracle's ×5 VALUES fanout is a DuckDB-side convenience — the Spark
    plan never multiplies the gap table).
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select("user_id", (us - F.lag(us).over(w)).alias("g"))
    aggs = [
        F.sum(
            F.when(F.col("g") > t * 1_000_000, 1).otherwise(0)
        ).cast("long").alias(f"b{t}")
        for t in _GAP_THRESHOLDS_S
    ]
    one = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        *aggs,
    )
    # n_events == n_rows (one gap row per event; the first per user is NULL)
    stacked = one.select(
        F.col("n_rows").alias("n_events"),
        "n_users",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).cast("long").alias("threshold_s"),
                        F.col(f"b{t}").alias("n_breaks"),
                    )
                    for t in _GAP_THRESHOLDS_S
                ]
            )
        ).alias("r"),
    )
    return stacked.select(
        F.col("r.threshold_s").alias("threshold_s"),
        (F.col("n_users") + F.col("r.n_breaks")).cast("long").alias("n_sessions"),
        F.expr(
            "(n_events * CAST(1000000 AS BIGINT))"
            " div (n_users + r.n_breaks)"
        )
        .cast("long")
        .alias("events_per_session_ppm"),
    ).orderBy("threshold_s")


# ---------------------------------------------------------------------------
# DAU / WAU / MAU / stickiness.
# ---------------------------------------------------------------------------

_DAU_ORACLE = """
WITH ud AS MATERIALIZED (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), bounds AS (
  SELECT min(day) AS dmin, max(day) AS dmax FROM ud
), spine AS (
  SELECT unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
), dau AS (
  SELECT day, cast(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
), wau AS (
  SELECT s.day, cast(count(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM spine s JOIN ud u ON u.day BETWEEN s.day - 6 AND s.day
  GROUP BY s.day
), mau AS (
  SELECT s.day, cast(count(DISTINCT u.user_id) AS BIGINT) AS mau
  FROM spine s JOIN ud u ON u.day BETWEEN s.day - 29 AND s.day
  GROUP BY s.day
)
SELECT s.day AS day,
       cast(coalesce(d.dau, 0) AS BIGINT) AS dau,
       cast(coalesce(w.wau, 0) AS BIGINT) AS wau,
       cast(coalesce(m.mau, 0) AS BIGINT) AS mau,
       cast(CASE WHEN coalesce(m.mau, 0) > 0
                 THEN coalesce(d.dau, 0) * 1000000 // m.mau
                 ELSE 0 END AS BIGINT) AS stickiness_ppm
FROM spine s
LEFT JOIN dau d ON d.day = s.day
LEFT JOIN wau w ON w.day = s.day
LEFT JOIN mau m ON m.day = s.day
ORDER BY day
"""


def _rolling_active(ud: DataFrame, days: int, out: str) -> DataFrame:
    """Distinct users active in the trailing ``days``-day window ending
    each spine day: expand each (user, activity-day) to the spine days
    it keeps alive (a bounded ``days``-element sequence — the standard
    distributed rolling-distinct shape), dedupe, count."""
    pairs = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), days - 1),
            )
        ).alias("day"),
    ).distinct()
    return pairs.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias(out)
    )


@register(
    "events_dau_wau_mau_stickiness",
    _DAU_ORACLE,
    tags=("events", "engagement", "agg"),
)
def events_dau_wau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily DAU/WAU/MAU + DAU/MAU stickiness (exact ppm).

    Scale design: the expansion runs on the DEDUPLICATED (user, day)
    table, not the fact table, and fans out by at most 30 — a bounded
    multiplier on a table already orders of magnitude smaller than the
    corpus; each rolling count is then one keyed aggregate.  The spine
    is a calendar-bounded broadcast frame.  (The oracle phrases the
    same windows as spine-range joins — clearer in SQL, identical
    result.)
    """
    ev = load(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    bounds = ud.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    ).coalesce(1)
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("dmin"), F.col("dmax"))
        ).alias("day")
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    wau = _rolling_active(ud, 7, "wau")
    mau = _rolling_active(ud, 30, "mau")
    return (
        spine.join(dau, "day", "left")
        .join(wau, "day", "left")
        .join(mau, "day", "left")
        .select(
            "day",
            F.coalesce("dau", F.lit(0)).cast("long").alias("dau"),
            F.coalesce("wau", F.lit(0)).cast("long").alias("wau"),
            F.coalesce("mau", F.lit(0)).cast("long").alias("mau"),
            F.when(
                F.coalesce("mau", F.lit(0)) > 0,
                F.expr("(coalesce(dau, 0) * CAST(1000000 AS BIGINT)) div mau"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Zero-activity outage runs: maximal runs of >= _OUTAGE_MIN_H consecutive
# silent hours per event type, over the full hour grid.  The burst
# detector (``events_burst_detection_trailing``) flags spikes; this is its dual — the
# monitor that catches a dead pipeline BEFORE the daily rollup does.
# Hours ride as epoch-hour integers end-to-end (no timestamp
# round-tripping between engines).
# ---------------------------------------------------------------------------

_OUTAGE_MIN_H = 3

_OUTAGE_ORACLE = f"""
WITH hourly AS MATERIALIZED (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h_idx,
         cast(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, epoch_us(ts) // 3600000000
), bounds AS (
  SELECT min(h_idx) AS hmin, max(h_idx) AS hmax FROM hourly
), types AS (SELECT DISTINCT event_type FROM hourly
), grid AS (
  SELECT t.event_type, s.h_idx
  FROM types t,
       (SELECT unnest(generate_series(hmin, hmax)) AS h_idx FROM bounds) s
), zeros AS (
  SELECT g.event_type, g.h_idx,
         g.h_idx - row_number() OVER (PARTITION BY g.event_type
                                      ORDER BY g.h_idx) AS grp
  FROM grid g LEFT JOIN hourly h
    ON h.event_type = g.event_type AND h.h_idx = g.h_idx
  WHERE h.n IS NULL
), runs AS (
  SELECT event_type, cast(count(*) AS BIGINT) AS run_h
  FROM zeros GROUP BY event_type, grp
), prof AS (
  SELECT event_type,
         cast(count(*) AS BIGINT) AS n_runs,
         cast(count(*) FILTER (WHERE run_h >= {_OUTAGE_MIN_H}) AS BIGINT)
           AS n_outages,
         cast(sum(run_h) AS BIGINT) AS silent_hours,
         cast(max(run_h) AS BIGINT) AS longest_run_h
  FROM runs GROUP BY event_type
)
SELECT t.event_type AS event_type,
       cast((SELECT hmax - hmin + 1 FROM bounds) AS BIGINT) AS grid_hours,
       cast(coalesce(p.silent_hours, 0) AS BIGINT) AS silent_hours,
       cast(coalesce(p.n_runs, 0) AS BIGINT) AS n_runs,
       cast(coalesce(p.n_outages, 0) AS BIGINT) AS n_outages,
       cast(coalesce(p.longest_run_h, 0) AS BIGINT) AS longest_run_h
FROM types t LEFT JOIN prof p ON p.event_type = t.event_type
ORDER BY event_type
"""


@register(
    "events_zero_activity_outage_runs",
    _OUTAGE_ORACLE,
    tags=("events", "ops", "anomaly"),
)
def events_zero_activity_outage_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type silent-hour profile: total silent hours, run count,
    outages (runs >= 3h), and the longest run — always one row per
    event type (zeros when the type never goes quiet, as at dense SFs:
    "no outages" is a result, not an empty frame).

    Scale design: the fact table reduces to an (event_type, hour)
    aggregate ONCE (map-side combined); everything after runs on the
    type x hour grid, which is calendar-bounded (a year is 8,760 hours
    per type, never corpus-sized).  The islands window partitions by
    event_type over grid rows.  The h_idx - row_number() trick groups
    consecutive silent hours without a lag+flag+running-sum chain.
    """
    ev = load(spark, sf_dir, "events")
    h_idx = F.expr("unix_micros(ts) div 3600000000")
    hourly = ev.groupBy("event_type", h_idx.alias("h_idx")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    bounds = hourly.agg(
        F.min("h_idx").alias("hmin"), F.max("h_idx").alias("hmax")
    ).coalesce(1)
    types = hourly.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("hmin"), F.col("hmax"))).alias("h_idx"),
    )
    zeros = (
        grid.join(hourly, ["event_type", "h_idx"], "left")
        .where(F.col("n").isNull())
        .select("event_type", "h_idx")
    )
    w = Window.partitionBy("event_type").orderBy("h_idx")
    runs = (
        zeros.withColumn("grp", F.col("h_idx") - F.row_number().over(w))
        .groupBy("event_type", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run_h"))
    )
    prof = runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.sum(F.when(F.col("run_h") >= _OUTAGE_MIN_H, 1).otherwise(0))
        .cast("long")
        .alias("n_outages"),
        F.sum("run_h").cast("long").alias("silent_hours"),
        F.max("run_h").cast("long").alias("longest_run_h"),
    )
    return (
        types.crossJoin(F.broadcast(bounds))
        .join(prof, "event_type", "left")
        .select(
            "event_type",
            (F.col("hmax") - F.col("hmin") + 1).cast("long").alias("grid_hours"),
            F.coalesce("silent_hours", F.lit(0)).cast("long").alias("silent_hours"),
            F.coalesce("n_runs", F.lit(0)).cast("long").alias("n_runs"),
            F.coalesce("n_outages", F.lit(0)).cast("long").alias("n_outages"),
            F.coalesce("longest_run_h", F.lit(0)).cast("long").alias("longest_run_h"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) guardrail: the chi-square goodness-of-fit
# test every experimentation platform runs before trusting ANY A/B
# readout (Fabijan et al. 2019, "Diagnosing Sample Ratio Mismatch").
# Users split 50/50 by the deterministic md5 hash (the same split
# family the DiD/MDE queries use); per event_type we test whether the
# USERS OBSERVED in that type's traffic still split 50/50 — a skewed
# type is a logging/assignment bug, and its experiment readouts are
# garbage.  chi2 for a 50/50 split reduces to (a-b)^2/(a+b); we emit it
# micro-scaled by integer division and flag at the df=1, alpha=0.001
# critical value 10.828 via an exact integer cross-multiplication
# ((a-b)^2 * 1000 > 10828 * (a+b)) — no doubles anywhere.
# ---------------------------------------------------------------------------

_SRM_CRIT_MILLI = 10828  # chi2 critical value at df=1, alpha=0.001, x1000


def _srm_oracle() -> str:
    from event_streaming_spark.functions.hashing import sql_stable_hash32

    gate = sql_stable_hash32("'srm|' || cast(user_id AS VARCHAR)")
    return f"""
WITH assign AS MATERIALIZED (
  SELECT DISTINCT event_type, user_id, {gate} % 2 AS grp FROM events
), counts AS (
  SELECT event_type,
         cast(count(*) FILTER (WHERE grp = 0) AS BIGINT) AS n_a,
         cast(count(*) FILTER (WHERE grp = 1) AS BIGINT) AS n_b
  FROM assign GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       cast((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b) AS BIGINT)
         AS chi2_micro,
       CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000 > {_SRM_CRIT_MILLI} * (n_a + n_b)
            THEN 1 ELSE 0 END AS srm_flag
FROM counts
ORDER BY event_type
"""


@register(
    "events_srm_check_by_type",
    _srm_oracle(),
    tags=("events", "experimentation", "guardrail"),
)
def events_srm_check_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square SRM test of the 50/50 user split, per event type.

    Scale design: ONE distinct (event_type, user) pass (map-side
    combined) then a type-keyed conditional count; the test itself is
    integer arithmetic on the type-sized frame.  At 100 TB this is the
    wordcount shape with a 2-value hash gate fused into the scan.
    """
    from event_streaming_spark.functions.hashing import stable_hash32

    ev = load(spark, sf_dir, "events")
    grp = (
        stable_hash32(F.concat(F.lit("srm|"), F.col("user_id").cast("string")))
        % 2
    )
    assign = ev.select("event_type", "user_id", grp.alias("grp")).distinct()
    counts = assign.groupBy("event_type").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    d2 = (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    return counts.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr(
            "((n_a - n_b) * (n_a - n_b) * CAST(1000000 AS BIGINT))"
            " div (n_a + n_b)"
        )
        .cast("long")
        .alias("chi2_micro"),
        F.when(
            d2 * 1000 > F.lit(_SRM_CRIT_MILLI) * (F.col("n_a") + F.col("n_b")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("srm_flag"),
    ).orderBy("event_type")


# ===========================================================================
# Experimentation / monitoring statistics: CUPED variance
# reduction and the PSI population-stability monitor.
#
# * ``events_cuped_variance_reduction`` — CUPED (Deng, Xu, Kohavi &
#   Walker, WSDM 2013): the standard A/B variance-reduction estimator.
#   Users are hash-split into two arms; the experiment-period metric
#   (per-user value sum over the second half of the date span) is
#   adjusted by the pre-period covariate (first half) with the pooled
#   theta = cov(x,y)/var(x), and the output reports per-arm raw vs
#   CUPED-adjusted variance plus the achieved reduction.  Every moment
#   comes from exact integer/decimal sums (functions/numeric.py
#   discipline), so theta and the variances are identical IEEE chains
#   on both engines.
# * ``events_value_psi_daily`` — the Population Stability Index drift
#   monitor every production scorer runs: the `value` distribution of
#   each day vs a fixed baseline window (first ``_PSI_BASE_DAYS``
#   days), over 10 equi-width bins derived from the BASELINE's integer
#   µ-value range, add-1 smoothed.  Bin assignment is pure int64
#   arithmetic; each bin's (q-p)·ln(q/p) term is rounded to 6dp fixed
#   point BEFORE the 10-term sum, so the day's PSI is an exact integer
#   on both engines.
#
# 100 TB shape: both are one map-side-combining aggregate over the fact
# table (per-user sums / per-(day, bin) counts) followed by work on
# user- or day-sized frames; the baseline stats and theta are 1-row
# broadcast scalars.  No shuffle beyond the keyed aggregates.
#
# Reference parity note: the reference engine has no statistics surface
# (SURVEY §2 O50 covers scalar math only); these extend the stats pack
# (plans/scale.py and the SRM check above).
# ===========================================================================

# ---------------------------------------------------------------------------
# CUPED variance reduction.
# ---------------------------------------------------------------------------

_CUPED_ORACLE = """
WITH ev AS MATERIALIZED (
  SELECT user_id, CAST(ts AS DATE) AS day,
         cast(round(value * 1e6) AS BIGINT) AS v6
  FROM events
), bounds AS (
  SELECT min(day) AS d0, date_diff('day', min(day), max(day)) + 1 AS span
  FROM ev
), u AS MATERIALIZED (
  SELECT user_id, user_id % 2 AS arm,
         cast(coalesce(sum(v6) FILTER (
           WHERE date_diff('day', b.d0, day) < b.span // 2), 0) AS BIGINT)
           AS x6,
         cast(coalesce(sum(v6) FILTER (
           WHERE date_diff('day', b.d0, day) >= b.span // 2), 0) AS BIGINT)
           AS y6
  FROM ev, bounds b
  GROUP BY user_id, b.d0, b.span
), pool AS (
  SELECT cast(count(*) AS BIGINT) AS n,
         cast(sum(x6) AS BIGINT) AS sx, cast(sum(y6) AS BIGINT) AS sy,
         sum(cast(x6 AS DECIMAL(19,0)) * cast(x6 AS DECIMAL(19,0))) AS sxx,
         sum(cast(x6 AS DECIMAL(19,0)) * cast(y6 AS DECIMAL(19,0))) AS sxy
  FROM u
), theta AS (
  SELECT ((cast(sxy AS DOUBLE) / 1e12
           - (cast(sx AS DOUBLE) / 1e6) * (cast(sy AS DOUBLE) / 1e6) / n)
          / (n - 1))
         / ((cast(sxx AS DOUBLE) / 1e12
             - (cast(sx AS DOUBLE) / 1e6) * (cast(sx AS DOUBLE) / 1e6) / n)
            / (n - 1)) AS th
  FROM pool
), a AS (
  SELECT arm, cast(count(*) AS BIGINT) AS n_users,
         cast(sum(x6) AS BIGINT) AS sx, cast(sum(y6) AS BIGINT) AS sy,
         sum(cast(x6 AS DECIMAL(19,0)) * cast(x6 AS DECIMAL(19,0))) AS sxx,
         sum(cast(y6 AS DECIMAL(19,0)) * cast(y6 AS DECIMAL(19,0))) AS syy,
         sum(cast(x6 AS DECIMAL(19,0)) * cast(y6 AS DECIMAL(19,0))) AS sxy
  FROM u GROUP BY arm
), s AS (
  SELECT arm, n_users, th,
         (cast(sy AS DOUBLE) / 1e6) / n_users AS mean_y,
         (cast(syy AS DOUBLE) / 1e12
          - (cast(sy AS DOUBLE) / 1e6) * (cast(sy AS DOUBLE) / 1e6) / n_users)
           / (n_users - 1) AS var_y,
         (cast(sxx AS DOUBLE) / 1e12
          - (cast(sx AS DOUBLE) / 1e6) * (cast(sx AS DOUBLE) / 1e6) / n_users)
           / (n_users - 1) AS var_x,
         (cast(sxy AS DOUBLE) / 1e12
          - (cast(sx AS DOUBLE) / 1e6) * (cast(sy AS DOUBLE) / 1e6) / n_users)
           / (n_users - 1) AS cov_xy
  FROM a, theta
)
SELECT cast(arm AS BIGINT) AS arm, n_users,
       round(mean_y, 6) AS mean_y,
       round(var_y, 6) AS var_y,
       round(var_y - 2 * th * cov_xy + th * th * var_x, 6) AS var_cuped,
       round(th, 6) AS theta,
       round(1 - (var_y - 2 * th * cov_xy + th * th * var_x) / var_y, 6)
         AS var_reduction
FROM s ORDER BY arm
"""


@register(
    "events_cuped_variance_reduction",
    _CUPED_ORACLE,
    tags=("agg", "stats", "experiment"),
)
def events_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm raw vs CUPED-adjusted variance with pooled theta.

    Scale design: ONE keyed aggregate over the fact builds the
    per-user (pre, post) value sums; every later frame is user-count-
    or arm-sized.  Squared moments accumulate in DECIMAL(38,0) (int64
    overflows at ~1e5 µ-scaled rows — the z-test lesson), and theta /
    variances are the same fixed double chain on both engines, so the
    6dp rounding is stable.  The date-span split and arm assignment
    are derived declaratively (min/max + modulus) — no data-dependent
    cohort that could degenerate at small SF.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 1e6).cast("long").alias("v6"),
    )
    bounds = ev.agg(
        F.min("day").alias("d0"),
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("span"),
    )
    is_pre = F.datediff(F.col("day"), F.col("d0")) < F.expr("span div 2")
    u = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(is_pre, F.col("v6"))), F.lit(0))
            .cast("long")
            .alias("x6"),
            F.coalesce(F.sum(F.when(~is_pre, F.col("v6"))), F.lit(0))
            .cast("long")
            .alias("y6"),
        )
        .select(
            "user_id",
            F.pmod("user_id", F.lit(2)).alias("arm"),
            "x6",
            "y6",
        )
    )
    xd = F.col("x6").cast("decimal(19,0)")
    yd = F.col("y6").cast("decimal(19,0)")
    pool = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x6").cast("long").alias("sx"),
        F.sum("y6").cast("long").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(xd * yd).alias("sxy"),
    )
    th = (
        (
            F.col("sxy").cast("double") / 1e12
            - (F.col("sx").cast("double") / 1e6)
            * (F.col("sy").cast("double") / 1e6)
            / F.col("n")
        )
        / (F.col("n") - 1)
    ) / (
        (
            F.col("sxx").cast("double") / 1e12
            - (F.col("sx").cast("double") / 1e6)
            * (F.col("sx").cast("double") / 1e6)
            / F.col("n")
        )
        / (F.col("n") - 1)
    )
    theta = pool.select(th.alias("th"))
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x6").cast("long").alias("sx"),
        F.sum("y6").cast("long").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    n = F.col("n_users")
    mean_y = (F.col("sy").cast("double") / 1e6) / n
    var_y = (
        F.col("syy").cast("double") / 1e12
        - (F.col("sy").cast("double") / 1e6)
        * (F.col("sy").cast("double") / 1e6)
        / n
    ) / (n - 1)
    var_x = (
        F.col("sxx").cast("double") / 1e12
        - (F.col("sx").cast("double") / 1e6)
        * (F.col("sx").cast("double") / 1e6)
        / n
    ) / (n - 1)
    cov_xy = (
        F.col("sxy").cast("double") / 1e12
        - (F.col("sx").cast("double") / 1e6)
        * (F.col("sy").cast("double") / 1e6)
        / n
    ) / (n - 1)
    var_cuped = var_y - 2 * F.col("th") * cov_xy + F.col("th") * F.col("th") * var_x
    return (
        a.crossJoin(F.broadcast(theta))
        .select(
            F.col("arm").cast("long").alias("arm"),
            "n_users",
            F.round(mean_y, 6).alias("mean_y"),
            F.round(var_y, 6).alias("var_y"),
            F.round(var_cuped, 6).alias("var_cuped"),
            F.round(F.col("th"), 6).alias("theta"),
            F.round(1 - var_cuped / var_y, 6).alias("var_reduction"),
        )
        .orderBy("arm")
    )


# ---------------------------------------------------------------------------
# PSI population-stability monitor.
# ---------------------------------------------------------------------------

_PSI_BASE_DAYS = 10  # baseline window: first N days of the span
_PSI_BINS = 10

_PSI_ORACLE = f"""
WITH ev AS MATERIALIZED (
  SELECT CAST(ts AS DATE) AS day,
         cast(round(value * 1e6) AS BIGINT) AS v6
  FROM events
), d0 AS (SELECT min(day) AS d0 FROM ev),
base AS MATERIALIZED (
  SELECT v6 FROM ev, d0 WHERE date_diff('day', d0.d0, day) < {_PSI_BASE_DAYS}
), rng AS (
  SELECT min(v6) AS vmin6, max(v6) AS vmax6,
         cast(count(*) AS BIGINT) AS bn
  FROM base
), bbin AS (
  SELECT least({_PSI_BINS - 1}, greatest(0,
           (v6 - rng.vmin6) * {_PSI_BINS} // (rng.vmax6 - rng.vmin6 + 1)))
           AS bin,
         cast(count(*) AS BIGINT) AS bc
  FROM base, rng GROUP BY 1
), dbin AS (
  SELECT day, least({_PSI_BINS - 1}, greatest(0,
           (v6 - rng.vmin6) * {_PSI_BINS} // (rng.vmax6 - rng.vmin6 + 1)))
           AS bin,
         cast(count(*) AS BIGINT) AS dc
  FROM ev, rng GROUP BY 1, 2
), dtot AS (
  SELECT day, cast(sum(dc) AS BIGINT) AS dn FROM dbin GROUP BY day
), grid AS (
  SELECT dtot.day, dtot.dn, b.bin,
         coalesce(dbin.dc, 0) AS dc, coalesce(bbin.bc, 0) AS bc, rng.bn
  FROM dtot
  CROSS JOIN (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin) b
  CROSS JOIN rng
  LEFT JOIN dbin ON dbin.day = dtot.day AND dbin.bin = b.bin
  LEFT JOIN bbin ON bbin.bin = b.bin
), terms AS (
  SELECT day, dn,
         cast(round((
           (cast(dc + 1 AS DOUBLE) / cast(dn + {_PSI_BINS} AS DOUBLE)
            - cast(bc + 1 AS DOUBLE) / cast(bn + {_PSI_BINS} AS DOUBLE))
           * ln((cast(dc + 1 AS DOUBLE) / cast(dn + {_PSI_BINS} AS DOUBLE))
                / (cast(bc + 1 AS DOUBLE) / cast(bn + {_PSI_BINS} AS DOUBLE)))
         ) * 1e6) AS BIGINT) AS term_fp
  FROM grid
)
SELECT day, cast(dn AS BIGINT) AS n_events,
       cast(sum(term_fp) AS BIGINT) AS psi_fp6
FROM terms GROUP BY day, dn ORDER BY day
"""


@register(
    "events_value_psi_daily",
    _PSI_ORACLE,
    tags=("agg", "stats", "drift", "quality"),
)
def events_value_psi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily PSI of the value distribution vs the baseline window.

    Scale design: bin edges are pure int64 arithmetic from the
    baseline's µ-value range (1-row broadcast), so binning happens
    map-side inside the same pass that counts (day, bin) — the fact
    table is aggregated ONCE and everything after runs on the
    (days x 10)-bin dense grid.  Each PSI term is rounded to 6dp
    fixed point BEFORE the 10-term sum, making the sum order-free and
    the day's PSI an exact integer on both engines.
    """
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 1e6).cast("long").alias("v6"),
    )
    d0 = ev.agg(F.min("day").alias("d0"))
    base = ev.crossJoin(F.broadcast(d0)).where(
        F.datediff(F.col("day"), F.col("d0")) < _PSI_BASE_DAYS
    )
    rng = base.agg(
        F.min("v6").alias("vmin6"),
        F.max("v6").alias("vmax6"),
        F.count(F.lit(1)).cast("long").alias("bn"),
    )
    bin_expr = F.least(
        F.lit(_PSI_BINS - 1),
        F.greatest(
            F.lit(0),
            F.expr(
                f"(v6 - vmin6) * {_PSI_BINS} div (vmax6 - vmin6 + 1)"
            ),
        ),
    ).cast("long")
    bbin = (
        base.crossJoin(F.broadcast(rng))
        .groupBy(bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("bc"))
    )
    dbin = (
        ev.crossJoin(F.broadcast(rng))
        .groupBy("day", bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("dc"))
    )
    dtot = dbin.groupBy("day").agg(F.sum("dc").cast("long").alias("dn"))
    grid = (
        dtot.select(
            "day",
            "dn",
            F.explode(F.sequence(F.lit(0), F.lit(_PSI_BINS - 1))).alias("bin"),
        )
        .select("day", "dn", F.col("bin").cast("long").alias("bin"))
        .join(dbin, ["day", "bin"], "left")
        .join(F.broadcast(bbin), ["bin"], "left")
        .crossJoin(F.broadcast(rng.select("bn")))
        .select(
            "day",
            "dn",
            F.coalesce("dc", F.lit(0)).cast("long").alias("dc"),
            F.coalesce("bc", F.lit(0)).cast("long").alias("bc"),
            "bn",
        )
    )
    q = (F.col("dc") + 1).cast("double") / (F.col("dn") + _PSI_BINS).cast("double")
    p = (F.col("bc") + 1).cast("double") / (F.col("bn") + _PSI_BINS).cast("double")
    term_fp = F.round((q - p) * F.log(q / p) * 1e6).cast("long")
    return (
        grid.select("day", "dn", term_fp.alias("term_fp"))
        .groupBy("day", "dn")
        .agg(F.sum("term_fp").cast("long").alias("psi_fp6"))
        .select("day", F.col("dn").alias("n_events"), "psi_fp6")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# STREAMING PSI drift drain: the monitor deployed as a stream.  The bin
# edges and baseline histogram are STATIC reference artifacts (computed
# once, batch-side, from the baseline window — exactly what a production
# scorer ships with its model); the stream maintains only (day, bin)
# counts in state, and the per-day PSI epilogue runs on the drained
# (days x 10)-sized final counts.  Oracle: the SAME batch PSI SQL —
# stream ≡ batch, verified by the driver's value hash.
# ---------------------------------------------------------------------------


@register(
    "streaming_psi_drift_drain",
    _PSI_ORACLE,
    tags=("streaming", "drift", "quality", "agg"),
)
def streaming_psi_drift_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish events → topic log → availableNow drain keyed (day, bin)
    → per-day PSI vs the static baseline histogram.

    Scale design: streaming state is (days x 10) count rows — bounded
    by the calendar, never by event volume; binning is int64 math on
    broadcast-literal edges inside the streaming aggregate, so each
    micro-batch does one map-side-combined count.  The callback
    receives state-sized updates only; the PSI epilogue (add-1 terms,
    6dp fixed point BEFORE the 10-term sum — identical arithmetic to
    the batch twin, in C-libm doubles) runs on the final counts.
    """
    import math
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from event_streaming_spark.plans.streaming import UpdateModeFold
    from event_streaming_spark.streaming.agency import EventsAgency

    ev = load(spark, sf_dir, "events")
    v6 = F.round(F.col("value") * 1e6).cast("long")
    # static reference artifacts: baseline bin edges + histogram
    d0 = ev.agg(F.min(F.col("ts").cast("date")).alias("d0")).collect()[0]["d0"]
    base = ev.where(
        F.datediff(F.col("ts").cast("date"), F.lit(d0)) < _PSI_BASE_DAYS
    ).select(v6.alias("v6"))
    vmin6, vmax6, bn = base.agg(
        F.min("v6"), F.max("v6"), F.count(F.lit(1)).cast("long")
    ).collect()[0]
    bin_sql = (
        f"least({_PSI_BINS - 1}, greatest(0, "
        f"(v6 - {vmin6}L) * {_PSI_BINS} div ({vmax6}L - {vmin6}L + 1)))"
    )
    bc = {
        r["bin"]: r["bc"]
        for r in base.groupBy(F.expr(bin_sql).alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("bc"))
        .collect()
    }

    root = tempfile.mkdtemp(prefix="est-psidrain-")
    fold = UpdateModeFold(["day", "bin"])
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "events-psi")
        ctx.publish(ev)

        def binned(df: DataFrame) -> DataFrame:
            return (
                df.select("ts", v6.alias("v6"))
                .withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 day"), F.expr(bin_sql).alias("bin"))
                .agg(F.count(F.lit(1)).cast("long").alias("dc"))
            )

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            fold.collect(
                batch_df.select(F.to_date(F.col("window.start")).alias("day"), "bin", "dc"),
                batch_id,
            )

        ctx.consume(
            on_notify,
            once=True,
            transform=binned,
            output_mode="update",
            state_partitions=8,
        )
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    schema = T.StructType(
        [
            T.StructField("day", T.DateType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("psi_fp6", T.LongType()),
        ]
    )

    def psi_rows(last) -> list:
        out_rows = []
        for day, grp in last.groupby("day"):
            dc = {int(r.bin): int(r.dc) for r in grp.itertuples()}
            dn = sum(dc.values())
            psi = 0
            for b in range(_PSI_BINS):
                q = (dc.get(b, 0) + 1) / (dn + _PSI_BINS)
                p = (bc.get(b, 0) + 1) / (bn + _PSI_BINS)
                term = (q - p) * math.log(q / p)
                psi += int(math.floor(term * 1e6 + 0.5))  # terms are >= 0
            out_rows.append((day, dn, psi))
        out_rows.sort(key=lambda r: r[0])
        return out_rows

    return fold.frame(spark, schema, psi_rows)


# ===========================================================================
# Attribution game theory and sequential testing:
# exact Shapley-value multi-touch attribution and the mSPRT always-valid
# experiment monitor.
#
# * ``events_attribution_shapley`` — Shapley-value attribution (Shapley
#   1953; Zhao et al. 2018 "Shapley Value Methods for Attribution
#   Modeling in Online Advertising"): each converting (user, day)
#   journey contributes its SET of pre-conversion channels; the
#   coalition game is v(S) = number of journeys whose channel set is a
#   non-empty subset of S, and each channel's Shapley value is computed
#   EXACTLY over the 2^k subset lattice (k = distinct non-purchase
#   event types, capped at ``_SH_MAX_CH``).  All weights are scaled by
#   k! so every output is an integer — the efficiency property
#   (Σφ_c = v(K)) holds exactly and is asserted in tests.  This is the
#   4th member of the attribution family (last-touch, position-based,
#   Markov removal, all above) and the only
#   one with the fairness axioms.
# * ``events_msprt_always_valid`` — the mixture Sequential Probability
#   Ratio Test (Johari, Koomen, Pekelis & Walsh, KDD 2017 — the
#   "peeking problem" paper): a daily-cumulative two-sample mean
#   comparison between the user_id-parity arms, with the normal-mixture
#   likelihood ratio ln Λ_d = ½·ln(V/(V+τ²)) + Δ²τ²/(2·V·(V+τ²))
#   evaluated from EXACT integer/decimal cumulative moments, and the
#   always-valid p-value ln p_d = −max(0, max_{d'≤d} ln Λ_{d'}).
#   Λ is kept in log space end-to-end (no exp), every per-day statistic
#   is one fixed IEEE chain over exact integers rounded to 6dp, and the
#   running max runs over the ROUNDED values — both engines agree
#   bit-for-bit.
#
# 100 TB shape: each query is ONE map-side-combining keyed aggregate
# over the fact table — (user, day) journey masks / (day, arm) moment
# rows — followed by work on schema- or calendar-bounded frames (the
# 2^k subset lattice, the day spine).  The channel dictionary and the
# subset lattice broadcast; nothing corpus-sized is ever windowed or
# collected.
#
# Reference parity note: the reference engine has no statistics surface
# (SURVEY §2 O50 covers scalar math only); these extend the
# experimentation pack above (SRM guardrail, CUPED).
# ===========================================================================

# ---------------------------------------------------------------------------
# Shapley-value attribution.
# ---------------------------------------------------------------------------

_SH_MAX_CH = 8  # 2^8 = 256-row lattice; schema-bounded in practice (k = 4)

_SHAPLEY_ORACLE = f"""
WITH ev AS MATERIALIZED (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts
  FROM events
), channels AS (
  SELECT event_type AS ch,
         row_number() OVER (ORDER BY count(*) DESC, event_type) - 1 AS bit
  FROM ev WHERE event_type <> 'purchase'
  GROUP BY event_type
  ORDER BY count(*) DESC, event_type
  LIMIT {_SH_MAX_CH}
), k AS (
  SELECT cast(count(*) AS BIGINT) AS k,
         cast(factorial(cast(count(*) AS INTEGER)) AS BIGINT) AS kf
  FROM channels
), fp AS (
  SELECT user_id, day, min(ts) AS fpts
  FROM ev WHERE event_type = 'purchase'
  GROUP BY user_id, day
), masks AS (
  SELECT e.user_id, e.day,
         cast(bit_or(1 << c.bit) AS BIGINT) AS mask
  FROM ev e
  JOIN fp USING (user_id, day)
  JOIN channels c ON c.ch = e.event_type
  WHERE e.ts < fp.fpts
  GROUP BY e.user_id, e.day
), nc AS (
  SELECT mask, cast(count(*) AS BIGINT) AS n FROM masks GROUP BY mask
), lattice AS (
  SELECT cast(range AS BIGINT) AS s
  FROM range({1 << _SH_MAX_CH}), k WHERE range < (1 << cast(k.k AS INTEGER))
), v AS (
  SELECT l.s, cast(coalesce(sum(nc.n), 0) AS BIGINT) AS v
  FROM lattice l LEFT JOIN nc ON (nc.mask & l.s) = nc.mask
  GROUP BY l.s
), phi AS (
  SELECT c.ch AS channel,
         cast(sum(CASE
           WHEN (v.s & (1 << cast(c.bit AS INTEGER))) <> 0 THEN
             cast(factorial(cast(bit_count(v.s) - 1 AS INTEGER)) AS BIGINT)
             * cast(factorial(cast(k.k - bit_count(v.s) AS INTEGER)) AS BIGINT) * v.v
           ELSE
             - cast(factorial(cast(bit_count(v.s) AS INTEGER)) AS BIGINT)
             * cast(factorial(cast(k.k - bit_count(v.s) - 1 AS INTEGER)) AS BIGINT) * v.v
         END) AS BIGINT) AS shapley_num
  FROM channels c CROSS JOIN k CROSS JOIN v
  GROUP BY c.ch
), tot AS (
  SELECT v AS vk FROM v, k WHERE v.s = (1 << k.k) - 1
)
SELECT p.channel, p.shapley_num, k.kf AS k_factorial, tot.vk AS converted_journeys,
       cast(CASE WHEN tot.vk > 0 THEN
         (2000000 * p.shapley_num + k.kf * tot.vk) // (2 * k.kf * tot.vk)
       ELSE 0 END AS BIGINT) AS share_ppm
FROM phi p, k, tot
ORDER BY p.channel
"""


@register(
    "events_attribution_shapley",
    _SHAPLEY_ORACLE,
    tags=("events", "attribution", "stats"),
)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value channel attribution over the subset lattice.

    Scale design: the ONLY data-sized stages are the first-purchase
    aggregate and the journey-mask aggregate, both keyed on
    (user_id, day) — one shuffle each, co-partitioned, map-side
    combining.  The channel dictionary (≤ |event types| rows), the
    mask histogram (≤ 2^k rows) and the subset lattice (2^k rows,
    k ≤ 8) are broadcast frames; the Shapley sweep is a
    channels × lattice cross join of ≤ 8·256 rows.  Every weight is
    scaled by k! so the output is integer-exact — Σφ = v(K)
    (efficiency) holds exactly.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type", "ts"
    )
    # channel dictionary: ≤ |distinct event_type| rows — the unpartitioned
    # row_number head is schema-bounded (pinned in test_plan_regressions).
    channels = (
        ev.where(F.col("event_type") != "purchase")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "bit",
            F.row_number().over(Window.orderBy(F.desc("cnt"), "event_type")) - 1,
        )
        .where(F.col("bit") < _SH_MAX_CH)
        .select(F.col("event_type").alias("ch"), "bit")
    )
    k = channels.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.factorial(F.count(F.lit(1)).cast("int")).alias("kf"),
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "day")
        .agg(F.min("ts").alias("fpts"))
    )
    masks = (
        ev.join(fp, ["user_id", "day"])
        .join(F.broadcast(channels), ev["event_type"] == channels["ch"])
        .where(F.col("ts") < F.col("fpts"))
        .groupBy("user_id", "day")
        .agg(F.bit_or(F.expr("shiftleft(1, cast(bit as int))")).cast("long").alias("mask"))
    )
    nc = masks.groupBy("mask").agg(F.count(F.lit(1)).cast("long").alias("n"))
    n_masks = (
        spark.range(1 << _SH_MAX_CH)
        .crossJoin(F.broadcast(k))
        .where(F.col("id") < F.expr("shiftleft(1, cast(k as int))"))
        .select(F.col("id").alias("s"))
    )
    v = (
        n_masks.join(
            F.broadcast(nc),
            (F.col("mask").bitwiseAND(F.col("s"))) == F.col("mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("v"))
    )
    pc = F.bit_count(F.col("s")).cast("int")
    in_s = (F.col("s").bitwiseAND(F.expr("shiftleft(1, cast(bit as int))"))) != 0
    term = F.when(
        in_s,
        F.factorial(pc - 1) * F.factorial((F.col("k") - pc).cast("int")) * F.col("v"),
    ).otherwise(
        -F.factorial(pc) * F.factorial((F.col("k") - pc - 1).cast("int")) * F.col("v")
    )
    phi = (
        F.broadcast(channels)
        .crossJoin(F.broadcast(k))
        .crossJoin(v)
        .groupBy("ch")
        .agg(F.sum(term).cast("long").alias("shapley_num"))
    )
    tot = (
        v.crossJoin(F.broadcast(k))
        .where(F.col("s") == F.expr("shiftleft(1, cast(k as int)) - 1"))
        .select(F.col("v").alias("vk"))
    )
    share = F.when(
        F.col("vk") > 0,
        F.expr("(2000000 * shapley_num + kf * vk) div (2 * kf * vk)"),
    ).otherwise(F.lit(0))
    return (
        phi.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("ch").alias("channel"),
            "shapley_num",
            F.col("kf").cast("long").alias("k_factorial"),
            F.col("vk").alias("converted_journeys"),
            share.cast("long").alias("share_ppm"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# mSPRT always-valid monitor.
# ---------------------------------------------------------------------------

_MSPRT_TAU2 = 4.0  # mixture variance: effects of ~2 value-units are typical
_MSPRT_LN_INV_ALPHA = 2.995732  # ln(1/0.05), 6dp — compare on 6dp-rounded lnΛ

_MSPRT_ORACLE = f"""
WITH ev AS MATERIALIZED (
  SELECT CAST(ts AS DATE) AS day, user_id % 2 AS arm,
         cast(round(value * 1e6) AS BIGINT) AS v6
  FROM events
), d AS (
  SELECT day,
         cast(coalesce(sum(CASE WHEN arm = 0 THEN 1 END), 0) AS BIGINT) AS na,
         cast(coalesce(sum(CASE WHEN arm = 1 THEN 1 END), 0) AS BIGINT) AS nb,
         cast(coalesce(sum(CASE WHEN arm = 0 THEN v6 END), 0) AS BIGINT) AS sa,
         cast(coalesce(sum(CASE WHEN arm = 1 THEN v6 END), 0) AS BIGINT) AS sb,
         cast(coalesce(sum(CASE WHEN arm = 0 THEN cast(v6 AS DECIMAL(38,0))
                                    * v6 END), 0) AS DECIMAL(38,0)) AS qa,
         cast(coalesce(sum(CASE WHEN arm = 1 THEN cast(v6 AS DECIMAL(38,0))
                                    * v6 END), 0) AS DECIMAL(38,0)) AS qb
  FROM ev GROUP BY day
), c AS (
  SELECT day,
         cast(sum(na) OVER w AS BIGINT) AS na,
         cast(sum(nb) OVER w AS BIGINT) AS nb,
         cast(sum(sa) OVER w AS BIGINT) AS sa,
         cast(sum(sb) OVER w AS BIGINT) AS sb,
         cast(sum(qa) OVER w AS DECIMAL(38,0)) AS qa,
         cast(sum(qb) OVER w AS DECIMAL(38,0)) AS qb
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT day, na, nb,
         round((cast(sb AS DOUBLE) / 1e6 / nb)
               - (cast(sa AS DOUBLE) / 1e6 / na), 6) AS delta_mean,
         round(
           CASE WHEN na > 1 AND nb > 1 AND vv > 0 THEN
             0.5 * ln(vv / (vv + {_MSPRT_TAU2}))
             + dd * dd * {_MSPRT_TAU2} / (2.0 * vv * (vv + {_MSPRT_TAU2}))
           ELSE 0.0 END, 6) AS ln_lambda
  FROM (
    SELECT day, na, nb, sa, sb,
           (cast(sb AS DOUBLE) / 1e6 / nb) - (cast(sa AS DOUBLE) / 1e6 / na) AS dd,
           CASE WHEN na > 1 AND nb > 1 THEN
             ((cast(qa AS DOUBLE) / 1e12
               - (cast(sa AS DOUBLE) / 1e6) * (cast(sa AS DOUBLE) / 1e6) / na)
              / (na - 1)) / na
             + ((cast(qb AS DOUBLE) / 1e12
               - (cast(sb AS DOUBLE) / 1e6) * (cast(sb AS DOUBLE) / 1e6) / nb)
              / (nb - 1)) / nb
           END AS vv
    FROM c)
)
SELECT day, na AS n_a, nb AS n_b, delta_mean, ln_lambda,
       round(-greatest(0.0, max(ln_lambda)
             OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)), 6) + 0.0 AS ln_avp,
       CASE WHEN max(ln_lambda)
             OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) > {_MSPRT_LN_INV_ALPHA}
            THEN 1 ELSE 0 END AS rejected
FROM s
ORDER BY day
"""


@register(
    "events_msprt_always_valid",
    _MSPRT_ORACLE,
    tags=("events", "stats", "experimentation"),
)
def events_msprt_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mSPRT always-valid p-value monitor over daily cumulative arms.

    Scale design: ONE map-side-combining aggregate turns the fact
    table into a (day)-keyed moment frame (counts, 6dp-scaled sums,
    DECIMAL(38,0) sums of squares — exact at any volume); every
    window below runs on that calendar-bounded day spine (pinned in
    test_plan_regressions).  Λ stays in log space (no exp); per-day
    statistics are single fixed IEEE chains over exact integers,
    rounded to 6dp BEFORE the running max, so the always-valid
    p-value is bit-identical on both engines.
    """
    tau2 = F.lit(_MSPRT_TAU2)
    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        (F.col("user_id") % 2).alias("arm"),
        F.round(F.col("value") * 1e6).cast("long").alias("v6"),
    )
    d = ev.groupBy("day").agg(
        F.coalesce(F.sum(F.when(F.col("arm") == 0, 1)), F.lit(0)).cast("long").alias("na"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, 1)), F.lit(0)).cast("long").alias("nb"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("v6"))), F.lit(0))
        .cast("long").alias("sa"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("v6"))), F.lit(0))
        .cast("long").alias("sb"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("v6").cast("decimal(38,0)") * F.col("v6"))),
            F.lit(0),
        ).cast("decimal(38,0)").alias("qa"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, F.col("v6").cast("decimal(38,0)") * F.col("v6"))),
            F.lit(0),
        ).cast("decimal(38,0)").alias("qb"),
    )
    # calendar-bounded day spine: cumulative moments + running max
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        F.sum("na").over(wc).cast("long").alias("na"),
        F.sum("nb").over(wc).cast("long").alias("nb"),
        F.sum("sa").over(wc).cast("long").alias("sa"),
        F.sum("sb").over(wc).cast("long").alias("sb"),
        F.sum("qa").over(wc).cast("decimal(38,0)").alias("qa"),
        F.sum("qb").over(wc).cast("decimal(38,0)").alias("qb"),
    )
    ma = F.col("sa").cast("double") / 1e6 / F.col("na")
    mb = F.col("sb").cast("double") / 1e6 / F.col("nb")
    dd = mb - ma
    va = (
        (
            F.col("qa").cast("double") / 1e12
            - (F.col("sa").cast("double") / 1e6)
            * (F.col("sa").cast("double") / 1e6)
            / F.col("na")
        )
        / (F.col("na") - 1)
    ) / F.col("na")
    vb = (
        (
            F.col("qb").cast("double") / 1e12
            - (F.col("sb").cast("double") / 1e6)
            * (F.col("sb").cast("double") / 1e6)
            / F.col("nb")
        )
        / (F.col("nb") - 1)
    ) / F.col("nb")
    vv = va + vb
    ok = (F.col("na") > 1) & (F.col("nb") > 1) & (vv > 0)
    ln_lambda = F.round(
        F.when(
            ok,
            0.5 * F.log(vv / (vv + tau2))
            + dd * dd * tau2 / (2.0 * vv * (vv + tau2)),
        ).otherwise(0.0),
        6,
    )
    s = c.select(
        "day",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(dd, 6).alias("delta_mean"),
        ln_lambda.alias("ln_lambda"),
    )
    runmax = F.max("ln_lambda").over(wc)
    return s.select(
        "day",
        "n_a",
        "n_b",
        "delta_mean",
        "ln_lambda",
        # + 0.0 folds the IEEE −0.0 (when the running max is ≤ 0) to +0.0
        # on both engines — repr(−0.0) would otherwise hash-differ.
        (F.round(-F.greatest(F.lit(0.0), runmax), 6) + 0.0).alias("ln_avp"),
        F.when(runmax > _MSPRT_LN_INV_ALPHA, 1).otherwise(0).alias("rejected"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# STREAMING mSPRT drain: the always-valid monitor deployed as a stream —
# the actual production shape of sequential testing (Johari et al. 2017
# §6: the whole point of an always-valid p-value is that it is read
# CONTINUOUSLY).  Streaming state is the per-(day, arm) moment rows —
# calendar-bounded, never volume-bounded; the cumulative lnΛ chain runs
# as an epilogue on the drained moments with operation-for-operation the
# batch twin's arithmetic.  Oracle: the SAME batch SQL (stream ≡ batch).
# ---------------------------------------------------------------------------


@register(
    "streaming_msprt_drain",
    _MSPRT_ORACLE,
    tags=("streaming", "stats", "experimentation"),
)
def streaming_msprt_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish events → topic log → availableNow drain keyed (day, arm)
    → cumulative mSPRT epilogue on the drained moment rows.

    Scale design: each micro-batch does ONE map-side-combined aggregate
    to (day, arm) rows carrying (count, Σv6, Σv6² as DECIMAL(38,0)) —
    exact at any volume, state bounded by the calendar; the lnΛ chain
    (identical IEEE operation order to the batch twin, including the
    6dp half-up rounding BEFORE the running max) runs on the final
    state-sized frame.
    """
    import math
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from event_streaming_spark.plans.streaming import UpdateModeFold
    from event_streaming_spark.streaming.agency import EventsAgency

    ev = load(spark, sf_dir, "events")

    root = tempfile.mkdtemp(prefix="est-msprtdrain-")
    fold = UpdateModeFold(["day", "arm"])
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "events-msprt")
        ctx.publish(ev)

        def moments(df: DataFrame) -> DataFrame:
            v6 = F.round(F.col("value") * 1e6).cast("long")
            return (
                df.select("ts", (F.col("user_id") % 2).alias("arm"), v6.alias("v6"))
                .withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 day"), "arm")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("v6").cast("long").alias("s"),
                    F.sum(F.col("v6").cast("decimal(38,0)") * F.col("v6"))
                    .cast("decimal(38,0)")
                    .alias("q"),
                )
            )

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            fold.collect(
                batch_df.select(F.to_date(F.col("window.start")).alias("day"), "arm", "n", "s", "q"),
                batch_id,
            )

        ctx.consume(
            on_notify,
            once=True,
            transform=moments,
            output_mode="update",
            state_partitions=8,
        )
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    schema = T.StructType(
        [
            T.StructField("day", T.DateType()),
            T.StructField("n_a", T.LongType()),
            T.StructField("n_b", T.LongType()),
            T.StructField("delta_mean", T.DoubleType()),
            T.StructField("ln_lambda", T.DoubleType()),
            T.StructField("ln_avp", T.DoubleType()),
            T.StructField("rejected", T.IntegerType()),
        ]
    )

    def msprt_rows(last) -> list:
        def r6(x: float) -> float:
            # HALF_UP at 6dp, sign-aware — the JVM/DuckDB round() convention
            return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

        by_day: dict = {}
        for r in last.itertuples():
            d = by_day.setdefault(r.day, {0: (0, 0, 0), 1: (0, 0, 0)})
            d[int(r.arm)] = (int(r.n), int(r.s), int(r.q))
        na = nb = sa = sb = 0
        qa = qb = 0
        out_rows = []
        runmax = None
        for day in sorted(by_day):
            a0, a1 = by_day[day][0], by_day[day][1]
            na += a0[0]; sa += a0[1]; qa += a0[2]
            nb += a1[0]; sb += a1[1]; qb += a1[2]
            ma = (float(sa) / 1e6) / na if na else 0.0
            mb = (float(sb) / 1e6) / nb if nb else 0.0
            dd = mb - ma
            if na > 1 and nb > 1:
                va = ((float(qa) / 1e12 - (float(sa) / 1e6) * (float(sa) / 1e6) / na)
                      / (na - 1)) / na
                vb = ((float(qb) / 1e12 - (float(sb) / 1e6) * (float(sb) / 1e6) / nb)
                      / (nb - 1)) / nb
                vv = va + vb
            else:
                vv = 0.0
            if na > 1 and nb > 1 and vv > 0:
                ln_lambda = r6(
                    0.5 * math.log(vv / (vv + _MSPRT_TAU2))
                    + dd * dd * _MSPRT_TAU2 / (2.0 * vv * (vv + _MSPRT_TAU2))
                )
            else:
                ln_lambda = 0.0
            runmax = ln_lambda if runmax is None else max(runmax, ln_lambda)
            out_rows.append(
                (
                    day,
                    na,
                    nb,
                    r6(dd),
                    ln_lambda,
                    r6(-max(0.0, runmax)) + 0.0,
                    1 if runmax > _MSPRT_LN_INV_ALPHA else 0,
                )
            )
        return out_rows

    return fold.frame(spark, schema, msprt_rows)


# ---------------------------------------------------------------------------
# Session predictability: the entropy rate of the (user, day) journey
# Markov chain.  Per-state conditional entropy H(next | s) plus each
# state's contribution to the empirical entropy rate Σ_s π_s·H(·|s) —
# the standard "how templated is user behavior" readout (Song et al.
# 2010 limits-of-predictability framing), and the information-theoretic
# companion of events_markov_type_transitions.  Every term is rounded
# to 6dp fixed point BEFORE its sum, so the per-state integers are
# order-free and bit-identical cross-engine.
# ---------------------------------------------------------------------------

_ENT_ORACLE = """
WITH seq AS MATERIALIZED (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts, event_id
  FROM events
), tr AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT lag(event_type) OVER (PARTITION BY user_id, day
                                 ORDER BY ts, event_id) AS src,
           event_type AS dst
    FROM seq
  ) WHERE src IS NOT NULL
), csd AS (
  SELECT src, dst, cast(count(*) AS BIGINT) AS c FROM tr GROUP BY src, dst
), cs AS (
  SELECT src, cast(sum(c) AS BIGINT) AS cs FROM csd GROUP BY src
), n AS (
  SELECT cast(sum(c) AS BIGINT) AS n FROM csd
)
SELECT d.src,
       cs.cs AS n_transitions,
       cast(sum(cast(round(-(cast(d.c AS DOUBLE) / cs.cs)
                 * ln(cast(d.c AS DOUBLE) / cs.cs) * 1e6) AS BIGINT))
            AS BIGINT) AS h_cond_fp6,
       cast(sum(cast(round(-(cast(d.c AS DOUBLE) / n.n)
                 * ln(cast(d.c AS DOUBLE) / cs.cs) * 1e6) AS BIGINT))
            AS BIGINT) AS contrib_fp6
FROM csd d JOIN cs ON cs.src = d.src CROSS JOIN n
GROUP BY d.src, cs.cs
ORDER BY d.src
"""


@register(
    "events_markov_entropy_rate",
    _ENT_ORACLE,
    tags=("events", "stats", "markov"),
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional entropy + entropy-rate contribution of the
    journey transition chain.

    Scale design: ONE (user, day)-keyed ordered window produces the
    transition stream; the (src, dst) wordcount aggregate map-side
    combines to a ≤|types|² frame, and all entropy arithmetic runs on
    that schema-bounded grid with broadcast totals.  Per-term 6dp
    fixed-point rounding BEFORE the sums keeps the integers order-free.
    """
    wday = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type", "ts", "event_id"
    )
    tr = (
        seq.withColumn("src", F.lag("event_type").over(wday))
        .where(F.col("src").isNotNull())
        .select("src", F.col("event_type").alias("dst"))
    )
    csd = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cs = csd.groupBy("src").agg(F.sum("c").cast("long").alias("cs"))
    n = csd.agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("cs")
    h_term = F.round(-p * F.log(p) * 1e6).cast("long")
    r_term = F.round(
        -(F.col("c").cast("double") / F.col("n"))
        * F.log(F.col("c").cast("double") / F.col("cs"))
        * 1e6
    ).cast("long")
    return (
        csd.join(F.broadcast(cs), "src")
        .crossJoin(F.broadcast(n))
        .select("src", F.col("cs").alias("n_transitions"), h_term.alias("ht"), r_term.alias("rt"))
        .groupBy("src", "n_transitions")
        .agg(
            F.sum("ht").cast("long").alias("h_cond_fp6"),
            F.sum("rt").cast("long").alias("contrib_fp6"),
        )
        .orderBy("src")
    )


# ===========================================================================
# Incremental-rollup queries: prove the partial-aggregate algebra
# (operators/rollup.py) against a direct full aggregation, cross-engine.
# ===========================================================================

# ---------------------------------------------------------------------------
# Two-batch incremental refresh: split events into two ingest batches (by
# event_id parity — any split works, that's the point), build partials
# per batch, merge, finalize at (day, type) grain.  The oracle is the
# DIRECT aggregation over all raw events: if partial-merge is exact, the
# two are bit-identical.  Scale: each refresh aggregates only its batch;
# the merge handles |keys × days| rows, never raw history.
# ---------------------------------------------------------------------------

_INC_ORACLE = """
SELECT cast(ts AS DATE) AS event_date, event_type,
       count(*) AS n_rows,
       round(cast(sum(cast(round(value * 1e6) as bigint)) as double) / 1e6, 2) AS total_value,
       round(cast(sum(cast(round(value * 1e6) as bigint)) as double) / 1e6 / count(*), 6) AS avg_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY event_date, event_type
"""


@register("rollup_incremental_two_batch_merge", _INC_ORACLE, tags=("events", "agg", "rollup"))
def rollup_incremental_two_batch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("event_date"), "event_type", "value", "event_id"
    )
    keys = ["event_date", "event_type"]
    batch1 = partial_rollup(ev.filter(F.col("event_id") % 2 == 0), keys, "value")
    batch2 = partial_rollup(ev.filter(F.col("event_id") % 2 == 1), keys, "value")
    return finalize(batch1.unionByName(batch2), keys)


# ---------------------------------------------------------------------------
# Grain coarsening from the SAME partials: weekly totals derived by
# re-merging the daily partials (no second pass over raw events) — the
# hypertable "rollup of a rollup".  Oracle aggregates raw directly at the
# weekly grain; equality proves partials lose nothing across grains.
# ---------------------------------------------------------------------------

_WEEKLY_ORACLE = """
SELECT cast(date_trunc('week', ts) AS DATE) AS week_start, event_type,
       count(*) AS n_rows,
       round(cast(sum(cast(round(value * 1e6) as bigint)) as double) / 1e6, 2) AS total_value,
       round(cast(sum(cast(round(value * 1e6) as bigint)) as double) / 1e6 / count(*), 6) AS avg_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY week_start, event_type
"""


@register("rollup_weekly_from_daily_partials", _WEEKLY_ORACLE, tags=("events", "agg", "rollup"))
def rollup_weekly_from_daily_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("event_date"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start"),
        "event_type",
        "value",
    )
    daily = partial_rollup(ev, ["week_start", "event_date", "event_type"], "value")
    return finalize(daily, ["week_start", "event_type"])


# ===========================================================================
# Oracle-paired STATISTICS queries — trend regression and categorical
# independence over the event stream.
#
# These extend the engine's analytics surface (z-test, correlation, MAD,
# anomaly z-scores) with the two classic remaining primitives a monitoring
# / experimentation stack needs:
#
# * ``events_trend_ols_daily`` — ordinary-least-squares trend (slope /
#   intercept / R²) of daily event volume per type.  The reference engine's
#   users compute exactly this kind of per-series drift from the event
#   store (reference: the per-topic stats surface, src/events-agency.c —
#   we generalize it to a regression, the standard "is volume trending"
#   question).
# * ``events_chi_square_type_dow`` — Pearson chi-square independence test
#   of event_type × day-of-week, the categorical counterpart of the Welch
#   z-test already in the catalog.
#
# Determinism contract (same as events_ab_value_ztest): every moment is an
# EXACT int64 accumulated distributively (map-side combine, order-free);
# the final statistic is a FIXED chain of IEEE ops on those identical
# integers, so Spark and DuckDB agree bitwise.  Magnitude audit in the
# comments at each site.
#
# Scale: both queries are one map-side-combining aggregate over the fact
# table down to a bounded summary (days×types / types×dows), then
# summary-sized math.  Nothing data-sized crosses a shuffle except the
# pre-aggregation's combiner output.
# ===========================================================================

# ---------------------------------------------------------------------------
# OLS daily trend per event type.
#
# x = epoch-day (int), y = daily event count (int).  Classic closed form
# on exact integer moments:
#   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
#   intercept = (Σy − slope·Σx) / n
#   R² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
#
# Magnitudes at sf0.1 (6e5 events / ~30 days / 5 types): x ≈ 2.06e4,
# y ≤ ~2e4; Σx² ≈ 1.3e10, n·Σxy ≈ 7e10, Σx·Σy ≈ 7.4e10 — all int64.
# The R² NUMERATOR squared would overflow (≈5e21), so the square happens
# in doubles ON THE IDENTICAL int64 difference — same IEEE chain both
# engines.  n here is the number of DAYS (calendar-bounded, never
# data-bounded), so the moments stay int64 at any data scale.
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH daily AS (
  SELECT event_type,
         cast(cast(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
         count(*) AS y
  FROM events
  GROUP BY 1, 2
), m AS (
  SELECT event_type,
         count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM daily
  GROUP BY 1
)
SELECT event_type,
       n AS n_days,
       round(cast(n * sxy - sx * sy AS DOUBLE)
             / cast(n * sxx - sx * sx AS DOUBLE), 9) AS slope,
       round((cast(sy AS DOUBLE)
              - (cast(n * sxy - sx * sy AS DOUBLE)
                 / cast(n * sxx - sx * sx AS DOUBLE))
                * cast(sx AS DOUBLE)) / cast(n AS DOUBLE), 6) AS intercept,
       round(cast(n * sxy - sx * sy AS DOUBLE)
             * cast(n * sxy - sx * sy AS DOUBLE)
             / (cast(n * sxx - sx * sx AS DOUBLE)
                * cast(n * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM m
ORDER BY event_type
"""


@register("events_trend_ols_daily", _OLS_ORACLE, tags=("events", "stats", "timeseries"))
def events_trend_ols_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of daily event counts (slope/intercept/R²)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den_x
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(slope, 9).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            6,
        ).alias("intercept"),
        F.round(num * num / (den_x * den_y), 6).alias("r2"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Pearson chi-square independence: event_type × day-of-week.
#
# dow = (epoch_day + 3) % 7 → 0 = Monday (1970-01-01 was a Thursday),
# pure integer arithmetic so both engines bucket identically (DuckDB's
# dayofweek() and Spark's dayofweek() disagree on numbering).
#
# Per-cell contribution, the N-scaled identity form that needs no
# rational expected value:   (O·N − R·C)² / (N·R·C)
# O·N ≤ 1.2e10, R·C ≤ 1.03e10 → the difference is int64-exact; the
# denominator N·R·C ≤ 6.2e15 is int64-exact; the SQUARE happens in
# doubles on those identical integers (same discipline as R² above).
# The total is an ORDER-FREE integer sum of the per-cell contributions
# rounded to 1e-6 (35 bounded cells), sidestepping float-sum ordering.
# Degrees of freedom computed from the observed margins, not hardcoded.
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH obs AS (
  SELECT event_type,
         (cast(cast(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 3) % 7 AS dow,
         count(*) AS o
  FROM events
  GROUP BY 1, 2
), margins AS (
  SELECT event_type, dow, o,
         sum(o) OVER (PARTITION BY event_type) AS r,
         sum(o) OVER (PARTITION BY dow) AS c,
         sum(o) OVER () AS n
  FROM obs
), cells AS (
  SELECT event_type, dow, o,
         round(cast(r * c AS DOUBLE) / cast(n AS DOUBLE), 6) AS expected,
         round(cast(o * n - r * c AS DOUBLE) * cast(o * n - r * c AS DOUBLE)
               / (cast(n AS DOUBLE) * cast(r AS DOUBLE) * cast(c AS DOUBLE)),
               6) AS contrib
  FROM margins
)
SELECT event_type, dow, o AS observed, expected, contrib,
       round(cast(sum(cast(round(contrib * 1e6) AS BIGINT)) OVER ()
                  AS DOUBLE) / 1e6, 6) AS chi2_total,
       cast((count(DISTINCT event_type) OVER () - 1)
            * (count(DISTINCT dow) OVER () - 1) AS BIGINT) AS dof
FROM cells
ORDER BY event_type, dow
"""


@register(
    "events_chi_square_type_dow",
    _CHI2_ORACLE,
    tags=("events", "stats", "agg"),
)
def events_chi_square_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event_type × day-of-week, per-cell
    contributions plus the order-free integer-summed total."""
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type",
        (
            (F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long") + 3) % 7
        ).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    # Margins as TINY aggregates of the ≤35-row cell table re-joined by
    # broadcast — no unpartitioned windows anywhere in the plan (the
    # data-sized work ended at the `obs` agg; everything below is
    # margin-cardinality math).
    rows = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    margins = obs.join(F.broadcast(rows), "event_type").join(
        F.broadcast(cols), "dow"
    )
    tot = margins.agg(
        F.sum("o").alias("n"),
        (F.countDistinct("event_type") - 1).cast("long")
        * (F.countDistinct("dow") - 1).cast("long"),
    )
    n_val, dof_val = tot.first()  # 1-row scalar probe (bounded margins)
    num = (F.col("o") * F.lit(n_val) - F.col("r") * F.col("c")).cast("double")
    cells = margins.select(
        "event_type",
        "dow",
        "o",
        F.round(
            (F.col("r") * F.col("c")).cast("double") / F.lit(float(n_val)), 6
        ).alias("expected"),
        F.round(
            num
            * num
            / (
                F.lit(float(n_val))
                * F.col("r").cast("double")
                * F.col("c").cast("double")
            ),
            6,
        ).alias("contrib"),
    )
    chi2 = (
        cells.agg(F.sum(F.round(F.col("contrib") * 1e6).cast("long")).alias("s"))
        .first()["s"]
    )
    return cells.select(
        F.col("event_type"),
        "dow",
        F.col("o").alias("observed"),
        "expected",
        "contrib",
        F.round(F.lit(chi2).cast("double") / 1e6, 6).alias("chi2_total"),
        F.lit(dof_val).cast("long").alias("dof"),
    ).orderBy("event_type", "dow")
