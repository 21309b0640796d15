"""Temporal-join, pivot, and distinct-agg queries over ``events``.

The as-of oracle uses DuckDB's native ASOF JOIN — a strong independent
check that the union+window implementation reproduces real as-of
semantics (<= match, latest prior row wins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.temporal import (
    asof_join,
    interval_concurrency,
    range_join,
    seasonal_decompose,
)
from etl_stack_spark.queries import register
from etl_stack_spark.session import load_table

# one row per (user, ts) on the right side keeps both engines' tie
# handling out of play (see operators/temporal.py docstring)
_SIGNUPS = """
  SELECT user_id, ts, MAX(value) AS signup_value
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
"""
_PURCHASES = "SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'"


# ---------------------------------------------------------------------------
# AJ1 — as-of join: each purchase ↤ latest prior-or-equal signup per user
# ---------------------------------------------------------------------------
_AJ1_ORACLE = f"""
WITH signups AS ({_SIGNUPS}), purchases AS ({_PURCHASES})
SELECT p.event_id, p.user_id, s.signup_value AS signup_value_asof
FROM purchases p
ASOF LEFT JOIN signups s ON p.user_id = s.user_id AND s.ts <= p.ts
"""


@register("aj1_asof_join", _AJ1_ORACLE)
def aj1_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    signups = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(purchases, signups, on="user_id", right_value_cols=["signup_value"])
    return out.select("event_id", "user_id", "signup_value_asof")


# ---------------------------------------------------------------------------
# RJ1 — range join: purchases falling inside [signup, signup + 2h)
# ---------------------------------------------------------------------------
_RJ1_ORACLE = """
WITH iv AS (
  SELECT user_id, ts AS start_ts, ts + INTERVAL '2 hours' AS end_ts
  FROM events WHERE event_type = 'signup'
),
p AS (SELECT event_id, user_id AS p_user, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, iv.user_id, iv.start_ts
FROM p JOIN iv ON p.ts >= iv.start_ts AND p.ts < iv.end_ts
"""


@register("rj1_range_join", _RJ1_ORACLE)
def rj1_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    intervals = events.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        F.timestamp_add("HOUR", F.lit(2), F.col("ts")).alias("end_ts"),
    )
    points = events.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), "ts"
    )
    joined = range_join(points, intervals, bucket="1 hour")
    return joined.select("event_id", "user_id", "start_ts")


# ---------------------------------------------------------------------------
# PV1 — pivot: users × event types matrix (fixed column set)
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PV1_ORACLE = """
SELECT user_id,
  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
FROM events GROUP BY user_id
"""


@register("pv1_pivot", _PV1_ORACLE)
def pv1_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # explicit value list → no discovery pass over the data (scale rule)
    out = (
        events.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    for t in _EVENT_TYPES:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)))
    return out


# ---------------------------------------------------------------------------
# ADX1 — distinct aggregation (net-new; the reference has none)
# ---------------------------------------------------------------------------
_ADX1_ORACLE = """
SELECT event_type,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


@register("adx1_count_distinct", _ADX1_ORACLE)
def adx1_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# UPV1 — unpivot (melt): pv1's wide matrix back to long form. Spark's
# native DataFrame.unpivot (an Expand node — one pass, no shuffle beyond
# pv1's own aggregation); oracle is the portable UNION ALL form.
# ---------------------------------------------------------------------------
_UPV1_ORACLE = f"""
WITH wide AS MATERIALIZED ({_PV1_ORACLE})
SELECT user_id, 'click' AS event_type, click AS n FROM wide
UNION ALL SELECT user_id, 'error', error FROM wide
UNION ALL SELECT user_id, 'purchase', purchase FROM wide
UNION ALL SELECT user_id, 'signup', signup FROM wide
UNION ALL SELECT user_id, 'view', view FROM wide
"""


@register("upv1_unpivot", _UPV1_ORACLE)
def upv1_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = pv1_pivot(spark, sf_dir)
    return wide.unpivot("user_id", _EVENT_TYPES, "event_type", "n")


# ---------------------------------------------------------------------------
# OL1 — sweep-line interval concurrency: treat each event as a session
# of `value` minutes (floored to whole seconds, an IEEE-identical
# double multiply in both engines) and find each type's peak overlap
# and when it first happens. The O(n log n) answer to the capacity
# question a self-range-join makes quadratic.
# ---------------------------------------------------------------------------

_OL1_ORACLE = """
WITH iv AS MATERIALIZED (
  SELECT event_type, ts AS s,
         ts + to_seconds(CAST(floor(value * 60) AS BIGINT)) AS e
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
pts AS (
  SELECT event_type, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT event_type, e AS t, -1 AS d FROM iv
),
c AS (
  SELECT event_type, t,
         SUM(d) OVER (PARTITION BY event_type ORDER BY t ASC, d ASC
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM pts
),
m AS (
  SELECT event_type, t, c, MAX(c) OVER (PARTITION BY event_type) AS mc FROM c
)
SELECT event_type,
  CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals,
  CAST(MAX(c) AS BIGINT) AS max_concurrent,
  MIN(CASE WHEN c = mc THEN t END) AS peak_at
FROM m GROUP BY event_type
"""


@register("ol1_interval_concurrency", _OL1_ORACLE)
def ol1_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # duration as LONG, matching the oracle's to_seconds(BIGINT) width
    iv = ev.filter(F.col("ts").isNotNull() & F.col("value").isNotNull()).select(
        "event_type",
        F.col("ts").alias("start_ts"),
        F.timestamp_add(
            "SECOND", F.floor(F.col("value") * 60).cast("long"), F.col("ts")
        ).alias("end_ts"),
    )
    return interval_concurrency(
        iv, start_col="start_ts", end_col="end_ts", group_cols=("event_type",)
    )


# ---------------------------------------------------------------------------
# STL1 — additive seasonal-trend decomposition of the hourly event-value
# series (moving-average form, daily period): y → trend (centered ±12h
# rolling mean, clipped edges) + seasonal (hour-of-day means of the
# detrended series) + residual. Everything in integer milli-units with
# floor(SUM/COUNT) means — one double division of exact integers per
# mean, so the full decomposition is oracle-exact (no float-sum-order
# hazard anywhere).
# ---------------------------------------------------------------------------

_STL1_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_centi,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
y AS (
  SELECT event_type, hr,
         CAST(floor(CAST(sum_centi * 10 AS DOUBLE) / cnt) AS BIGINT) AS y_milli
  FROM h
),
t AS (
  SELECT event_type, hr, y_milli,
    CAST(floor(
      CAST(SUM(y_milli) OVER w AS DOUBLE) / COUNT(*) OVER w
    ) AS BIGINT) AS trend_milli
  FROM y
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
s AS (
  SELECT event_type, hr, y_milli, trend_milli,
    CAST(floor(
      CAST(SUM(y_milli - trend_milli) OVER ws AS DOUBLE) / COUNT(*) OVER ws
    ) AS BIGINT) AS seasonal_milli
  FROM t
  WINDOW ws AS (PARTITION BY event_type, extract(hour FROM hr))
)
SELECT event_type, hr, y_milli, trend_milli, seasonal_milli,
       y_milli - trend_milli - seasonal_milli AS resid_milli
FROM s
"""


@register("stl1_seasonal_decompose", _STL1_ORACLE)
def stl1_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "sum_centi"
        ),
        F.count(F.lit(1)).alias("cnt"),
    )
    y = h.select(
        "event_type",
        "hr",
        F.floor((F.col("sum_centi") * 10).cast("double") / F.col("cnt"))
        .cast("long")
        .alias("y_milli"),
    )
    return seasonal_decompose(y, group_cols=("event_type",), hour_col="hr")
