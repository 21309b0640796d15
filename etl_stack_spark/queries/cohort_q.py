"""CH1 — weekly cohort retention over the event stream: users cohorted
by first-seen week, activity bucketed by week offset, retention as the
share of the cohort active N weeks later. "Active" = made a high-value
purchase that week (the synthetic stream has every user active weekly,
so raw activity is a degenerate all-ones matrix — the value-qualified
event keeps the retention surface varied at every scale). The canonical product-analytics
rollup (two aggregations + one join; both engines truncate weeks to
Monday and difference them in whole days, so the matrix is exact)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.queries import register
from etl_stack_spark.session import load_table

_CH1_ORACLE = """
WITH q AS MATERIALIZED (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase' AND value > 80
),
firsts AS MATERIALIZED (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM q GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
  FROM q
),
sizes AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM firsts GROUP BY cohort_week),
ret AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS INT) AS week_offset,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
  FROM active a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT strftime(r.cohort_week, '%Y-%m-%d') AS cohort_week,
       r.week_offset, r.n_active, s.cohort_size,
       round(r.n_active / s.cohort_size, 4) AS retention
FROM ret r JOIN sizes s USING (cohort_week)
"""


@register("ch1_cohort_retention", _CH1_ORACLE)
def ch1_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 80)
    )
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            ).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return ret.join(F.broadcast(sizes), "cohort_week").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset", "n_active", "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 4).alias("retention"),
    )
