"""Analytic-function coverage: running windows (lag/lead/cumsum), rollup,
percentiles, and time-series gap filling — engine surface any analytics
user of the platform expects, each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_stack_spark.queries import register
from etl_stack_spark.session import load_table

# ---------------------------------------------------------------------------
# WF1 — running/cumulative window functions per user over event time
# ---------------------------------------------------------------------------
_WF1_ORACLE = """
SELECT event_id, user_id,
  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING), 2) AS running_total,
  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
  LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq
FROM events
"""


@register("wf1_running_windows", _WF1_ORACLE)
def wf1_running_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias(
            "running_total"
        ),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.row_number().over(w).alias("seq"),
    )


# ---------------------------------------------------------------------------
# RU1 — rollup (subtotals + grand total); GROUPING() disambiguates the
# null-vs-subtotal rows exactly as ANSI does.
# ---------------------------------------------------------------------------
_RU1_ORACLE = """
SELECT
  CASE WHEN GROUPING(l_returnflag) = 1 THEN '<all>' ELSE l_returnflag END AS returnflag,
  CASE WHEN GROUPING(l_linestatus) = 1 THEN '<all>' ELSE l_linestatus END AS linestatus,
  ROUND(SUM(l_extendedprice), 2) AS total,
  CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("ru1_rollup", _RU1_ORACLE)
def ru1_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.grouping("l_returnflag").alias("g1"),
        F.grouping("l_linestatus").alias("g2"),
    )
    return out.select(
        F.when(F.col("g1") == 1, "<all>").otherwise(F.col("l_returnflag")).alias("returnflag"),
        F.when(F.col("g2") == 1, "<all>").otherwise(F.col("l_linestatus")).alias("linestatus"),
        "total",
        "n",
    )


_RU2_ORACLE = """
SELECT
  CASE WHEN GROUPING(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS status,
  CASE WHEN GROUPING(o_orderpriority) = 1 THEN '<all>' ELSE o_orderpriority END AS priority,
  CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("ru2_cube", _RU2_ORACLE)
def ru2_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.grouping("o_orderstatus").alias("g1"),
        F.grouping("o_orderpriority").alias("g2"),
    )
    return out.select(
        F.when(F.col("g1") == 1, "<all>").otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(F.col("g2") == 1, "<all>").otherwise(F.col("o_orderpriority")).alias("priority"),
        "n",
    )


# ---------------------------------------------------------------------------
# PC1 — exact percentiles (interpolated): Spark percentile == DuckDB
# quantile_cont semantics.
# ---------------------------------------------------------------------------
_PC1_ORACLE = """
SELECT o_orderstatus,
  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
  ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderstatus
"""


@register("pc1_percentiles", _PC1_ORACLE)
def pc1_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# TS1 — time-series resample + gap fill: hourly spine per user (first→last
# active hour), event counts left-joined; missing hours = 0.
# Spine = sequence+explode (distributed generate_series).
# ---------------------------------------------------------------------------
_TS1_ORACLE = """
WITH bounds AS (
  SELECT user_id,
    time_bucket(INTERVAL '1 hour', MIN(ts)) AS h0,
    time_bucket(INTERVAL '1 hour', MAX(ts)) AS h1
  FROM events GROUP BY user_id
),
spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS hour
  FROM bounds
),
actual AS (
  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT s.user_id, s.hour, COALESCE(a.n, 0) AS n
FROM spine s LEFT JOIN actual a ON s.user_id = a.user_id AND s.hour = a.hour
"""


_FN1_ORACLE = """
WITH first_signup AS MATERIALIZED (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
converted AS (
  SELECT DISTINCT f.user_id
  FROM first_signup f JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase'
   AND e.ts >= f.signup_ts AND e.ts < f.signup_ts + INTERVAL '1 hour'
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_signed_up,
       CAST(COUNT(c.user_id) AS BIGINT) AS n_converted,
       ROUND(COUNT(c.user_id) * 1e0 / COUNT(*), 6) AS conversion_rate
FROM first_signup f LEFT JOIN converted c ON f.user_id = c.user_id
"""


@register("fn1_funnel_conversion", _FN1_ORACLE)
def fn1_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel: share of users purchasing within 1 h of their FIRST signup —
    the event-sequence analysis shape (first-touch + windowed follow-up)."""
    events = load_table(spark, sf_dir, "events")
    first_signup = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        first_signup.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("signup_ts"))
            & (F.col("p_ts") < F.timestamp_add("HOUR", F.lit(1), F.col("signup_ts"))),
            "left_semi",
        )
        .select("user_id")
    )
    joined = first_signup.join(
        converted.withColumn("is_conv", F.lit(1)), "user_id", "left"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_signed_up"),
        F.count("is_conv").alias("n_converted"),
        F.round(F.count("is_conv") * 1.0 / F.count(F.lit(1)), 6).alias("conversion_rate"),
    )


_U3_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@register("u3_intersect", _U3_ORACLE)
def u3_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    open_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    ).select(F.col("o_custkey").alias("c_custkey"))
    return cust.intersect(open_orders)


_U4_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@register("u4_except", _U4_ORACLE)
def u4_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    open_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    ).select(F.col("o_custkey").alias("c_custkey"))
    return cust.exceptAll(open_orders).distinct()


_JR1_ORACLE = """
SELECT event_id,
  TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k,
  (json_valid(props)) AS is_valid
FROM events
"""


@register("jr1_json_schema_on_read", _JR1_ORACLE)
def jr1_json_schema_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the events.props JSON column: typed extraction
    with graceful null on malformed input (the engine's JSONB surface)."""
    events = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k int")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("int").alias("k"),
        parsed.isNotNull().alias("is_valid"),
    )


@register("ts1_resample_gapfill", _TS1_ORACLE)
def ts1_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = events.groupBy("user_id").agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
    )
    actual = events.groupBy("user_id", hour.alias("hour")).agg(
        F.count(F.lit(1)).alias("n_actual")
    )
    return spine.join(actual, ["user_id", "hour"], "left").select(
        "user_id", "hour", F.coalesce("n_actual", F.lit(0)).alias("n")
    )


# ---------------------------------------------------------------------------
# WF2 — rank-family window breadth: ntile / percent_rank / cume_dist.
# The ORDER BY is made unique (acctbal, custkey) so NTILE's tie-breaking
# is deterministic across engines.
# ---------------------------------------------------------------------------
_WF2_ORACLE = """
SELECT c_custkey, c_mktsegment,
  CAST(NTILE(4) OVER w AS INT) AS quartile,
  ROUND(percent_rank() OVER w, 9) AS pct_rank,
  ROUND(cume_dist() OVER w, 9) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


@register("wf2_rank_family", _WF2_ORACLE)
def wf2_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )


# ---------------------------------------------------------------------------
# RU3 — GROUPING SETS with asymmetric sets (neither rollup nor cube):
# per-status totals, per-priority totals, and the grand total only.
# ---------------------------------------------------------------------------
_RU3_ORACLE = """
SELECT
  CASE WHEN GROUPING(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS status,
  CASE WHEN GROUPING(o_orderpriority) = 1 THEN '<all>' ELSE o_orderpriority END AS priority,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("ru3_grouping_sets", _RU3_ORACLE)
def ru3_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ru3")
    return spark.sql(
        """
        SELECT
          CASE WHEN GROUPING(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS status,
          CASE WHEN GROUPING(o_orderpriority) = 1 THEN '<all>' ELSE o_orderpriority END AS priority,
          COUNT(*) AS n,
          SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM orders_ru3
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# QS1 — EXACT quantiles by two-level histogram inversion, the 100 TB
# shape for medians: pc1's percentile() is a holistic aggregate (per-group
# sort); this computes exact quantiles with ONE groupBy histogram on
# integer cents + a cumulative sum that never needs a global sort. The
# value-level window is PARTITIONED by a coarse $1000 bucket; only the
# bucket totals (bounded by the value universe / 100k, not by row count)
# pass through the single-partition offset window. Smallest value whose
# cumulative count covers ceil(q·N) — integer-exact in both engines.
# ---------------------------------------------------------------------------
_QS1_ORACLE = """
WITH cents AS MATERIALIZED (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
hist AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM cents GROUP BY c),
cum AS (SELECT c, SUM(cnt) OVER (ORDER BY c) AS cum_cnt FROM hist),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cents),
targets(q_label, q_num) AS (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
SELECT q_label, CAST(MIN(c) AS BIGINT) AS value_cents
FROM cum, tot, targets
WHERE cum_cnt * 100 >= q_num * n
GROUP BY q_label
"""


@register("qs1_exact_quantiles_histogram", _QS1_ORACLE)
def qs1_exact_quantiles_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"))
    hist = cents.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    bhist = hist.withColumn("b", F.expr("c div 100000"))
    btot = bhist.groupBy("b").agg(F.sum("cnt").alias("bcnt"))
    # exclusive prefix over bucket totals: tiny frame, single partition OK
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select("b", F.coalesce(F.sum("bcnt").over(wb), F.lit(0)).alias("off"))
    wc = Window.partitionBy("b").orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = bhist.join(F.broadcast(boff), "b").select(
        "c", (F.col("off") + F.sum("cnt").over(wc)).alias("cum_cnt")
    )
    tot = cents.agg(F.count(F.lit(1)).alias("n"))
    targets = spark.createDataFrame(
        [("p50", 50), ("p90", 90), ("p99", 99)], "q_label string, q_num long"
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(targets))
        .filter(F.col("cum_cnt") * 100 >= F.col("q_num") * F.col("n"))
        .groupBy("q_label")
        .agg(F.min("c").alias("value_cents"))
    )


# ---------------------------------------------------------------------------
# EWM1 — exponentially weighted moving average of hourly event volume,
# halving decay (a=1/2) over a trailing-8 window. Weights 2^7..2^0 are
# exact BIGINT, the division is integer div of milli-units, and the
# denominator adapts to the observations actually present at the series
# head — so the smoother is bit-identical cross-engine with NO float in
# the pipeline (the an1/lm1 portability discipline; float EWMA recursions
# drift by accumulation order). Long-division range: num*1000 stays
# under 2^63 to ~3.6e16 events/hour — never binding.
# ---------------------------------------------------------------------------
def _ewm1_terms() -> tuple[str, str]:
    num, den = [], []
    for j in range(8):
        w = 1 << (7 - j)
        num.append(f"COALESCE(LAG(cnt, {j}) OVER win * {w}, 0)")
        den.append(f"CASE WHEN LAG(cnt, {j}) OVER win IS NULL THEN 0 ELSE {w} END")
    return " + ".join(num), " + ".join(den)


_EWM1_NUM, _EWM1_DEN = _ewm1_terms()

_EWM1_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour, cnt,
  CAST(({_EWM1_NUM}) * 1000 // ({_EWM1_DEN}) AS BIGINT) AS ewma_milli
FROM hourly
WINDOW win AS (PARTITION BY event_type ORDER BY hour)
"""


@register("ewm1_halving_ewma", _EWM1_ORACLE)
def ewm1_halving_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("hour")
    num = sum(
        (F.coalesce(F.lag("cnt", j).over(w), F.lit(0)) * F.lit(1 << (7 - j))
         for j in range(8)),
        F.lit(0),
    )
    den = sum(
        (F.when(F.lag("cnt", j).over(w).isNull(), 0).otherwise(1 << (7 - j))
         for j in range(8)),
        F.lit(0),
    )
    return hourly.select(
        "event_type",
        "hour",
        "cnt",
        (num.cast("long") * 1000).cast("long").alias("_n"),
        den.cast("long").alias("_d"),
    ).select(
        "event_type", "hour", "cnt",
        F.expr("_n div _d").alias("ewma_milli"),
    )


# ---------------------------------------------------------------------------
# SES1 — batch sessionization: gap-based visits from the event stream
# (the batch twin of stw3's streaming session window). Gap compares are
# exact integer epoch-microseconds in both engines (the wf3 float-epoch
# trap never enters), 8h chosen from the measured inter-event gap
# distribution so sessions are multi-event at every scale factor.
# ---------------------------------------------------------------------------
_SES1_GAP_US = 8 * 3600 * 1_000_000

# the ONE sessionization CTE prefix (boundary + running session counter),
# shared by every oracle that builds on sessions (ses1, pa1) so a gap-rule
# or tie-break change can never drift between them
_SESSION_CTES = f"""
WITH tagged AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             > {_SES1_GAP_US}
         THEN 1 ELSE 0 END AS boundary
  FROM events
),
seq AS (
  SELECT user_id, event_id, event_type, ts_us,
         CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM tagged
)"""

_SES1_ORACLE = f"""{_SESSION_CTES}
SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS duration_us
FROM seq GROUP BY user_id, session_seq
"""


@register("ses1_sessionize", _SES1_ORACLE)
def ses1_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.sessions import session_stats

    events = load_table(spark, sf_dir, "events")
    return session_stats(
        events,
        "user_id",
        "ts",
        gap_seconds=_SES1_GAP_US // 1_000_000,  # one constant, both engines
        order_tiebreak="event_id",
    )


# ---------------------------------------------------------------------------
# AT1 — last-touch attribution: every purchase is credited to the most
# recent preceding touch event (click/view) of the same user — the
# marketing-analytics complement of fn1's funnel and ses1's visits. One
# window pass (exclusive preceding frame + IGNORE NULLS last_value), one
# shuffle on the entity key; no self-join of the event stream.
# ---------------------------------------------------------------------------
_AT1_ORACLE = """
SELECT event_id, user_id, touch_type FROM (
  SELECT event_id, user_id, event_type,
         last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
  FROM events
) WHERE event_type = 'purchase'
"""


@register("at1_last_touch_attribution", _AT1_ORACLE)
def at1_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        events.withColumn("touch_type", touch)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "touch_type")
    )


# ---------------------------------------------------------------------------
# RFM1 — recency/frequency/monetary customer segmentation: per-customer
# order stats quintiled by ntile(5) with a deterministic custkey
# tie-break (ntile is portable only under a TOTAL order). Recency is an
# integer day index (epoch_us DIV) against a fixed anchor — no
# timezone-dependent date math. Money in integer cents.
#
# Scale note: the quintile windows are GLOBAL (single-partition) over
# the per-customer stats — dimension-cardinality rows, not the order
# stream, so fine to ~10^7 customers. Past that, swap ntile for
# breakpoint bucketing: exact P20/P40/P60/P80 via qs1's histogram
# inversion, then a comparison CASE — same segments up to tie placement,
# no global sort (documented in SCALE.md single-node artifacts).
# ---------------------------------------------------------------------------
_RFM_ANCHOR_DAY = 11566  # 2001-09-01, just past the data's max order date

_RFM1_ORACLE = f"""
WITH base AS (
  SELECT o_custkey AS custkey,
         {_RFM_ANCHOR_DAY} - MAX(epoch_us(o_orderdate) // 86400000000) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey
)
SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days, frequency, monetary_cents,
       CAST(ntile(5) OVER (ORDER BY recency_days, custkey) AS INT) AS r_score,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey) AS INT) AS f_score,
       CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, custkey) AS INT) AS m_score
FROM base
"""


@register("rfm1_customer_segments", _RFM1_ORACLE)
def rfm1_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        (
            F.lit(_RFM_ANCHOR_DAY)
            - F.max(
                F.expr(
                    # NTZ parquet timestamp: cast under the UTC session TZ
                    # = DuckDB's naive epoch_us
                    "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"
                )
            )
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    return base.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(Window.orderBy("recency_days", "custkey")).alias("r_score"),
        F.ntile(5).over(Window.orderBy(F.desc("frequency"), "custkey")).alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_cents"), "custkey"))
        .alias("m_score"),
    )


# ---------------------------------------------------------------------------
# TR1 — per-key linear trend: the least-squares slope of daily revenue
# over time, closed-form from four integer aggregates (n, Σt, Σy, Σty,
# Σt²) — one daily rollup + one per-key aggregate, no iteration, no
# window. All arithmetic is BIGINT: t is a 0-based day index per key,
# y is integer cents, slope is milli-cents/day via DIV; single-day keys
# yield NULL (denominator 0). Overflow bound: the widest intermediate is
# 1000·n·Σty ≤ 1000·n³·y_max (Σty ≤ n·t_max·y_max, t_max < n after the
# rebase), so n³·y_max must stay under ~9.2·10^15 — e.g. 2,000 days of
# $10k/day (10^6 cents) or ~200 days of $10M/day (10^9 cents). Past
# that, widen the products to DECIMAL(38,0) in BOTH engines; note Spark
# runs ANSI-off and would wrap silently where DuckDB raises, so the
# bound is a contract, not a runtime check.
# ---------------------------------------------------------------------------
_TR1_ORACLE = """
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day_idx,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
rel AS (
  SELECT event_type,
         day_idx - MIN(day_idx) OVER (PARTITION BY event_type) AS t,
         cents AS y
  FROM daily
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * y) AS BIGINT) AS sty, CAST(SUM(t * t) AS BIGINT) AS stt
  FROM rel GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN n * stt - st * st = 0 THEN NULL
            ELSE CAST((1000 * (n * sty - st * sy)) // (n * stt - st * st) AS BIGINT)
       END AS slope_millicents_per_day
FROM agg
"""


@register("tr1_trend_slope", _TR1_ORACLE)
def tr1_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day_idx"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("long").alias("cents")
    )
    w = Window.partitionBy("event_type")
    rel = daily.select(
        "event_type",
        (F.col("day_idx") - F.min("day_idx").over(w)).alias("t"),
        F.col("cents").alias("y"),
    )
    agg = rel.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
    )
    denom = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    return agg.select(
        "event_type",
        "n",
        F.when(denom == 0, F.lit(None))
        .otherwise(F.expr(
            "CAST((1000 * (n * sty - st * sy)) DIV (n * stt - st * st) AS BIGINT)"
        ))
        .alias("slope_millicents_per_day"),
    )


# ---------------------------------------------------------------------------
# RFM2 — rfm1's EXACT output through the scalable ranking path: every
# quintile comes from global_row_number (range repartition + local sorts
# + broadcast offsets — no single-partition window) and the closed-form
# ntile_from_rank bucket. Same oracle as rfm1, so a hash match proves
# the distributed rank is exact — this closes rfm1's documented
# "global ntile past ~10^7 customers" scale gap with a verified twin
# rather than an approximation.
# ---------------------------------------------------------------------------
@register("rfm2_segments_scalable", _RFM1_ORACLE)
def rfm2_segments_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.rank import global_row_number, ntile_from_rank

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        (
            F.lit(_RFM_ANCHOR_DAY)
            - F.max(
                F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")
            )
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    ).localCheckpoint(eager=False)  # three rank passes + a count share it
    n = base.count()
    scores = {
        "r_score": [F.col("recency_days"), F.col("custkey")],
        "f_score": [F.col("frequency").desc(), F.col("custkey")],
        "m_score": [F.col("monetary_cents").desc(), F.col("custkey")],
    }
    out = base
    for name, order in scores.items():
        ranked = global_row_number(out, order, rank_col="_gr")
        out = ranked.withColumn(name, ntile_from_rank("_gr", n, 5)).drop("_gr")
    return out.select(
        "custkey", "recency_days", "frequency", "monetary_cents",
        "r_score", "f_score", "m_score",
    )


# ---------------------------------------------------------------------------
# PA1 — the product-analytics composition (the funnel family's llm1):
# sessionize (ses1 machinery) → per-session first event type + converted
# flag → per-(first_type, converted) session counts and total dwell.
# Everything stays inside the ONE user-key shuffle until the final
# group-cardinality rollup; durations are exact integer microseconds.
# ---------------------------------------------------------------------------
_PA1_ORACLE = f"""{_SESSION_CTES},
sess AS (
  SELECT user_id, session_seq,
         arg_min(event_type, lpad(CAST(ts_us AS VARCHAR), 20, '0')
                          || lpad(CAST(event_id AS VARCHAR), 20, '0')) AS first_type,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
         CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS dur
  FROM seq GROUP BY user_id, session_seq
)
SELECT first_type, CAST(converted AS INT) AS converted,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(dur) AS BIGINT) AS total_duration_us
FROM sess GROUP BY first_type, converted
"""


@register("pa1_session_conversion", _PA1_ORACLE)
def pa1_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.sessions import sessionize

    events = load_table(spark, sf_dir, "events")
    tagged = sessionize(
        events, "user_id", "ts", _SES1_GAP_US // 1_000_000, "event_id"
    ).withColumn("ts_us", F.unix_micros(F.col("ts")))
    # per-session facts as ONE partial-aggregable groupBy (no window
    # passes + distinct): first_type via min_by on a zero-padded
    # (ts_us, event_id) string sortkey — deterministic under ties and
    # representable in both engines (a BIGINT composite would overflow)
    sortkey = F.concat(
        F.lpad(F.col("ts_us").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    sess = tagged.groupBy("user_id", "session_seq").agg(
        F.min_by("event_type", sortkey).alias("first_type"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
        ).alias("converted"),
        (F.max("ts_us") - F.min("ts_us")).alias("dur"),
    )
    return sess.groupBy("first_type", F.col("converted").cast("int").alias("converted")).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("dur").cast("long").alias("total_duration_us"),
    )


# ---------------------------------------------------------------------------
# CS1 — chi-squared association between two categorical columns (event
# type × value tercile): observed counts are exact integers; expected
# counts and per-cell contributions are correctly-rounded IEEE doubles
# in one deterministic order, micro-quantized per CELL before any
# cross-engine comparison (the lm1 discipline — engines may sum floats
# in different orders, so the oracle never sums unquantized doubles).
# One shuffle for the cell counts; the marginals are group-cardinality
# broadcasts.
# ---------------------------------------------------------------------------
_CS1_ORACLE = """
WITH b AS (
  SELECT event_type,
         CASE WHEN value < 5 THEN 0 WHEN value < 12 THEN 1 ELSE 2 END AS bucket
  FROM events
),
cells AS MATERIALIZED (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS o FROM b GROUP BY 1, 2),
rows_ AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
cols_ AS (SELECT bucket, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
SELECT ce.event_type, ce.bucket, ce.o,
       CAST(floor((CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS expected_micro,
       CAST(floor(((CAST(ce.o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(ce.o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS contrib_micro
FROM cells ce JOIN rows_ USING (event_type) JOIN cols_ USING (bucket) CROSS JOIN tot
"""


@register("cs1_chi_squared", _CS1_ORACLE)
def cs1_chi_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 5, 0).when(F.col("value") < 12, 1).otherwise(2)
    )
    cells = events.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows_ = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    cols_ = cells.groupBy("bucket").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    e = F.expr("CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)")
    joined = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "bucket")
        .crossJoin(F.broadcast(tot))
        .withColumn("_e", e)
    )
    contrib = F.expr(
        "(CAST(o AS DOUBLE) - _e) * (CAST(o AS DOUBLE) - _e) / _e"
    )
    return joined.select(
        "event_type",
        "bucket",
        "o",
        F.floor(F.col("_e") * 1000000 + 0.5).cast("long").alias("expected_micro"),
        F.floor(contrib * 1000000 + 0.5).cast("long").alias("contrib_micro"),
    )


# ---------------------------------------------------------------------------
# BD1 — Benford first-digit analysis (the fraud/data-forensics staple):
# the leading digit of positive amounts in integer cents, extracted via
# STRING head (never a float log10, whose power-of-ten edges differ);
# expected Benford frequencies log10(1+1/d) are computed ONCE in Python
# and emitted as identical double literals into both engines; deviation
# is micro-quantized per digit (the cs1/lm1 discipline).
# ---------------------------------------------------------------------------
import math as _math

_BD1_EXPECTED = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}
_BD1_EXP_SQL = " ".join(
    f"WHEN {d} THEN CAST({_BD1_EXPECTED[d]!r} AS DOUBLE)" for d in range(1, 10)
)

_BD1_ORACLE = f"""
WITH amounts AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
  WHERE o_totalprice > 0
),
digits AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit FROM amounts
),
obs AS MATERIALIZED (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs)
SELECT digit, n,
  CAST(floor((CASE digit {_BD1_EXP_SQL} END) * 1000000 + 0.5) AS BIGINT) AS expected_ppm,
  CAST(floor((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS observed_ppm
FROM obs CROSS JOIN tot
"""


@register("bd1_benford_digits", _BD1_ORACLE)
def bd1_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    digits = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("total"))
    expected = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        expected = F.when(F.col("digit") == d, F.lit(_BD1_EXPECTED[d])).otherwise(
            expected
        )
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.floor(expected * 1000000 + 0.5).cast("long").alias("expected_ppm"),
            F.floor(
                F.expr("CAST(n AS DOUBLE) / CAST(total AS DOUBLE)") * 1000000 + 0.5
            )
            .cast("long")
            .alias("observed_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# GC1 — Gini concentration of customer revenue (the inequality /
# concentration KPI): rank customers by revenue ascending (custkey
# tie-break = total order), G = (2·Σ(i·y_i) − (n+1)·Σy) / (n·Σy). Both
# Σ-terms accumulate as DECIMAL(38,0) (i·y_i reaches ~1e15 at sf0.1 and
# the SUM would wrap BIGINT at warehouse scale; DuckDB's HUGEINT and
# Spark's decimal sum are both exact), and only the final ratio is a
# correctly-rounded double, milli-quantized. The global rank window is
# dimension-cardinality — the documented rfm1 class.
# ---------------------------------------------------------------------------
_GC1_ORACLE = """
WITH rev AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, custkey) AS i FROM rev
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(i AS HUGEINT) * cents) AS s1,
         SUM(CAST(cents AS HUGEINT)) AS s0
  FROM ranked
)
SELECT n,
  CAST(s0 AS BIGINT) AS total_cents,
  CAST(floor((CAST(2 * s1 - (n + 1) * s0 AS DOUBLE) / CAST(n * s0 AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS gini_milli
FROM agg
"""


@register("gc1_gini_concentration", _GC1_ORACLE)
def gc1_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    ranked = rev.select(
        "cents",
        F.row_number().over(Window.orderBy("cents", "custkey")).alias("i"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(i AS DECIMAL(38,0)) * cents")).alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s0"),
    )
    gini = F.expr(
        "CAST(floor((CAST(2 * s1 - (n + 1) * s0 AS DOUBLE) / CAST(n * s0 AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"
    )
    return agg.select(
        "n", F.col("s0").cast("long").alias("total_cents"), gini.alias("gini_milli")
    )


# ---------------------------------------------------------------------------
# AB1 — two-proportion z-test (the A/B-testing staple): users split into
# deterministic variants by id parity, conversion = a purchase above a
# threshold chosen non-degenerate at every SF; the pooled z-statistic is
# a chain of correctly-rounded IEEE ops (sqrt is exact per IEEE-754),
# micro-quantized, NULL when the pooled rate is 0 or 1 (zero variance —
# ANSI Spark raises on the div-by-zero a naive formula hits).
# ---------------------------------------------------------------------------
_AB1_ORACLE = """
WITH users AS (
  SELECT user_id,
         CAST(user_id % 2 AS INT) AS variant,
         MAX(CASE WHEN event_type = 'purchase' AND value > 300 THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
v AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM users GROUP BY variant
),
w AS (
  SELECT
    MAX(CASE WHEN variant = 0 THEN n END) AS n0,
    MAX(CASE WHEN variant = 0 THEN conv END) AS c0,
    MAX(CASE WHEN variant = 1 THEN n END) AS n1,
    MAX(CASE WHEN variant = 1 THEN conv END) AS c1
  FROM v
)
SELECT n0, c0, n1, c1,
  CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN NULL
  ELSE CAST(floor(((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
    / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
         * (1 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
         * (1 / CAST(n0 AS DOUBLE) + 1 / CAST(n1 AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT)
  END AS z_micro
FROM w
"""


@register("ab1_two_proportion_z", _AB1_ORACLE)
def ab1_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    users = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 300),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("int").alias("variant"), "converted"
    )
    v = users.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("c1"),
    )
    z = F.expr(
        "CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN NULL"
        " ELSE CAST(floor(((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
        " / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))"
        " * (1 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))"
        " * (1 / CAST(n0 AS DOUBLE) + 1 / CAST(n1 AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) END"
    )
    return w.select("n0", "c0", "n1", "c1", z.alias("z_micro"))


# ---------------------------------------------------------------------------
# TM1 — event transition matrix (the user-journey / Sankey primitive):
# per (prev_type, type) transition counts from one lag window over the
# event stream, with row-normalized shares in exact ppm (integer DIV
# against the row total). Session starts (no previous event) count
# under prev_type '<start>'.
# ---------------------------------------------------------------------------
_TM1_ORACLE = """
WITH seq_ AS (
  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  '<start>') AS prev_type,
         event_type
  FROM events
),
cells AS MATERIALIZED (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq_ GROUP BY 1, 2
),
rows_ AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY 1)
SELECT prev_type, event_type, n,
       CAST((n * 1000000) // r AS BIGINT) AS share_ppm
FROM cells JOIN rows_ USING (prev_type)
"""


@register("tm1_transition_matrix", _TM1_ORACLE)
def tm1_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq_ = events.select(
        F.coalesce(F.lag("event_type").over(w), F.lit("<start>")).alias("prev_type"),
        "event_type",
    )
    cells = seq_.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rows_ = cells.groupBy("prev_type").agg(F.sum("n").cast("long").alias("r"))
    return (
        cells.join(F.broadcast(rows_), "prev_type")
        .select(
            "prev_type",
            "event_type",
            "n",
            F.expr("CAST((n * 1000000) DIV r AS BIGINT)").alias("share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# JR2 — VARIANT shredding (the Spark 4-native semi-structured path jr1's
# string functions predate): a nested JSON document (built identically
# in both engines — the pii1 injection pattern; integer payloads so no
# float-repr divergence can enter the string) parses ONCE to a VARIANT
# and every field reads through typed variant_get paths — nested
# object, array index, and a conditionally-absent key that must
# surface as NULL, not an error. The oracle shreds the same string
# with DuckDB's JSON operators.
# ---------------------------------------------------------------------------

_JR2_DOC_SQL = """'{"id": ' || event_id
  || ', "m": {"t": "' || event_type || '", "vc": ' || CAST(floor(value * 100 + 0.5) AS BIGINT) || '}'
  || ', "tags": [' || (user_id % 5) || ', ' || (user_id % 7) || ']'
  || CASE WHEN event_id % 3 = 0 THEN ', "opt": ' || (event_id % 11) ELSE '' END
  || '}'"""

_JR2_ORACLE = f"""
WITH d AS (SELECT event_id, {_JR2_DOC_SQL} AS doc FROM events)
SELECT event_id,
  json_extract_string(doc, '$.m.t') AS mtype,
  TRY_CAST(json_extract(doc, '$.m.vc') AS BIGINT) AS v_centi,
  TRY_CAST(json_extract(doc, '$.tags[1]') AS BIGINT) AS tag2,
  TRY_CAST(json_extract(doc, '$.opt') AS BIGINT) AS opt
FROM d
"""


@register("jr2_variant_shred", _JR2_ORACLE)
def jr2_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"id": '),
        F.col("event_id").cast("string"),
        F.lit(', "m": {"t": "'),
        F.col("event_type"),
        F.lit('", "vc": '),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").cast("string"),
        F.lit("}"),
        F.lit(', "tags": ['),
        (F.col("user_id") % 5).cast("string"),
        F.lit(", "),
        (F.col("user_id") % 7).cast("string"),
        F.lit("]"),
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit(', "opt": '), (F.col("event_id") % 11).cast("string")),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    # try_parse_json, not parse_json: if a string field ever carries a
    # quote/backslash/control char the concatenated doc is malformed —
    # the whole row must shred to NULLs, not throw at runtime (the
    # try_variant_get calls only guard the PATH reads, not the parse)
    v = F.try_parse_json(doc)
    return events.select(
        "event_id",
        F.try_variant_get(v, "$.m.t", "string").alias("mtype"),
        F.try_variant_get(v, "$.m.vc", "long").alias("v_centi"),
        F.try_variant_get(v, "$.tags[1]", "long").alias("tag2"),
        F.try_variant_get(v, "$.opt", "long").alias("opt"),
    )
