"""Warehouse-lifecycle queries: SCD Type-2 dimension versioning (scd1)
and incremental materialized-aggregate maintenance (mv1). Both derive
their inputs deterministically from the customer/orders tables so the
DuckDB oracle can rebuild the identical scenario from SQL alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.incremental import refresh_additive_agg
from etl_stack_spark.operators.scd import scd2_apply
from etl_stack_spark.queries import register
from etl_stack_spark.session import load_table

# ---------------------------------------------------------------------------
# scd1 — SCD Type-2 apply. Initial dim = every customer, current since
# 2024-01-01. Update batch (deterministic, key-derived):
#   custkey % 14 == 0 → no-op update (same values; must NOT cut a version)
#   custkey %  7 == 0 → segment 'UPGRADED', acctbal + 100.0 (a real change)
#   custkey % 97 == 0 → a brand-new key (custkey + 10_000_000, 'NEWKEY')
# Result: closed-out old versions, new current versions, untouched carry.
# ---------------------------------------------------------------------------
_SCD1_ORACLE = """
WITH dim AS MATERIALIZED (
  SELECT c_custkey AS cust_id, c_mktsegment AS segment, c_acctbal AS acctbal,
         DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
         TRUE AS is_current
  FROM customer
),
upd AS (
  SELECT c_custkey AS cust_id,
         CASE WHEN c_custkey % 14 = 0 THEN c_mktsegment ELSE 'UPGRADED' END AS segment,
         CASE WHEN c_custkey % 14 = 0 THEN c_acctbal ELSE c_acctbal + 100.0 END AS acctbal
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 10000000, 'NEWKEY', 0.0 FROM customer WHERE c_custkey % 97 = 0
),
chg AS MATERIALIZED (
  SELECT u.* FROM upd u
  LEFT JOIN dim d ON u.cust_id = d.cust_id AND d.is_current
  WHERE d.cust_id IS NULL
     OR u.segment IS DISTINCT FROM d.segment
     OR u.acctbal IS DISTINCT FROM d.acctbal
)
SELECT d.cust_id, d.segment, d.acctbal, d.valid_from,
       DATE '2024-06-01' AS valid_to, FALSE AS is_current
FROM dim d JOIN chg ON d.cust_id = chg.cust_id
UNION ALL
SELECT cust_id, segment, acctbal, DATE '2024-06-01', CAST(NULL AS DATE), TRUE
FROM chg
UNION ALL
SELECT d.* FROM dim d ANTI JOIN chg ON d.cust_id = chg.cust_id
"""


@register("scd1_dimension_history", _SCD1_ORACLE)
def scd1_dimension_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    noop = F.col("c_custkey") % 14 == 0
    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("cust_id"),
        F.when(noop, F.col("c_mktsegment")).otherwise(F.lit("UPGRADED")).alias("segment"),
        F.when(noop, F.col("c_acctbal")).otherwise(F.col("c_acctbal") + 100.0).alias("acctbal"),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 97 == 0).select(
            (F.col("c_custkey") + 10000000).alias("cust_id"),
            F.lit("NEWKEY").alias("segment"),
            F.lit(0.0).alias("acctbal"),
        )
    )
    out = scd2_apply(
        dim, updates, key="cust_id", tracked=["segment", "acctbal"],
        eff_date=F.lit("2024-06-01").cast("date"),
    )
    # DuckDB's pandas bridge renders DATE as midnight timestamps; cast at
    # the comparison boundary so both engines emit the same rendering.
    return out.withColumn("valid_from", F.col("valid_from").cast("timestamp")).withColumn(
        "valid_to", F.col("valid_to").cast("timestamp")
    )


# ---------------------------------------------------------------------------
# mv1 — incremental aggregate maintenance. The "materialized" per-customer
# aggregate covers orders before 1997; the delta batch is everything after.
# The refreshed table must be BIT-IDENTICAL to a full recompute over all
# orders — money summed in integer cents so the equality is exact.
# ---------------------------------------------------------------------------
_MV1_ORACLE = """
SELECT o_custkey AS cust_id,
       CAST(COUNT(*) AS BIGINT) AS order_cnt,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
FROM orders
GROUP BY o_custkey
"""


@register("mv1_incremental_agg", _MV1_ORACLE)
def mv1_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    cutoff = F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    measures = {
        "order_cnt": ("count", F.lit(1)),
        "total_cents": ("sum", F.col("cents")),
        "max_cents": ("max", F.col("cents")),
    }
    base_agg = (
        orders.filter(cutoff)
        .groupBy(F.col("o_custkey").alias("cust_id"))
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.sum("cents").alias("total_cents"),
            F.max("cents").alias("max_cents"),
        )
    )
    delta = orders.filter(~cutoff).select(F.col("o_custkey").alias("cust_id"), "cents")
    return refresh_additive_agg(base_agg, delta, keys=["cust_id"], measures=measures)


# ---------------------------------------------------------------------------
# tt1 — point-in-time dimension read over the SCD2 history: reconstruct
# the dimension AS OF 2024-03-01 (before the June batch: every original
# version, none of the upgrades). The predicate is the canonical
# time-travel read every SCD2 consumer runs; on the storage side the
# same capability exists as ParquetMergeTable.read(version=...).
# ---------------------------------------------------------------------------
_TT1_ORACLE = f"""
WITH scd AS ({_SCD1_ORACLE}),
pit AS (
  SELECT * FROM scd
  WHERE valid_from <= DATE '2024-03-01'
    AND (valid_to IS NULL OR valid_to > DATE '2024-03-01')
)
SELECT cust_id, segment, acctbal FROM pit
"""


@register("tt1_point_in_time", _TT1_ORACLE)
def tt1_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    asof = F.lit("2024-03-01").cast("timestamp")
    scd = scd1_dimension_history(spark, sf_dir)
    return scd.filter(
        (F.col("valid_from") <= asof)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > asof))
    ).select("cust_id", "segment", "acctbal")


# ---------------------------------------------------------------------------
# DQ1 — data-quality expectation suite over orders/lineitem: row checks
# fold into ONE scan-aggregate, uniqueness is one groupBy, referential
# is one anti-join (operators/dq.py). The suite mixes passing and
# genuinely failing checks (l_discount > 0.05 on ~45% of lineitems at
# every scale) so `passed` is non-vacuous and detection is proven, not
# assumed.
# ---------------------------------------------------------------------------
_DQ1_ORACLE = """
SELECT "check", n_violations, n_violations = 0 AS passed FROM (
  SELECT 'orderdate_not_null' AS "check",
    CAST(COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'status_enum', CAST(COUNT(*) FILTER (
    WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('O','F','P')) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'totalprice_positive', CAST(COUNT(*) FILTER (
    WHERE o_totalprice IS NULL OR NOT o_totalprice > 0) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'discount_cap_5pct', CAST(COUNT(*) FILTER (
    WHERE l_discount IS NULL OR NOT l_discount <= 0.05) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'orderkey_unique',
    CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'custkey_fk', CAST(COUNT(*) AS BIGINT)
  FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
"""


@register("dq1_expectations", _DQ1_ORACLE)
def dq1_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.dq import run_expectations

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    order_suite = run_expectations(
        orders,
        row_checks={
            "orderdate_not_null": F.col("o_orderdate").isNotNull(),
            "status_enum": F.col("o_orderstatus").isin("O", "F", "P"),
            "totalprice_positive": F.col("o_totalprice") > 0,
        },
        unique_keys={"orderkey_unique": ["o_orderkey"]},
        foreign_keys={"custkey_fk": ("o_custkey", customer, "c_custkey")},
    )
    li_suite = run_expectations(
        lineitem, row_checks={"discount_cap_5pct": F.col("l_discount") <= 0.05}
    )
    return order_suite.unionAll(li_suite)


# ---------------------------------------------------------------------------
# SKW1 — join-key skew report: the top-10 heaviest keys with exact ppm
# shares and cumulative share. THE pre-flight for any 100 TB shuffle:
# decides whether a key needs salting / AQE skew-split before you pay
# for the job. Shares in integer ppm (cnt*1e6 div total) so the report
# is bit-exact cross-engine; ordering is (count desc, key) so mid-rank
# ties are deterministic. The counts table is |keys| rows — orderBy +
# limit on it is the t3 shape, negligible at any corpus size.
# ---------------------------------------------------------------------------
_SKW1_ORACLE = """
WITH c AS MATERIALIZED (
  SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows FROM c),
top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 10)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS INT) AS rank,
  key, cnt,
  CAST(cnt * 1000000 // n_rows AS BIGINT) AS share_ppm,
  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, key
       ROWS UNBOUNDED PRECEDING) * 1000000 // n_rows AS BIGINT)
  AS cum_share_ppm
FROM top, tot
"""


@register("skw1_key_skew", _SKW1_ORACLE)
def skw1_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    lineitem = load_table(spark, sf_dir, "lineitem")
    counts = lineitem.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = counts.agg(F.sum("cnt").cast("long").alias("n_rows"))
    top = counts.orderBy(F.col("cnt").desc(), "key").limit(10)
    w = Window.orderBy(F.col("cnt").desc(), "key")
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).alias("rank"),
            "key",
            "cnt",
            F.expr("cnt * 1000000 div n_rows").alias("share_ppm"),
            F.expr(
                "sum(cnt) over (order by cnt desc, key"
                " rows unbounded preceding) * 1000000"
            ).cast("long").alias("_cum"),
            F.col("n_rows"),
        )
        .select(
            "rank", "key", "cnt", "share_ppm",
            F.expr("_cum div n_rows").alias("cum_share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# MV2 — incremental JOIN-view maintenance (mv1's aggregate rule covers
# additive measures; this is the other half of IVM): the engine splits
# orders/customer into deterministic hash slices (95% "old", 5% "delta"
# on each side), maintains V = orders ⋈ customer through the delta rule
# dV = dA⋈B ∪ A⋈dB ∪ dA⋈dB, and the oracle proves the refreshed view is
# bit-identical to a full recompute over the whole tables. Money in
# integer cents (the mv1 discipline).
# ---------------------------------------------------------------------------
_MV2_ORACLE = """
SELECT c_custkey AS custkey, o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
       c_name, CAST(c_nationkey AS BIGINT) AS nationkey
FROM orders JOIN customer ON o_custkey = c_custkey
"""


@register("mv2_incremental_join_view", _MV2_ORACLE)
def mv2_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.incremental import refresh_join_view
    from etl_stack_spark.operators.text import portable_hash60

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("total_cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        "c_name",
        F.col("c_nationkey").cast("long").alias("nationkey"),
    )
    o_delta = portable_hash60(F.col("o_orderkey").cast("string")) % 100 < 5
    c_delta = portable_hash60(F.col("custkey").cast("string")) % 100 < 5
    a_old, da = orders.filter(~o_delta), orders.filter(o_delta)
    b_old, db = cust.filter(~c_delta), cust.filter(c_delta)
    view_old = a_old.join(b_old, "custkey")
    return refresh_join_view(view_old, a_old, b_old, da, db, ["custkey"]).select(
        "custkey", "o_orderkey", "total_cents", "c_name", "nationkey"
    )


# ---------------------------------------------------------------------------
# GR1 — golden-record survivorship (the MDM step after er1's entity
# resolution): one row per entity whose fields each take the LATEST
# NON-NULL observed value — per-field arg-max with a null filter, a pure
# one-shuffle aggregate (no window, no per-field join). Orders act as
# observations of the customer profile; ~30% of each field is nulled by
# a deterministic hash (the PII-fixture discipline) so survivorship is
# actually exercised — a field's latest observation being null must NOT
# erase the older value. Observation order is an integer
# (day_index * 1e10 + orderkey) sortkey: total, portable, no timestamp
# comparisons inside the aggregate.
# ---------------------------------------------------------------------------
_GR1_H = "(('0x' || substr(sha256(CAST(o_orderkey AS VARCHAR) || '{tag}'), 1, 15))::BIGINT)"
_GR1_ORACLE = f"""
WITH obs AS (
  SELECT o_custkey AS custkey,
         CASE WHEN {_GR1_H.format(tag='#prio')} % 10 < 3 THEN NULL ELSE o_orderpriority END AS prio_obs,
         CASE WHEN {_GR1_H.format(tag='#stat')} % 10 < 3 THEN NULL ELSE o_orderstatus END AS stat_obs,
         (epoch_us(o_orderdate) // 86400000000) * 10000000000 + o_orderkey AS sortkey,
         epoch_us(o_orderdate) // 86400000000 AS day_idx
  FROM orders
)
SELECT custkey,
       arg_max(prio_obs, sortkey) FILTER (WHERE prio_obs IS NOT NULL) AS golden_priority,
       arg_max(stat_obs, sortkey) FILTER (WHERE stat_obs IS NOT NULL) AS golden_status,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(MAX(day_idx) AS BIGINT) AS last_seen_day
FROM obs GROUP BY custkey
"""


@register("gr1_golden_record", _GR1_ORACLE)
def gr1_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import portable_hash60

    orders = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")

    def nulled(col: str, tag: str):
        h = portable_hash60(F.concat(F.col("o_orderkey").cast("string"), F.lit(tag)))
        return F.when(h % 10 < 3, F.lit(None)).otherwise(F.col(col))

    obs = orders.select(
        F.col("o_custkey").alias("custkey"),
        nulled("o_orderpriority", "#prio").alias("prio_obs"),
        nulled("o_orderstatus", "#stat").alias("stat_obs"),
        (day * 10_000_000_000 + F.col("o_orderkey")).cast("long").alias("sortkey"),
        day.cast("long").alias("day_idx"),
    )
    return obs.groupBy("custkey").agg(
        F.expr(
            "max_by(prio_obs, sortkey) FILTER (WHERE prio_obs IS NOT NULL)"
        ).alias("golden_priority"),
        F.expr(
            "max_by(stat_obs, sortkey) FILTER (WHERE stat_obs IS NOT NULL)"
        ).alias("golden_status"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.max("day_idx").cast("long").alias("last_seen_day"),
    )


# ---------------------------------------------------------------------------
# MV3 — retractable aggregate maintenance (the IVM family's third leg:
# mv1 = insert-only aggregates, mv2 = insert-only joins, mv3 = a change
# feed WITH DELETES): the engine aggregates a 95% base slice, then
# applies a signed change batch (the 5% inserts as +1, a 3-point slice
# of the base as -1 deletes) through refresh_retractable_agg; the
# oracle proves the result row-identical to recomputing over the
# post-change state. Groups retracted to zero count vanish.
# ---------------------------------------------------------------------------
_MV3_H = "(('0x' || substr(sha256(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT) % 100"
_MV3_ORACLE = f"""
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
WHERE {_MV3_H} NOT BETWEEN 90 AND 92
GROUP BY o_orderpriority
"""


@register("mv3_retractable_agg", _MV3_ORACLE)
def mv3_retractable_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.incremental import (
        partial_agg,
        refresh_retractable_agg,
    )
    from etl_stack_spark.operators.text import portable_hash60

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (portable_hash60(F.col("o_orderkey").cast("string")) % 100).alias("_h"),
    )
    measures = {
        "n": ("count", F.lit(1)),
        "total_cents": ("sum", F.col("cents")),
    }
    base = orders.filter(F.col("_h") >= 5)
    inserts = orders.filter(F.col("_h") < 5).withColumn("_sign", F.lit(1))
    deletes = orders.filter(F.col("_h").between(90, 92)).withColumn(
        "_sign", F.lit(-1)
    )
    agg0 = partial_agg(base, ["priority"], measures)
    return refresh_retractable_agg(
        agg0,
        inserts.unionByName(deletes),
        ["priority"],
        measures,
        count_col="n",
    )


# ---------------------------------------------------------------------------
# CAL1 — date-dimension spine (the calendar table every warehouse joins
# against), generated from the fact table's own min/max day so it's
# scale-invariant. Day-of-week comes from the pure integer identity
# (day_idx + 4) % 7 (1970-01-01 was a Thursday) — no engine DOW
# convention (Sunday=0? Monday=1?) can disagree; year/month/day-of-month
# extraction agrees on DATE in both engines. Under that identity
# Sunday=0 .. Saturday=6, so the weekend set is {0, 6} (Sunday, Saturday)
# — NOT {5, 6}, which would flag Friday+Saturday (round-5 advisor catch).
# ---------------------------------------------------------------------------
_CAL1_ORACLE = """
WITH bounds AS (
  SELECT CAST(MIN(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS d0,
         CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS d1
  FROM orders
),
spine AS (SELECT unnest(generate_series(d0, d1)) AS day_idx FROM bounds),
days AS (SELECT day_idx, DATE '1970-01-01' + CAST(day_idx AS INT) AS d FROM spine)
SELECT day_idx, CAST(d AS VARCHAR) AS d,
       CAST(year(d) AS INT) AS y, CAST(month(d) AS INT) AS m,
       CAST(day(d) AS INT) AS dom,
       CAST((day_idx + 4) % 7 AS INT) AS dow,
       (day_idx + 4) % 7 IN (0, 6) AS is_weekend,
       CAST((month(d) - 1) // 3 + 1 AS INT) AS quarter
FROM days
"""


@register("cal1_date_dimension", _CAL1_ORACLE)
def cal1_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000")
    bounds = orders.agg(
        F.min(day).cast("long").alias("d0"), F.max(day).cast("long").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day_idx")
    )
    d = F.date_add(F.lit("1970-01-01").cast("date"), F.col("day_idx").cast("int"))
    dow = (F.col("day_idx") + 4) % 7
    return spine.select(
        "day_idx",
        d.cast("string").alias("d"),
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        dow.cast("int").alias("dow"),
        dow.isin(0, 6).alias("is_weekend"),
        ((F.month(d) - 1).cast("int") / 3).cast("int").alias("_q"),
    ).select(
        "day_idx", "d", "y", "m", "dom", "dow", "is_weekend",
        (F.col("_q") + 1).cast("int").alias("quarter"),
    )
