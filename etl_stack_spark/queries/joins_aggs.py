"""Join / aggregation / sort / set-op queries (SURVEY §2.3-2.6) with oracles.

Join strategy notes for 100 TB:
- dim-side lookups (J1/J3) are explicit ``broadcast()`` — no shuffle of the
  fact stream; Catalyst would often pick this anyway below the threshold,
  we make it deliberate.
- fact-fact joins shuffle on the join key; AQE skew-split handles hot keys.
- anti/semi joins (J5/J7/J8) stay anti/semi all the way down (no distinct+
  outer-join emulation) — Spark executes them as broadcast/shuffled
  hash-anti-joins without materializing the negation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_stack_spark.queries import register
from etl_stack_spark.session import load_table


# --- J1: broadcast lookup join (image_loader.py:38-46 external_id→uuid) ----
_J1_ORACLE = """
SELECT l_orderkey, l_linenumber, p.p_name
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
"""


@register("j1_broadcast_lookup", _J1_ORACLE)
def j1_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_name"
    )


# --- J2: inner equi-join with work filters (image_ai_tagger.py:53-70) ------
_J2_ORACLE = """
SELECT o.o_orderkey, o.o_totalprice, c.c_name
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'O'
"""


@register("j2_inner_filtered", _J2_ORACLE)
def j2_inner_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .join(customer.filter(F.col("c_mktsegment") == "BUILDING"),
              orders.o_custkey == customer.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_name")
    )


# --- J3: inner join + COALESCE default (debug_viewer/server.py:179-187) ----
_J3_ORACLE = """
SELECT c.c_custkey, n.n_name,
       COALESCE(NULLIF(c.c_mktsegment, 'BUILDING'), 'Unknown') AS segment
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


@register("j3_inner_coalesce", _J3_ORACLE)
def j3_inner_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey).select(
        "c_custkey",
        "n_name",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("Unknown")).alias(
            "segment"
        ),
    )


# --- J4: left outer join (debug_viewer/server.py:230-239) ------------------
_J4_ORACLE = """
SELECT c.c_custkey, o.o_orderkey
FROM customer c LEFT JOIN (SELECT * FROM orders WHERE o_orderkey % 5 = 0) o
  ON o.o_custkey = c.c_custkey
"""


@register("j4_left_join", _J4_ORACLE)
def j4_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left").select(
        "c_custkey", "o_orderkey"
    )


# --- J7: anti-join soft-delete scan (loader_v2.py:211-220) -----------------
_J7_ORACLE = """
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
)
"""


@register("j7_anti_join", _J7_ORACLE)
def j7_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    open_orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return customer.join(
        open_orders, customer.c_custkey == open_orders.o_custkey, "left_anti"
    ).select("c_custkey")


# --- J8: set-difference GC, disk vs DB (image_garbage_collector.py) --------
# Orphans w.r.t. RECENT references (shipped since 2000): an unscoped
# "never referenced at all" was structurally 0 rows in this corpus
# (lineitem covers every partkey), making the anchor a vacuous hash.
_J8_ORACLE = """
SELECT p_partkey FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_partkey = p.p_partkey
    AND l.l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
)
"""


@register("j8_orphan_gc", _J8_ORACLE)
def j8_orphan_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    recent = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return part.join(recent, part.p_partkey == recent.l_partkey, "left_anti").select(
        "p_partkey"
    )


# --- J9: dedup-check before write (image_loader.py:48-74) ------------------
# keep exactly one row per (orderkey, partkey): the lowest linenumber
_J9_ORACLE = """
SELECT l_orderkey, l_partkey, l_linenumber FROM (
  SELECT l_orderkey, l_partkey, l_linenumber,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber) AS rn
  FROM lineitem
) WHERE rn = 1
"""


@register("j9_dedup_check", _J9_ORACLE)
def j9_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The kept row is the group's MIN l_linenumber and the output carries
    # no other payload, so the rn=1 window (full shuffle+sort of every
    # row) collapses to an aggregate with map-side partial min — the
    # shuffle carries one row per (orderkey, partkey) instead of every
    # lineitem (guide §2.3 "aggregate before you shuffle"). Same rows,
    # same types; the general keep-first-by-rank form lives in
    # operators/rank.py for payloads a min() cannot carry.
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_orderkey", "l_partkey").agg(
        F.min("l_linenumber").alias("l_linenumber")
    )


# --- A2: conditional counts + walkability score (cl_test1.py:227-236) ------
# score = min(10, n_nearby // 2); label thresholds 9/7/4
_A2_ORACLE = """
SELECT o_custkey,
  CAST(COUNT(CASE WHEN o_totalprice < 50000 THEN 1 END) AS BIGINT) AS n_cheap,
  CAST(LEAST(10, FLOOR(COUNT(CASE WHEN o_totalprice < 50000 THEN 1 END) / 2.0)) AS INT) AS walk_score,
  CASE WHEN LEAST(10, FLOOR(COUNT(CASE WHEN o_totalprice < 50000 THEN 1 END) / 2.0)) >= 9 THEN 'Excelente'
       WHEN LEAST(10, FLOOR(COUNT(CASE WHEN o_totalprice < 50000 THEN 1 END) / 2.0)) >= 7 THEN 'Muy Bueno'
       WHEN LEAST(10, FLOOR(COUNT(CASE WHEN o_totalprice < 50000 THEN 1 END) / 2.0)) >= 4 THEN 'Bueno'
       ELSE 'Regular' END AS walk_label
FROM orders GROUP BY o_custkey
"""


@register("a2_conditional_counts", _A2_ORACLE)
def a2_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    n_cheap = F.count(F.when(F.col("o_totalprice") < 50000, 1))
    score = F.least(F.lit(10), F.floor(n_cheap / 2.0)).cast("int")
    label = (
        F.when(score >= 9, "Excelente")
        .when(score >= 7, "Muy Bueno")
        .when(score >= 4, "Bueno")
        .otherwise(F.lit("Regular"))
    )
    return orders.groupBy("o_custkey").agg(
        n_cheap.alias("n_cheap"), score.alias("walk_score"), label.alias("walk_label")
    )


# --- A3: existence flags / premium zone (cl_test1.py:238-272) --------------
_A3_ORACLE = """
SELECT o_custkey,
  COALESCE(bool_or(o_orderpriority = '1-URGENT'), false) AS has_urgent,
  COALESCE(bool_or(o_totalprice > 150000), false) AS has_big,
  (COALESCE(bool_or(o_orderpriority = '1-URGENT'), false)
   AND COALESCE(bool_or(o_totalprice > 150000), false)) AS is_premium
FROM orders GROUP BY o_custkey
"""


@register("a3_existence_flags", _A3_ORACLE)
def a3_existence_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    has_urgent = F.coalesce(F.bool_or(F.col("o_orderpriority") == "1-URGENT"), F.lit(False))
    has_big = F.coalesce(F.bool_or(F.col("o_totalprice") > 150000), F.lit(False))
    return orders.groupBy("o_custkey").agg(
        has_urgent.alias("has_urgent"),
        has_big.alias("has_big"),
        (has_urgent & has_big).alias("is_premium"),
    )


# --- A5: hash-dedup keep-LAST (process_pois.py:495 dict overwrite) ---------
# Spark has no stable "last"; the engine pins it with an explicit ordering:
# last = highest (l_orderkey, l_linenumber) per hash bucket.
_A5_ORACLE = """
SELECT hash_key, l_orderkey, l_linenumber FROM (
  SELECT l_orderkey % 1000 AS hash_key, l_orderkey, l_linenumber,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey % 1000
                            ORDER BY l_orderkey DESC, l_linenumber DESC) AS rn
  FROM lineitem
) WHERE rn = 1
"""


@register("a5_hash_dedup_last", _A5_ORACLE)
def a5_hash_dedup_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    df = lineitem.withColumn("hash_key", F.col("l_orderkey") % 1000)
    w = Window.partitionBy("hash_key").orderBy(
        F.col("l_orderkey").desc(), F.col("l_linenumber").desc()
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("hash_key", "l_orderkey", "l_linenumber")
    )


# --- A6/A7: plain counts and size accounting -------------------------------
_A6_ORACLE = """
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_spent
FROM orders GROUP BY o_custkey
"""


@register("a6_count_sum_per_key", _A6_ORACLE)
def a6_count_sum_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
    )


# --- T3: ORDER BY ts DESC LIMIT n (image_ai_tagger.py:66) ------------------
_T3_ORACLE = """
SELECT event_id, user_id, event_type
FROM events ORDER BY ts DESC, event_id DESC LIMIT 100
"""


@register("t3_order_limit", _T3_ORACLE)
def t3_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # TakeOrderedAndProject: per-partition top-100 then driver merge — no sort
    # of the full table at scale
    return (
        events.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
        .select("event_id", "user_id", "event_type")
    )


# --- T4: gallery sort_order + is_main flag (image_loader.py:134) -----------
_T4_ORACLE = """
SELECT l_orderkey, l_linenumber,
       (ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) = 1) AS is_main
FROM lineitem
"""


@register("t4_sort_flag_main", _T4_ORACLE)
def t4_sort_flag_main(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return lineitem.select(
        "l_orderkey", "l_linenumber", (F.row_number().over(w) == 1).alias("is_main")
    )


# --- T5: deterministic LIMIT batch (properties_poi_matcher.py:104-111) -----
_T5_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_orderstatus = 'F' ORDER BY o_orderkey LIMIT 50
"""


@register("t5_limit_batch", _T5_ORACLE)
def t5_limit_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .orderBy("o_orderkey")
        .limit(50)
        .select("o_orderkey", "o_totalprice")
    )


# --- U1: union of layers with missing columns (process_pois.py:377) --------
_U1_ORACLE = """
SELECT n_nationkey AS key, n_name AS name, n_regionkey AS regionkey, 'nation' AS layer
FROM nation
UNION ALL
SELECT r_regionkey AS key, r_name AS name, NULL AS regionkey, 'region' AS layer
FROM region
"""


@register("u1_union_layers", _U1_ORACLE)
def u1_union_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("key"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("regionkey"),
        F.lit("nation").alias("layer"),
    )
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("key"),
        F.col("r_name").alias("name"),
        F.lit("region").alias("layer"),
    )
    return nation.unionByName(region, allowMissingColumns=True)


# --- U2: URL-list union with dedupe (image_realhomes_provider.py:9-50) -----
# order-preservation is pinned in unit tests; the oracle checks the
# union+dedupe set via a sorted canonical form
_U2_ORACLE = """
SELECT p_partkey,
  list_sort(list_distinct(list_concat(string_split(p_name, ' '), string_split(p_type, ' ')))) AS tokens
FROM part
"""


@register("u2_array_union_dedupe", _U2_ORACLE)
def u2_array_union_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    merged = F.array_distinct(
        F.concat(F.split(F.col("p_name"), " "), F.split(F.col("p_type"), " "))
    )
    return part.select("p_partkey", F.array_sort(merged).alias("tokens"))


# --- FO1: full-outer reconciliation — the two-system diff shape (rows only
# left, only right, or value-mismatched on both sides). Completes the join
# matrix (J1-J9 cover broadcast/inner/left/semi/anti/geo); full outer is
# what a migration off the reference's loaders runs to prove table parity.
_FO1_ORACLE = """
WITH a AS (
  SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_a
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
),
b AS (
  SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_b
  FROM orders WHERE o_totalprice >= 100000 GROUP BY o_custkey
)
SELECT COALESCE(a.custkey, b.custkey) AS custkey, a.n_a, b.n_b,
  CASE WHEN a.custkey IS NULL THEN 'right_only'
       WHEN b.custkey IS NULL THEN 'left_only'
       WHEN a.n_a = b.n_b THEN 'match' ELSE 'mismatch' END AS reconcile
FROM a FULL OUTER JOIN b ON b.custkey = a.custkey
"""


@register("fo1_full_outer_reconcile", _FO1_ORACLE)
def fo1_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    b = (
        orders.filter(F.col("o_totalprice") >= 100000)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    j = a.join(b, "custkey", "full_outer")
    return j.select(
        "custkey",
        "n_a",
        "n_b",
        F.when(F.col("n_a").isNull(), "right_only")
        .when(F.col("n_b").isNull(), "left_only")
        .when(F.col("n_a") == F.col("n_b"), "match")
        .otherwise("mismatch")
        .alias("reconcile"),
    )


# --- FO2: per-COLUMN drift report — fo1 answers "which rows differ";
# this answers the practical migration question "WHICH COLUMNS drift,
# and how often": system B is the orders table with deterministic
# hash-sliced perturbations (status flipped on ~10%, price shifted on a
# different ~10%), and the report is one row per compared column with
# null-safe mismatch counts and ppm. ONE join on the key, one
# conditional-sum aggregate, a zero-shuffle unpivot — the dq1 cost
# class, so it runs on every migration batch.
_FO2_H = "(('0x' || substr(sha256(CAST(o_orderkey AS VARCHAR) || '{tag}'), 1, 15))::BIGINT) % 100"
_FO2_ORACLE = f"""
WITH a AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderpriority AS priority
  FROM orders
),
b AS (
  SELECT o_orderkey AS k,
         CASE WHEN {_FO2_H.format(tag='#s')} < 10 THEN 'X' ELSE o_orderstatus END AS status,
         CAST(round(o_totalprice * 100) AS BIGINT)
           + CASE WHEN {_FO2_H.format(tag='#p')} < 10 THEN 1 ELSE 0 END AS cents,
         o_orderpriority AS priority
  FROM orders
),
j AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a.status IS DISTINCT FROM b.status THEN 1 ELSE 0 END) AS BIGINT) AS d_status,
         CAST(SUM(CASE WHEN a.cents IS DISTINCT FROM b.cents THEN 1 ELSE 0 END) AS BIGINT) AS d_cents,
         CAST(SUM(CASE WHEN a.priority IS DISTINCT FROM b.priority THEN 1 ELSE 0 END) AS BIGINT) AS d_priority
  FROM a JOIN b USING (k)
)
SELECT col_name, n_mismatch, n_rows, CAST((n_mismatch * 1000000) // n_rows AS BIGINT) AS ppm
FROM (
  SELECT 'status' AS col_name, d_status AS n_mismatch, n AS n_rows FROM j
  UNION ALL SELECT 'cents', d_cents, n FROM j
  UNION ALL SELECT 'priority', d_priority, n FROM j
)
"""


@register("fo2_column_drift", _FO2_ORACLE)
def fo2_column_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import portable_hash60

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")

    def h(tag: str):
        return portable_hash60(
            F.concat(F.col("o_orderkey").cast("string"), F.lit(tag))
        ) % 100

    a = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status_a"),
        cents.alias("cents_a"),
        F.col("o_orderpriority").alias("priority_a"),
    )
    b = orders.select(
        F.col("o_orderkey").alias("k"),
        F.when(h("#s") < 10, F.lit("X")).otherwise(F.col("o_orderstatus")).alias("status_b"),
        (cents + F.when(h("#p") < 10, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("cents_b"),
        F.col("o_orderpriority").alias("priority_b"),
    )
    diff = lambda x: F.sum(  # noqa: E731
        F.when(~F.col(f"{x}_a").eqNullSafe(F.col(f"{x}_b")), 1).otherwise(0)
    ).cast("long")
    j = a.join(b, "k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        diff("status").alias("d_status"),
        diff("cents").alias("d_cents"),
        diff("priority").alias("d_priority"),
    )
    # stack() unpivots the ONE aggregate row in place (the dq1 pattern,
    # operators/dq.py) — a union of per-column selects would plan and
    # execute the whole join+aggregate once per branch
    return j.select(
        F.expr(
            "stack(3, 'status', d_status, 'cents', d_cents, 'priority', d_priority)"
            " AS (col_name, n_mismatch)"
        ),
        F.col("n").alias("n_rows"),
    ).select(
        "col_name",
        "n_mismatch",
        "n_rows",
        F.expr("CAST((n_mismatch * 1000000) DIV n_rows AS BIGINT)").alias("ppm"),
    )
