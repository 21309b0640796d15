"""Classic TPC-H-shaped queries over the test tables — the standard
relational bench anchors (pricing summary ~Q1, shipping priority ~Q3,
local-supplier volume ~Q5). These exercise the scan→filter→join→agg→sort
spine at lineitem scale and anchor BENCH comparability across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.queries import register
from etl_stack_spark.session import load_table

# ---------------------------------------------------------------------------
# Q1-shaped pricing summary: the canonical wide aggregation over lineitem.
# ---------------------------------------------------------------------------
# Money sums run in DECIMAL: at sf0.1 the charge sum (~2.8e9 with 6
# decimals) already exceeds double's 16 significant digits, so float sums
# disagree across engines at ANY rounding — decimal aggregation is exact
# and identical everywhere; only the final display cast goes to double.
_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1 - l_discount AS DECIMAL(4,2))
           * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty_d = F.col("l_quantity").cast("decimal(12,2)")
    price_d = F.col("l_extendedprice").cast("decimal(14,2)")
    disc_d = (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    tax_d = (F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_d).cast("double").alias("sum_qty"),
            F.sum(price_d).cast("double").alias("sum_base_price"),
            F.sum(price_d * disc_d).cast("double").alias("sum_disc_price"),
            F.sum(price_d * disc_d * tax_d).cast("double").alias("sum_charge"),
            F.round(F.sum(qty_d).cast("double") / cnt, 4).alias("avg_qty"),
            F.round(F.sum(price_d).cast("double") / cnt, 4).alias("avg_price"),
            F.round(F.sum(F.col("l_discount").cast("decimal(4,2)")).cast("double") / cnt, 4).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q3-shaped shipping priority: filter both sides, join, aggregate, top-10.
# ---------------------------------------------------------------------------
_Q3_ORACLE = """
SELECT o.o_orderkey,
  ROUND(SUM(l.l_extendedprice * (1e0 - l.l_discount)), 4) AS revenue,
  o.o_orderdate
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        # parquet stores the date as timestamp-ntz; normalize to session-tz
        # timestamp so the schema matches the oracle's TIMESTAMP
        .select("o_orderkey", "revenue", F.col("o_orderdate").cast("timestamp").alias("o_orderdate"))
    )


# ---------------------------------------------------------------------------
# Q5-shaped volume by nation: the multi-join star traversal.
# ---------------------------------------------------------------------------
_Q5_ORACLE = """
SELECT n.n_name,
  ROUND(SUM(l.l_extendedprice * (1e0 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


_Q2_ORACLE = """
WITH min_bal AS (
  SELECT s_nationkey, MIN(s_acctbal) AS mb FROM supplier GROUP BY s_nationkey
)
SELECT s.s_suppkey, s.s_name, n.n_name, ROUND(s.s_acctbal, 2) AS s_acctbal
FROM supplier s
JOIN min_bal m ON s.s_nationkey = m.s_nationkey AND s.s_acctbal = m.mb
JOIN nation n ON s.s_nationkey = n.n_nationkey
"""


@register("q2_correlated_min", _Q2_ORACLE)
def q2_correlated_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shape: correlated MIN subquery (cheapest supplier per nation),
    decorrelated to an aggregate join — ties keep all minimal rows,
    exactly the subquery semantics."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    min_bal = supp.groupBy(F.col("s_nationkey").alias("mk")).agg(
        F.min("s_acctbal").alias("mb")
    )
    return (
        supp.join(
            F.broadcast(min_bal),
            (supp.s_nationkey == F.col("mk")) & (supp.s_acctbal == F.col("mb")),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


_Q4_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
"""


@register("q4_order_priority", _Q4_ORACLE)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shape: date-range filter + EXISTS semi-join + group count."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


_Q10_ORACLE = """
SELECT c.c_custkey, c.c_name, n.n_name,
  ROUND(SUM(l.l_extendedprice * (1e0 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
"""


@register("q10_returned_revenue", _Q10_ORACLE)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-shape: returned-item revenue per customer (3-way join + group)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


_Q19_ORACLE = """
SELECT ROUND(SUM(l.l_extendedprice * (1e0 - l.l_discount)), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("q19_disjunctive_preds", _Q19_ORACLE)
def q19_disjunctive_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-shape: disjunctive multi-branch join predicates (the pattern
    that punishes engines without predicate normalization)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n"),
    )


_Q17_ORACLE = """
WITH avg_qty AS (
  SELECT l_partkey, AVG(l_quantity) AS aq FROM lineitem GROUP BY l_partkey
)
SELECT l.l_partkey,
  ROUND(SUM(l.l_extendedprice), 2) AS small_lot_revenue,
  CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem l JOIN avg_qty a ON l.l_partkey = a.l_partkey
WHERE l.l_quantity < 0.5e0 * a.aq
GROUP BY l.l_partkey
"""


@register("q17_small_lot", _Q17_ORACLE)
def q17_small_lot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shape: correlated avg subquery, decorrelated to an aggregate
    self-join (what Catalyst does to the subquery form anyway — written
    explicitly so the shuffle count is visible and intentional)."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(F.avg("l_quantity").alias("aq"))
    return (
        li.join(avg_qty, li.l_partkey == avg_qty.ak)
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("small_lot_revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
)
SELECT c.c_custkey, o.o_orderkey, ROUND(SUM(l.l_quantity), 2) AS total_qty
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_custkey, o.o_orderkey
"""


@register("q18_large_orders", _Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shape: HAVING-filtered semi join into a grouped join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "bk"), li.l_orderkey == F.col("bk"), "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "o_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@register("q5_nation_volume", _Q5_ORACLE)
def q5_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q7-shaped nation-pair volume: the DISJUNCTIVE join predicate anchor —
# two nation lookups with an OR across both orderings of the pair.
# ---------------------------------------------------------------------------
_Q7_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
  ROUND(SUM(l.l_extendedprice * (1e0 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, o_year
"""


@register("q7_nation_pair_volume", _Q7_ORACLE)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # Catalyst can't decompose the pair OR across two join keys, but its
    # implied single-side predicates CAN be applied by hand: both nations
    # must be in {NATION_1, NATION_2}. Reducing supplier and customer to
    # those nations FIRST (broadcast inner joins against the 2-row nation
    # slice) shrinks BOTH fact streams ~|nations|/2× before the only
    # shuffle join, instead of shuffling the full lineitem×orders volume
    # and filtering afterwards (VERDICT r4 task 5: q7 drifted +28% vs r2).
    n_pair = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    supp2 = supp.select("s_suppkey", "s_nationkey").join(
        F.broadcast(n_pair.select(F.col("n_nationkey").alias("s_nk"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", "supp_nation")
    cust2 = cust.select("c_custkey", "c_nationkey").join(
        F.broadcast(n_pair.select(F.col("n_nationkey").alias("c_nk"),
                                  F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("c_nk"),
    ).select("c_custkey", "cust_nation")
    # no broadcast hint on the fact⋈slice joins: at bench scale AQE turns
    # them into broadcast joins from runtime sizes; at 100 TB the reduced
    # customer slice is still ~SF×12k rows and must be allowed to shuffle
    li2 = li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount").join(
        supp2, F.col("l_suppkey") == F.col("s_suppkey")
    )
    ord2 = orders.select("o_orderkey", "o_custkey", "o_orderdate").join(
        cust2, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        li2.join(ord2, F.col("l_orderkey") == F.col("o_orderkey"))
        # both sides are now nation-reduced; the disjunction collapses to
        # "different nation" since each side is one of the two
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q12-shaped two-tier counts: disjunctive IN filter + CASE-bucketed counts
# (classic Q12 uses l_shipmode; this corpus carries the same shape on
# l_returnflag × o_orderpriority).
# ---------------------------------------------------------------------------
_Q12_ORACLE = """
SELECT l.l_returnflag,
  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
    AS high_line_count,
  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
    AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE (l.l_returnflag = 'A' OR l.l_returnflag = 'R')
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_returnflag
"""


@register("q12_priority_counts", _Q12_ORACLE)
def q12_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        ((F.col("l_returnflag") == "A") | (F.col("l_returnflag") == "R"))
        & (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q14-shaped promo revenue ratio: conditional-sum / sum over the part join
# inside one month.
# ---------------------------------------------------------------------------
_Q14_ORACLE = """
SELECT ROUND(
  1e2 * SUM(CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1e0 - l.l_discount) ELSE 0e0 END)
      / SUM(l.l_extendedprice * (1e0 - l.l_discount)), 4) AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


# ---------------------------------------------------------------------------
# Q6-shaped forecast-revenue filter-aggregate: the pure pushdown showcase —
# three range predicates reaching the parquet scan, one global sum, no join.
# ---------------------------------------------------------------------------
_Q6_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q13-shaped order-count distribution: LEFT join keeping customers with no
# orders, then a second aggregation over the first's result (count-of-counts).
# ---------------------------------------------------------------------------
_Q13_ORACLE = """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""


@register("q13_order_distribution", _Q13_ORACLE)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# ---------------------------------------------------------------------------
# Q16-shaped supplier-count-by-part-class: anti join against a "complaint"
# supplier set + COUNT(DISTINCT) per (brand, type, size) — classic TPC-H Q16
# on the lineitem part-supplier relation (this corpus has no partsupp).
# ---------------------------------------------------------------------------
_Q16_ORACLE = """
SELECT p.p_brand, p.p_type, CAST(p.p_size AS INT) AS p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_size IN (9, 14, 19, 23, 36, 45, 49, 3)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0e0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register("q16_supplier_part_counts", _Q16_ORACLE)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(9, 14, 19, 23, 36, 45, 49, 3)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    complainers = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    return (
        li.join(complainers, li.l_suppkey == complainers.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q8-shaped market share: conditional-sum ratio per year — the share of one
# supplier nation inside a region's part-filtered order volume. Exercises a
# 6-table join with the ratio computed in one aggregation pass.
# ---------------------------------------------------------------------------
_Q8_ORACLE = """
SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
  ROUND(SUM(CASE WHEN n2.n_name = 'NATION_3'
                 THEN l.l_extendedprice * (1e0 - l.l_discount) ELSE 0e0 END)
        / SUM(l.l_extendedprice * (1e0 - l.l_discount)), 6) AS mkt_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'STANDARD'
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'ASIA'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
GROUP BY o_year
"""


@register("q8_market_share", _Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = load_table(spark, sf_dir, "supplier")
    # customers reduce to the region FIRST (broadcast nation⋈region), the
    # same dim-side pre-reduction q7 uses, so the orders join shrinks early
    cust_asia = cust.select("c_custkey", "c_nationkey").join(
        F.broadcast(
            nation.join(region, nation.n_regionkey == region.r_regionkey)
            .select(F.col("n_nationkey").alias("c_nk"))
        ),
        F.col("c_nationkey") == F.col("c_nk"),
    ).select("c_custkey")
    supp_n = supp.select("s_suppkey", "s_nationkey").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("s_nk"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", "supp_nation")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q9-shaped profit by nation and year: name-filtered part scan fanning into
# a 5-table join, grouped by (supplier nation, order year).
# ---------------------------------------------------------------------------
_Q9_ORACLE = """
SELECT n.n_name AS nation, CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
  ROUND(SUM(l.l_extendedprice * (1e0 - l.l_discount)), 4) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY nation, o_year
"""


@register("q9_nation_profit", _Q9_ORACLE)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    supp_n = supp.select("s_suppkey", "s_nationkey").join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    return (
        li.select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4
            ).alias("profit")
        )
    )


# ---------------------------------------------------------------------------
# Q22-shaped dormant-rich-customer count: scalar AVG subquery feeding a
# filter + anti join against orders, grouped by a derived segment key.
# ---------------------------------------------------------------------------
_Q22_ORACLE = """
WITH rich AS (
  SELECT c_custkey, c_custkey % 7 AS seg, c_acctbal
  FROM customer
  WHERE c_custkey % 7 IN (1, 2, 3, 5, 6)
    AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0e0)
)
SELECT CAST(seg AS BIGINT) AS seg, CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM rich
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = rich.c_custkey AND o.o_orderpriority = '1-URGENT'
)
GROUP BY seg
"""


@register("q22_dormant_rich", _Q22_ORACLE)
def q22_dormant_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("a"))
    )
    rich = (
        cust.withColumn("seg", F.col("c_custkey") % 7)
        .filter(F.col("seg").isin(1, 2, 3, 5, 6))
        .crossJoin(F.broadcast(avg_bal))  # scalar subquery as 1-row broadcast
        .filter(F.col("c_acctbal") > F.col("a"))
        .select("c_custkey", "seg", "c_acctbal")
    )
    # anti join against URGENT orders only — "has never placed an urgent
    # order"; a plain no-orders predicate is vacuous on this synthetic
    # corpus (orders cover every custkey), which would make the anchor a
    # 0-row hash that can't catch anything
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register("q14_promo_revenue", _Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_type")),
                li.l_partkey == F.col("p_partkey"))
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q11-shaped — important stock: per-part value for one nation's suppliers,
# kept when above 1.5x the mean part value. The threshold is expressed in
# integer-decimal form (val * n * 2 > total * 3) so it is EXACT in both
# engines and scale-invariant (a fixed fraction-of-total multiplier goes
# vacuous as the part count grows — measured 52 rows at sf0.01 vs 0 at
# sf0.1; the mean-relative form keeps ~19% at both).
# ---------------------------------------------------------------------------
_Q11_ORACLE = """
WITH v AS MATERIALIZED (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                  * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(20,4)) AS val
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
),
tot AS (
  SELECT CAST(SUM(val) AS DECIMAL(24,4)) AS total, CAST(COUNT(*) AS INT) AS n FROM v
)
SELECT l_partkey, CAST(val AS DOUBLE) AS value
FROM v, tot
WHERE val * n * 2 > total * 3
"""


@register("q11_important_stock", _Q11_ORACLE)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(14,2)")
         * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")).alias("dec_val"),
    )
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    v = (
        li.join(F.broadcast(sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("dec_val").cast("decimal(20,4)").alias("val"))
    )
    tot = v.agg(
        F.sum("val").cast("decimal(24,4)").alias("total"),
        F.count(F.lit(1)).cast("int").alias("n"),
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("val") * F.col("n") * 2 > F.col("total") * 3)
        .select("l_partkey", F.col("val").cast("double").alias("value"))
    )


# ---------------------------------------------------------------------------
# Q15-shaped — top supplier: quarterly revenue per supplier, keep the
# supplier(s) AT the maximum (aggregate-of-aggregate + join-back; revenue
# in DECIMAL so the equality against MAX is exact cross-engine).
# ---------------------------------------------------------------------------
_Q15_ORACLE = """
WITH rev AS MATERIALIZED (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(14,2))
             * CAST(1 - l_discount AS DECIMAL(4,2))) AS tr
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-04-01'
    AND l_shipdate < TIMESTAMP '1995-07-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(tr AS DOUBLE) AS total_revenue
FROM rev
JOIN supplier ON s_suppkey = l_suppkey
WHERE tr = (SELECT MAX(tr) FROM rev)
"""


@register("q15_top_supplier", _Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-04-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(14,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
        ).alias("tr")
    )
    maxr = rev.agg(F.max("tr").alias("m"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(maxr))
        .filter(F.col("tr") == F.col("m"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("tr").cast("double").alias("total_revenue"))
    )


# ---------------------------------------------------------------------------
# Q20-shaped — dominant suppliers: suppliers shipping more than half of a
# part's 1995 volume, for the 'small%' part family (correlated per-part
# threshold; integer-decimal comparison, exact both engines).
# ---------------------------------------------------------------------------
_Q20_ORACLE = """
WITH sp AS MATERIALIZED (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS q
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1996-01-01'
  GROUP BY l_partkey, l_suppkey
),
pt AS (SELECT l_partkey, CAST(SUM(q) AS DECIMAL(24,2)) AS pq FROM sp GROUP BY l_partkey)
SELECT DISTINCT s_suppkey, s_name, n_name
FROM sp
JOIN pt USING (l_partkey)
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE q * 2 > pq
"""


@register("q20_dominant_supplier", _Q20_ORACLE)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    sp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("q")
    )
    pt = sp.groupBy("l_partkey").agg(F.sum("q").cast("decimal(24,2)").alias("pq"))
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        sp.join(pt, "l_partkey")
        .filter(F.col("q") * 2 > F.col("pq"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Q21-shaped — suppliers who kept orders waiting: a finished multi-supplier
# order where exactly ONE supplier shipped late (>90 days after the order
# date) pins the blame on that supplier. Formulated as two aggregations
# (per order-supplier lateness, per order supplier/late counts) — the
# join-based equivalent of Q21's EXISTS / NOT EXISTS pair.
# ---------------------------------------------------------------------------
_Q21_ORACLE = """
WITH ls AS MATERIALIZED (
  SELECT o_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS late
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY o_orderkey, l_suppkey
),
oo AS (
  SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_supp, CAST(SUM(late) AS BIGINT) AS n_late
  FROM ls GROUP BY o_orderkey
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM ls
JOIN oo USING (o_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE late = 1 AND n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("q21_waiting_supplier", _Q21_ORACLE)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        1,
    ).otherwise(0)
    ls = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    oo = ls.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        ls.join(oo, "o_orderkey")
        .filter((F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
