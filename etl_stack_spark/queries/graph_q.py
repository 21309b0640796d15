"""pr1 — PageRank over the nation trade graph (edges: customer-nation →
supplier-nation pairs observed in orders×lineitem), fixed 3 iterations
in scaled-integer arithmetic so the oracle comparison is exact (see
operators/graph.py:pagerank for the portability rationale and the 100 TB
join shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.graph import pagerank, pagerank_oracle_sql
from etl_stack_spark.queries import register
from etl_stack_spark.session import load_table

_EDGES_CTE = """
SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
"""


@register("pr1_nation_pagerank", pagerank_oracle_sql(_EDGES_CTE, iterations=3))
def pr1_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    edges = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), supp.s_suppkey == li.l_suppkey)
        .select(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .distinct()
    )
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    )
    return pagerank(nodes, edges, iterations=3, id_col="node")


# ---------------------------------------------------------------------------
# TC1 — exact triangle count over the nation trade graph (degree-ordered
# orientation; see operators/graph.py:triangle_count for the O(sqrt(E))
# fan-out bound). The oracle replicates the same orientation, so the
# count matches exactly — each triangle closes exactly one rank-ordered
# wedge.
# ---------------------------------------------------------------------------
_TC1_ORACLE = f"""
WITH e0 AS MATERIALIZED ({_EDGES_CTE}),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM e0 WHERE src <> dst
),
deg AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT lo AS n FROM und UNION ALL SELECT hi AS n FROM und)
  GROUP BY n
),
o AS MATERIALIZED (
  SELECT CASE WHEN (dl.d, u.lo) < (dh.d, u.hi) THEN u.lo ELSE u.hi END AS s,
         CASE WHEN (dl.d, u.lo) < (dh.d, u.hi) THEN u.hi ELSE u.lo END AS t
  FROM und u JOIN deg dl ON dl.n = u.lo JOIN deg dh ON dh.n = u.hi
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM o e1
JOIN o e2 ON e2.s = e1.s AND e1.t <> e2.t
JOIN o e3 ON e3.s = e1.t AND e3.t = e2.t
"""


@register("tc1_triangle_count", _TC1_ORACLE)
def tc1_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.graph import triangle_count

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    edges = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, lineitem["l_suppkey"] == supplier["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .distinct()
    )
    return triangle_count(edges)


# ---------------------------------------------------------------------------
# BFS1 — hop distance from nation 0 over the DIRECTED trade graph
# (customer-nation → supplier-nation). Oracle: recursive CTE with the
# same diameter cap the engine's frontier loop uses; MIN(dist) per node
# collapses revisits. Levels 0/1/2 all occur on the sampled graph.
# ---------------------------------------------------------------------------
_BFS1_ORACLE = f"""
WITH RECURSIVE e AS MATERIALIZED ({_EDGES_CTE}),
walk AS (
  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
  UNION
  SELECT CAST(e.dst AS BIGINT), w.dist + 1
  FROM walk w JOIN e ON CAST(e.src AS BIGINT) = w.node
  WHERE w.dist < 25
)
SELECT node, CAST(MIN(dist) AS BIGINT) AS level FROM walk GROUP BY node
"""


@register("bfs1_trade_hops", _BFS1_ORACLE)
def bfs1_trade_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.graph import bfs_levels

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    edges = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(supplier, lineitem["l_suppkey"] == supplier["s_suppkey"])
        .select(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .distinct()
    )
    sources = spark.range(1).select(F.lit(0).cast("long").alias("node"))
    return bfs_levels(edges, sources, id_col="node", max_iter=25)


# ---------------------------------------------------------------------------
# HF1 — hierarchy flattening (the recursive-dimension classic: category
# trees, org charts, BOM roll-ups): a synthetic 4-ary forest over the
# part keys (parent = k DIV 4; keys 1-3 are roots), flattened to
# (node, root, depth) by pointer DOUBLING — ceil(log2 depth) rounds,
# each one equi-join (see operators/graph.py:flatten_hierarchy). The
# oracle descends the same forest with a recursive CTE.
# ---------------------------------------------------------------------------
_HF1_ORACLE = """
WITH RECURSIVE par AS MATERIALIZED (
  SELECT p_partkey AS n,
         CASE WHEN p_partkey // 4 >= 1 THEN p_partkey // 4 END AS p
  FROM part
),
climb(n, root, d) AS (
  SELECT n, n, 0 FROM par WHERE p IS NULL
  UNION ALL
  SELECT c.n, climb.root, climb.d + 1 FROM par c JOIN climb ON climb.n = c.p
)
SELECT n AS node, CAST(root AS BIGINT) AS root, CAST(d AS INT) AS depth FROM climb
"""


@register("hf1_hierarchy_flatten", _HF1_ORACLE)
def hf1_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.graph import flatten_hierarchy

    part = load_table(spark, sf_dir, "part")
    parents = part.select(
        F.col("p_partkey").alias("node"),
        F.when(
            F.expr("p_partkey DIV 4") >= 1, F.expr("p_partkey DIV 4")
        ).alias("parent"),
    )
    return flatten_hierarchy(parents)
