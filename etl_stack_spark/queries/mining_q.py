"""Mining-family coverage: market-basket pair affinity, per-document
TF·IDF keyword extraction, and real point-in-polygon containment —
each integer-exact cross-engine with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.affinity import basket_pair_affinity
from etl_stack_spark.operators.polygon import point_in_polygon
from etl_stack_spark.operators.text import tfidf_keywords
from etl_stack_spark.queries import register
from etl_stack_spark.session import load_table

# ---------------------------------------------------------------------------
# MB1 — market-basket pair affinity over order line items: which parts
# ship together? Support + exact integer lift (see operators/affinity.py
# for the 100 TB shape: one basket-keyed shuffle, bounded k² fan-out).
# ---------------------------------------------------------------------------
_MB1_ORACLE = """
WITH b AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
),
n AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM b),
ic AS MATERIALIZED (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM b GROUP BY item
),
co AS (
  SELECT a.item AS item_a, c.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM b a JOIN b c ON a.basket = c.basket AND a.item < c.item
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT item_a, item_b, n_ab,
       ia.n_item AS n_a, ib.n_item AS n_b,
       CAST((1000 * n_ab * n_baskets) // (ia.n_item * ib.n_item) AS BIGINT)
         AS lift_milli
FROM co JOIN ic ia ON ia.item = item_a JOIN ic ib ON ib.item = item_b, n
ORDER BY n_ab DESC, item_a, item_b
LIMIT 100
"""


@register("mb1_pair_affinity", _MB1_ORACLE)
def mb1_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return basket_pair_affinity(
        li, basket_col="l_orderkey", item_col="l_partkey", min_support=2, top_k=100
    ).select(
        F.col("item_a"), F.col("item_b"), "n_ab", "n_a", "n_b", "lift_milli"
    )


# ---------------------------------------------------------------------------
# KW1 — per-document TF·IDF keywords (top-3); milli-nat idf, BIGINT score.
# ---------------------------------------------------------------------------
_KW1_ORACLE = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
  FROM documents
),
tf AS MATERIALIZED (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, tok
),
dfreq AS MATERIALIZED (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok AS keyword, tf.tf,
         CAST(floor(ln((1e0 * n_docs) / df) * 1000 + 0.5) AS BIGINT) AS idf_milli
  FROM tf JOIN dfreq USING (tok), n
)
SELECT doc_id, keyword, tf, idf_milli,
       CAST(tf * idf_milli AS BIGINT) AS score_milli,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, tf * idf_milli AS s,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tf * idf_milli DESC, keyword) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


@register("kw1_tfidf_keywords", _KW1_ORACLE)
def kw1_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_keywords(docs, id_col="doc_id", text_col="text", k=3)


# ---------------------------------------------------------------------------
# GP1 — point-in-polygon (PNPOLY even-odd ray cast) over deterministic
# synthetic zones; customers placed on a 0..100 grid from c_custkey via
# exact integer arithmetic (both engines derive identical doubles).
# The four rings include two concave shapes so the even-odd rule is
# actually exercised (a bbox test would get those wrong).
# ---------------------------------------------------------------------------
_GP1_POLYGONS = [
    (1, [(5.23, 5.17), (38.91, 8.41), (31.57, 39.73), (9.11, 33.29), (5.23, 5.17)]),
    (2, [(45.03, 52.11), (93.47, 55.23), (69.91, 94.87), (45.03, 52.11)]),
    (
        3,
        [
            (52.19, 5.07),
            (94.83, 7.93),
            (92.11, 44.17),
            (73.57, 23.09),
            (55.13, 41.87),
            (52.19, 5.07),
        ],
    ),
    (
        4,
        [
            (8.17, 55.91),
            (35.73, 58.13),
            (33.11, 91.47),
            (21.03, 72.19),
            (10.91, 89.53),
            (8.17, 55.91),
        ],
    ),
]


def _gp1_edges_values() -> str:
    rows = []
    for pid, ring in _GP1_POLYGONS:
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            rows.append(f"({pid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    return ",\n    ".join(rows)


_GP1_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey,
         ((c_custkey * 37) % 1000) / 10.0 AS px,
         ((c_custkey * 91) % 1000) / 10.0 AS py
  FROM customer
),
edges(poly_id, x1, y1, x2, y2) AS (
  VALUES
    {_gp1_edges_values()}
),
cr AS (
  SELECT c_custkey, poly_id, COUNT(*) AS k
  FROM pts JOIN edges
    ON ((y1 > py) <> (y2 > py))
   AND (px < x1 + (x2 - x1) * (py - y1) / (y2 - y1))
  GROUP BY 1, 2
)
SELECT c_custkey, CAST(poly_id AS INT) AS poly_id FROM cr WHERE k % 2 = 1
"""


# ---------------------------------------------------------------------------
# ER1 — entity resolution: blocked fuzzy match (fz1's shape, tighter
# threshold) → similarity edge graph → connected components → every
# name labeled with its canonical entity (min node id in the
# component) and the canonical spelling. The classic MDM / author-dedup
# pipeline as ONE composed query; oracle = recursive-CTE reachability
# (the dd6/a4b pattern).
#
# 100 TB shapes: the match graph is built from a BLOCKED self-join
# (first-token equi-key — O(block²), never O(n²)); components use the
# pointer-jumping loop of operators/graph.py (edge-keyed equi-joins,
# lineage truncated per round); the canonical join-back broadcasts the
# component→name map only if small (it is entity-cardinality).
# ---------------------------------------------------------------------------
_ER1_ORACLE = """
WITH RECURSIVE
names AS MATERIALIZED (
  SELECT lower(p_name) AS nm, CAST(MIN(p_partkey) AS BIGINT) AS nid,
         split_part(lower(p_name), ' ', 1) AS blk
  FROM part GROUP BY lower(p_name)
),
m AS MATERIALIZED (
  SELECT a.nid AS src, b.nid AS dst
  FROM names a JOIN names b ON a.blk = b.blk AND a.nid < b.nid
  WHERE 1e0 - levenshtein(a.nm, b.nm) / greatest(len(a.nm), len(b.nm)) >= 0.6
),
edges AS (SELECT src, dst FROM m UNION SELECT dst, src FROM m),
reach AS (
  SELECT nid AS p, nid AS q FROM names
  UNION
  SELECT r.p, e.dst FROM reach r JOIN edges e ON r.q = e.src
),
cc AS (SELECT p AS nid, CAST(MIN(q) AS BIGINT) AS entity_id FROM reach GROUP BY p)
SELECT n.nm, cc.entity_id, cn.nm AS canonical_nm,
       CAST(COUNT(*) OVER (PARTITION BY cc.entity_id) AS BIGINT) AS n_members
FROM names n JOIN cc ON n.nid = cc.nid JOIN names cn ON cn.nid = cc.entity_id
"""


@register("er1_entity_resolution", _ER1_ORACLE)
def er1_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_stack_spark.operators.graph import connected_components

    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy(F.lower("p_name").alias("nm"))
        .agg(F.min("p_partkey").cast("long").alias("nid"))
        .withColumn("blk", F.get(F.split(F.col("nm"), " "), 0))
    )
    a = names.select(F.col("nm").alias("nm_a"), F.col("nid").alias("src"), "blk")
    b = names.select(F.col("nm").alias("nm_b"), F.col("nid").alias("dst"), "blk")
    sim = F.lit(1.0) - F.levenshtein("nm_a", "nm_b") / F.greatest(
        F.length("nm_a"), F.length("nm_b")
    )
    edges = (
        a.join(b, "blk")
        .filter((F.col("src") < F.col("dst")) & (sim >= 0.6))
        .select("src", "dst")
    )
    cc = connected_components(
        names.select("nid"),
        edges,
        id_col="nid",
        src_col="src",
        dst_col="dst",
        # the name graph is entity-scale (vocabulary of distinct names,
        # not corpus rows); size the loop's shuffles accordingly
        loop_shuffle_partitions=8,
    ).withColumnRenamed("component_id", "entity_id")
    canon = names.select(
        F.col("nid").alias("entity_id"), F.col("nm").alias("canonical_nm")
    )
    # only component representatives can match the entity_id join — semi-
    # join first so the broadcast is entity-cardinality (clusters), not
    # vocabulary-cardinality (every distinct name)
    canon = canon.join(
        cc.select("entity_id").distinct(), "entity_id", "left_semi"
    )
    out = (
        names.join(cc, "nid")
        .join(F.broadcast(canon), "entity_id")
        .select("nm", "entity_id", "canonical_nm")
    )
    w = Window.partitionBy("entity_id")
    return out.withColumn("n_members", F.count(F.lit(1)).over(w).cast("long"))


@register("gp1_point_in_polygon", _GP1_ORACLE)
def gp1_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        (((F.col("c_custkey") * 37) % 1000) / F.lit(10.0)).alias("px"),
        (((F.col("c_custkey") * 91) % 1000) / F.lit(10.0)).alias("py"),
    )
    return point_in_polygon(
        pts, _GP1_POLYGONS, point_id="c_custkey", x_col="px", y_col="py"
    ).select("c_custkey", F.col("poly_id").cast("int").alias("poly_id"))


# ---------------------------------------------------------------------------
# DB1 — DBSCAN density clustering over synthesized planar points (the
# gp1 coordinate recipe): core/border/noise roles plus min-id cluster
# labels, checked against a recursive-CTE oracle that re-derives the
# same fixpoint. eps/min_pts picked so ALL THREE roles are non-vacuous
# at sf0.01 AND sf0.1 (density grows 10x between them).
# ---------------------------------------------------------------------------
_DB1_EPS = 1.5
_DB1_MINPTS = 4

_DB1_ORACLE = f"""
WITH RECURSIVE pts AS MATERIALIZED (
  SELECT c_custkey AS id,
         ((c_custkey * 37) % 1000) / 10.0 AS x,
         ((c_custkey * 91) % 1000) / 10.0 AS y
  FROM customer
),
pairs AS MATERIALIZED (
  SELECT a.id AS i, b.id AS j FROM pts a JOIN pts b
  ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_DB1_EPS * _DB1_EPS!r}
),
nb AS (SELECT i, COUNT(*) AS n FROM pairs GROUP BY i),
core AS MATERIALIZED (SELECT i FROM nb WHERE n >= {_DB1_MINPTS}),
core_edges AS (
  SELECT p.i, p.j FROM pairs p
  JOIN core c1 ON c1.i = p.i JOIN core c2 ON c2.i = p.j
  WHERE p.i <> p.j
),
reach(i, lbl) AS (
  SELECT i, i FROM core
  UNION
  SELECT e.i, r.lbl FROM core_edges e JOIN reach r ON r.i = e.j
),
clusters AS MATERIALIZED (SELECT i, CAST(MIN(lbl) AS BIGINT) AS cluster_id FROM reach GROUP BY i),
border AS MATERIALIZED (
  SELECT p.i, CAST(MIN(c.cluster_id) AS BIGINT) AS cluster_id
  FROM pairs p JOIN clusters c ON c.i = p.j
  WHERE p.i NOT IN (SELECT i FROM core)
  GROUP BY p.i
)
SELECT id, role, cluster_id FROM (
  SELECT i AS id, 'core' AS role, cluster_id FROM clusters
  UNION ALL
  SELECT i AS id, 'border' AS role, cluster_id FROM border
  UNION ALL
  SELECT id, 'noise' AS role, CAST(NULL AS BIGINT) AS cluster_id FROM pts
  WHERE id NOT IN (SELECT i FROM clusters) AND id NOT IN (SELECT i FROM border)
)
"""


@register("db1_dbscan", _DB1_ORACLE)
def db1_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.density import dbscan

    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 37) % 1000) / F.lit(10.0)).alias("x"),
        (((F.col("c_custkey") * 91) % 1000) / F.lit(10.0)).alias("y"),
    )
    return dbscan(
        pts, "id", "x", "y", eps=_DB1_EPS, min_pts=_DB1_MINPTS,
        # the core graph is point-cardinality (entity-scale, the er1 class)
        loop_shuffle_partitions=8,
    )
