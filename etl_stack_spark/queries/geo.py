"""Geo operator queries (P21-P23, J6, A4, A2/A3 geo metrics, T1 lead-prep).

Properties are synthesized from ``customer``, POIs from ``part`` — both as
deterministic lat/lon grids around the reference's Costa Rica coordinates,
identically in Spark and the DuckDB oracle. The oracle computes the radius
join by brute force (fine at sf0.01); the engine uses the grid-cell
prefilter — parity proves the prefilter loses nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_stack_spark.functions.geo import haversine_km
from etl_stack_spark.operators.rank import tiered_top_k
from etl_stack_spark.queries import register, stores
from etl_stack_spark.session import load_table

# Per-category config — shape mirrors cl_config_lead_prep.json (radius_km,
# top-k, anchor/priority brand tiers). Small, curated → broadcast literal.
CATEGORIES = {
    "Convenience": {"radius_km": 3.0, "k": 5, "anchor": ["Brand#11", "Brand#12"], "priority": ["Brand#13", "Brand#21"]},
    "Education": {"radius_km": 10.0, "k": 3, "anchor": ["Brand#22", "Brand#23"], "priority": ["Brand#31"]},
    "Health": {"radius_km": 8.0, "k": 4, "anchor": ["Brand#32", "Brand#33"], "priority": ["Brand#41"]},
    "Shopping": {"radius_km": 5.0, "k": 5, "anchor": ["Brand#42", "Brand#43"], "priority": ["Brand#51", "Brand#52"]},
}
MAX_RADIUS_KM = max(c["radius_km"] for c in CATEGORIES.values())

# --- shared synthesis: Spark side ------------------------------------------


def props_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        F.col("c_custkey").alias("prop_id"),
        (F.lit(9.5) + (F.col("c_custkey") % 250) * 0.0024).alias("lat"),
        (F.lit(-84.3) + ((F.col("c_custkey") / F.lit(250)).cast("long") % 250) * 0.0024).alias("lon"),
    )


def pois_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey") % 4
    category = (
        F.when(k == 0, "Convenience").when(k == 1, "Education")
        .when(k == 2, "Health").otherwise(F.lit("Shopping"))
    )
    return part.select(
        F.col("p_partkey").alias("poi_id"),
        category.alias("category"),
        F.col("p_brand").alias("brand"),
        ((F.col("p_size") % 10) * 5).cast("int").alias("quality_score"),
        (F.lit(9.5) + (F.col("p_partkey") % 300) * 0.002).alias("poi_lat"),
        (F.lit(-84.3) + ((F.col("p_partkey") / F.lit(300)).cast("long") % 300) * 0.002).alias("poi_lon"),
    )


# --- shared synthesis: DuckDB side (same math, SQL dialect) ----------------

_PROPS_SQL = """
  SELECT c_custkey AS prop_id,
         9.5e0 + (c_custkey % 250) * 2.4e-3 AS lat,
         -84.3e0 + (CAST(trunc(c_custkey / 250) AS BIGINT) % 250) * 2.4e-3 AS lon
  FROM customer
"""

_POIS_SQL = """
  SELECT p_partkey AS poi_id,
         CASE p_partkey % 4 WHEN 0 THEN 'Convenience' WHEN 1 THEN 'Education'
              WHEN 2 THEN 'Health' ELSE 'Shopping' END AS category,
         p_brand AS brand,
         CAST((p_size % 10) * 5 AS INT) AS quality_score,
         9.5e0 + (p_partkey % 300) * 2e-3 AS poi_lat,
         -84.3e0 + (CAST(trunc(p_partkey / 300) AS BIGINT) % 300) * 2e-3 AS poi_lon
  FROM part
"""

_HAVERSINE_SQL = (
    "2e0 * 6371e0 * asin(sqrt("
    "sin(radians(poi_lat - lat) / 2e0) * sin(radians(poi_lat - lat) / 2e0)"
    " + cos(radians(lat)) * cos(radians(poi_lat))"
    " * sin(radians(poi_lon - lon) / 2e0) * sin(radians(poi_lon - lon) / 2e0)))"
)

_RADIUS_CASE = (
    "CASE category WHEN 'Convenience' THEN 3e0 WHEN 'Education' THEN 10e0 "
    "WHEN 'Health' THEN 8e0 ELSE 5e0 END"
)


# Exactness-safe box prefilter for the brute-force oracles: 0.15 deg is
# >= 16km of latitude (and >= 16km of longitude at this latitude), and
# every radius in _RADIUS_CASE is <= 10km — the box strictly contains
# any qualifying circle, so the prefilter can never drop a true match;
# it only spares the 33M-pair transcendental evaluation.
_BOX_PREFILTER = "WHERE abs(poi_lat - lat) <= 15e-2 AND abs(poi_lon - lon) <= 15e-2"


# ---------------------------------------------------------------------------
# P21/P22 — haversine distance + walkable flag against a fixed point (SJO)
# ---------------------------------------------------------------------------
_P21_ORACLE = f"""
WITH props AS ({_PROPS_SQL})
SELECT prop_id,
  round(2e0 * 6371e0 * asin(sqrt(
    sin(radians(9.9281e0 - lat) / 2e0) * sin(radians(9.9281e0 - lat) / 2e0)
    + cos(radians(lat)) * cos(radians(9.9281e0))
    * sin(radians(-84.0907e0 - lon) / 2e0) * sin(radians(-84.0907e0 - lon) / 2e0))), 9) AS dist_km,
  (2e0 * 6371e0 * asin(sqrt(
    sin(radians(9.9281e0 - lat) / 2e0) * sin(radians(9.9281e0 - lat) / 2e0)
    + cos(radians(lat)) * cos(radians(9.9281e0))
    * sin(radians(-84.0907e0 - lon) / 2e0) * sin(radians(-84.0907e0 - lon) / 2e0))) < 1e0) AS is_walkable
FROM props
"""


@register("p21_haversine", _P21_ORACLE)
def p21_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    props = props_df(spark, sf_dir)
    d = haversine_km(F.col("lat"), F.col("lon"), F.lit(9.9281), F.lit(-84.0907))
    return props.select(
        "prop_id", F.round(d, 9).alias("dist_km"), (d < 1.0).alias("is_walkable")
    )


# ---------------------------------------------------------------------------
# P23 — bounding-box prefilter (cheap coarse stage)
# ---------------------------------------------------------------------------
# box centered on the synthesized grid's occupied lon band (-84.3 ±
# small): the earlier -84.1 center sat east of every property at small
# SFs, so the anchor matched 0 rows — a hash that can't catch anything
_P23_ORACLE = f"""
WITH props AS ({_PROPS_SQL})
SELECT prop_id FROM props
WHERE lat BETWEEN 9.7e0 - 5e-2 AND 9.7e0 + 5e-2 AND lon BETWEEN -84.29e0 - 5e-2 AND -84.29e0 + 5e-2
"""


@register("p23_bbox_filter", _P23_ORACLE)
def p23_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.functions.geo import bbox_filter

    props = props_df(spark, sf_dir)
    return props.filter(bbox_filter(F.col("lat"), F.col("lon"), 9.7, -84.29, 0.05)).select("prop_id")


# ---------------------------------------------------------------------------
# J6 — distance-bounded join with per-category radius: the central
# analytical join. Oracle = brute-force theta join; engine = grid prefilter.
# ---------------------------------------------------------------------------
# haversine computed ONCE per pair (a second copy in WHERE doubled the
# 33M-pair transcendental work and dominated the sf0.1 audit wall time)
_J6_ORACLE = f"""
WITH props AS MATERIALIZED ({_PROPS_SQL}), pois AS MATERIALIZED ({_POIS_SQL}),
pairs AS (
  SELECT prop_id, poi_id, category, {_HAVERSINE_SQL} AS d
  FROM props CROSS JOIN pois
  {_BOX_PREFILTER}
)
SELECT prop_id, poi_id, category, round(d, 9) AS distance_km
FROM pairs WHERE d <= {_RADIUS_CASE}
"""


@register("j6_radius_join", _J6_ORACLE)
def j6_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return j6_base(spark, sf_dir).select(
        "prop_id", "poi_id", "category", F.round("distance_km", 9).alias("distance_km")
    )


# ---------------------------------------------------------------------------
# T1 (geo form) — the Lead-Prep tiered top-k: per (property, category),
# rank anchor brands first, then priority, then rest; distance ASC,
# quality DESC; per-category k. THE showcase query (cl_test1.py:63-218
# as one distributed job instead of 8 queries × N properties).
# ---------------------------------------------------------------------------
def _tier_sql() -> str:
    lines = []
    for cat, cfg in CATEGORIES.items():
        anchors = ", ".join(f"'{b}'" for b in cfg["anchor"])
        prios = ", ".join(f"'{b}'" for b in cfg["priority"])
        lines.append(f"WHEN category = '{cat}' AND brand IN ({anchors}) THEN 0")
        lines.append(f"WHEN category = '{cat}' AND brand IN ({prios}) THEN 1")
    return "CASE " + " ".join(lines) + " ELSE 2 END"


_K_CASE = (
    "CASE category WHEN 'Convenience' THEN 5 WHEN 'Education' THEN 3 "
    "WHEN 'Health' THEN 4 ELSE 5 END"
)

_LEAD_TOPK_ORACLE = f"""
WITH props AS MATERIALIZED ({_PROPS_SQL}), pois AS MATERIALIZED ({_POIS_SQL}),
pairs AS (
  SELECT prop_id, poi_id, category, brand, quality_score,
         {_HAVERSINE_SQL} AS distance_km
  FROM props CROSS JOIN pois
  {_BOX_PREFILTER}
),
matched AS (
  SELECT * FROM pairs WHERE distance_km <= {_RADIUS_CASE}
),
ranked AS (
  SELECT *, {_tier_sql()} AS tier,
    ROW_NUMBER() OVER (
      PARTITION BY prop_id, category
      ORDER BY {_tier_sql()}, distance_km, quality_score DESC, poi_id
    ) AS rnk
  FROM matched
)
SELECT prop_id, category, poi_id, brand, tier, CAST(rnk AS INT) AS rnk, round(distance_km, 9) AS distance_km
FROM ranked WHERE rnk <= {_K_CASE}
"""


def lead_prep_rank(props: DataFrame, pois: DataFrame) -> DataFrame:
    """The full lead-prep computation from (props, pois) DataFrames:
    per-category radius join → tier CASE → per-(prop, category) top-k.
    Shared by the batch query (t1) and the streaming plan
    (plans/lead_prep_stream.py) — one implementation, two triggers."""
    from etl_stack_spark.operators.geo_join import radius_join_by_category

    matched = radius_join_by_category(
        props, pois, {k: c["radius_km"] for k, c in CATEGORIES.items()}
    )
    return lead_prep_rank_from_matched(matched)


def lead_prep_rank_from_matched(matched: DataFrame) -> DataFrame:
    """Tier CASE + per-(prop, category) top-k over an already-computed
    match stream — lets the t1 query rank the persisted ``j6_base``
    intermediate instead of recomputing the radius join. The ranking itself
    (concrete-k WindowGroupLimit form) lives in
    ``operators/rank.py::lead_prep_tiered_rank``, shared with the
    production/streaming plan so the paths cannot drift."""
    from etl_stack_spark.operators.rank import lead_prep_tiered_rank

    ranked = lead_prep_tiered_rank(matched, CATEGORIES)
    return ranked.select(
        "prop_id", "category", "poi_id", "brand", "tier", "rnk",
        F.round("distance_km", 9).alias("distance_km"),
    )


@register("t1_lead_prep_topk", _LEAD_TOPK_ORACLE)
def t1_lead_prep_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = _lead_rank_view(spark, sf_dir)
    return ranked.select(
        "prop_id", "category", "poi_id", "brand", "tier", "rnk",
        F.round("distance_km", 9).alias("distance_km"),
    )


# The matched (prop, poi, category, distance) stream is the shared input of
# the whole lead-prep family (j6, t1, t2, t6, a2a3) — each query used to
# recompute the radius join from scratch (VERDICT r4 task 2). It is a session
# store (queries/stores.py), persisted once per (session, sf_dir) and reused;
# MEMORY_AND_DISK so an sf where the match stream outgrows executor storage
# spills instead of evicting. On a cluster the same role is played by a
# checkpointed staging table the family reads — the reference computes all
# tiers from one query family per property (cl_test1.py:63-218).


def clear_j6_cache() -> None:
    """Unpersist and drop this module's session stores (test/debug hook)."""
    stores.clear(__name__)


@stores.session_store
def j6_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unrounded radius-join result reused by the ranked/metric queries.
    Uses the per-category grid (each category's cells sized to its own
    radius) — the scale-optimal form. Projected to the family's working
    superset BEFORE the persist: lat/lon pairs are join scaffolding no
    downstream consumer reads, and dropping them cuts the cached bytes."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.geo_join import radius_join_by_category

    props = props_df(spark, sf_dir)
    pois = pois_df(spark, sf_dir)
    return radius_join_by_category(
        props, pois, {k: c["radius_km"] for k, c in CATEGORIES.items()}
    ).select(
        "prop_id", "poi_id", "category", "brand", "quality_score", "distance_km"
    ).persist(StorageLevel.MEMORY_AND_DISK)


@stores.session_store
def _lead_rank_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The family's SECOND persisted view (VERDICT r8 task 2): the tiered
    top-k REDUCTION of the match stream — ~props x categories x k rows
    (45k at sf0.1) instead of the 33M-row wide stream. t1 reads this;
    t2/t6 keep the wide stream (their orderings differ from the tier
    order, so the tier top-k is not a superset of theirs). At 100 TB
    this is a staging table written in the same pass that materializes
    the match stream; here it derives from the persisted wide view, so
    building it costs one cached-scan, never a join recompute."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.rank import lead_prep_tiered_rank

    return lead_prep_tiered_rank(j6_base(spark, sf_dir), CATEGORIES).persist(
        StorageLevel.MEMORY_AND_DISK
    )


@stores.session_store
def _lead_distance_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-ordered top-5 per (prop, category) — one persisted
    reduction serving BOTH t2 (the k=5 slice) and t6 (closest Education
    pick = the category's rnk-1 row, valid because Education's j6 radius
    is exactly t6's 10 km and t6's ordering matches this view's)."""
    from pyspark import StorageLevel

    matched = j6_base(spark, sf_dir).select(
        "prop_id", "category", "poi_id", "distance_km"
    )
    return tiered_top_k(
        matched,
        partition_by=["prop_id", "category"],
        order_by=[F.col("distance_km"), F.col("poi_id")],
        k=5,
        rank_col="rnk",
    ).persist(StorageLevel.MEMORY_AND_DISK)


@stores.session_store
def _lead_metrics_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The family's THIRD persisted view: a2a3's per-property aggregate
    (one row per property — counts and boolean flags only). The 33M-row
    stream passes through this groupBy ONCE; every subsequent a2a3 read
    is O(n_props). Same staging-table story at 100 TB as the rank view."""
    from pyspark import StorageLevel

    matched = j6_base(spark, sf_dir)
    walkable = F.count(F.when(F.col("distance_km") < 1.0, 1))
    grocery = F.coalesce(
        F.bool_or(
            (F.col("category") == "Convenience")
            & F.col("brand").isin(["Brand#11", "Brand#12"])
            & (F.col("distance_km") < 3.0)
        ),
        F.lit(False),
    )
    education = F.coalesce(F.bool_or(F.col("category") == "Education"), F.lit(False))
    return matched.groupBy("prop_id").agg(
        walkable.alias("n_walkable"),
        F.least(F.lit(10), F.floor(walkable / 2.0)).cast("int").alias("walk_score"),
        grocery.alias("has_premium_grocery"),
        education.alias("has_education"),
        (grocery & education).alias("is_premium_zone"),
    ).persist(StorageLevel.MEMORY_AND_DISK)


# ---------------------------------------------------------------------------
# A4b — TRANSITIVE cluster-merge against a recursive-CTE oracle.
# Points form chains: groups of 10, consecutive points ~13 m apart (merge
# pairwise) but chain ends ~120 m apart — exactly the buffer+dissolve
# semantics the reference's GeoPandas dissolve produces and a plain
# grid-cell grouping would get wrong. The oracle computes true connected
# components with WITH RECURSIVE over the ≤20 m edge set.
# ---------------------------------------------------------------------------
_A4B_POINTS_SQL = """
  SELECT p_partkey AS poi_id,
         9.5e0 + CAST(p_partkey // 10 AS BIGINT) * 5e-3
               + (p_partkey % 10) * 1.2e-4 AS lat,
         -84e0 AS lon
  FROM part WHERE p_partkey < 400
"""

_A4B_ORACLE = f"""
WITH RECURSIVE pts AS ({_A4B_POINTS_SQL}),
edges AS (
  SELECT a.poi_id AS a, b.poi_id AS b
  FROM pts a JOIN pts b ON
    2e0 * 6371e0 * asin(sqrt(
      sin(radians(b.lat - a.lat) / 2e0) * sin(radians(b.lat - a.lat) / 2e0)
      + cos(radians(a.lat)) * cos(radians(b.lat))
      * sin(radians(b.lon - a.lon) / 2e0) * sin(radians(b.lon - a.lon) / 2e0)
    )) <= 0.02e0
),
reach AS (
  SELECT poi_id AS p, poi_id AS q FROM pts
  UNION
  SELECT r.p, e.b FROM reach r JOIN edges e ON r.q = e.a
)
SELECT p AS poi_id, CAST(MIN(q) AS BIGINT) AS cluster_id
FROM reach GROUP BY p
"""


@register("a4b_transitive_clusters", _A4B_ORACLE)
def a4b_transitive_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.geo_join import cluster_points

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 400)
    pts = part.select(
        F.col("p_partkey").alias("poi_id"),
        (
            F.lit(9.5)
            + (F.col("p_partkey") / F.lit(10)).cast("long") * 0.005
            + (F.col("p_partkey") % 10) * 0.00012
        ).alias("lat"),
        F.lit(-84.0).alias("lon"),
    )
    # 400 points / ~1.1k edges: the CC loop would otherwise plan every
    # round at session width (the er1/db1 lever — see cluster_points).
    # Width 2, per the documented sizing rule (one core-worth of tasks
    # per ~64 MB of edges — this edge set is KB); measured 8→2 halves
    # the loop wall at sf0.1 because per-round cost here is task
    # scheduling, not data. ids_only skips the re-join with pts (the
    # query returns only the assignment anyway).
    return cluster_points(
        pts, radius_m=20.0, category_col=None,
        loop_shuffle_partitions=2, ids_only=True,
    )


# ---------------------------------------------------------------------------
# T2 — top-5-per-category slice (frontend map payload) — same window, k=5
# ---------------------------------------------------------------------------
_T2_ORACLE = f"""
WITH props AS MATERIALIZED ({_PROPS_SQL}), pois AS MATERIALIZED ({_POIS_SQL}),
pairs AS (
  SELECT prop_id, poi_id, category, {_HAVERSINE_SQL} AS distance_km
  FROM props CROSS JOIN pois
  {_BOX_PREFILTER}
),
matched AS (
  SELECT * FROM pairs WHERE distance_km <= {_RADIUS_CASE}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY prop_id, category ORDER BY distance_km, poi_id) AS rnk
  FROM matched
)
SELECT prop_id, category, poi_id, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 5
"""


@register("t2_top5_slice", _T2_ORACLE)
def t2_top5_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lead_distance_view(spark, sf_dir).select(
        "prop_id", "category", "poi_id", "rnk"
    )


# ---------------------------------------------------------------------------
# T6 — closest-of-category pick (closest school = first of sorted list)
# ---------------------------------------------------------------------------
_T6_ORACLE = f"""
WITH props AS MATERIALIZED ({_PROPS_SQL}), pois AS MATERIALIZED ({_POIS_SQL}),
pairs AS (
  SELECT prop_id, poi_id, category, {_HAVERSINE_SQL} AS distance_km
  FROM props CROSS JOIN (SELECT * FROM pois WHERE category = 'Education') pois
  {_BOX_PREFILTER}
),
matched AS (
  SELECT * FROM pairs WHERE distance_km <= 10e0
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY prop_id ORDER BY distance_km, poi_id) AS rn
  FROM matched
)
SELECT prop_id, poi_id AS closest_school, round(distance_km, 9) AS distance_km
FROM ranked WHERE rn = 1
"""


@register("t6_closest_pick", _T6_ORACLE)
def t6_closest_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Education's per-category radius in j6_base is exactly this query's
    # 10 km, and the shared distance view's ordering (distance, poi_id)
    # is t6's — so the closest school is the Education rnk-1 row.
    best = _lead_distance_view(spark, sf_dir).filter(
        (F.col("category") == "Education") & (F.col("rnk") == 1)
    )
    return best.select(
        "prop_id", F.col("poi_id").alias("closest_school"),
        F.round("distance_km", 9).alias("distance_km"),
    )


# ---------------------------------------------------------------------------
# A2/A3 (geo form) — walkability + premium-zone metrics per property,
# aggregated from the radius join in the same job.
# ---------------------------------------------------------------------------
_LEAD_METRICS_ORACLE = f"""
WITH props AS MATERIALIZED ({_PROPS_SQL}), pois AS MATERIALIZED ({_POIS_SQL}),
pairs AS (
  SELECT prop_id, category, brand, {_HAVERSINE_SQL} AS distance_km
  FROM props CROSS JOIN pois
  {_BOX_PREFILTER}
),
matched AS (
  SELECT * FROM pairs WHERE distance_km <= {_RADIUS_CASE}
)
SELECT prop_id,
  CAST(COUNT(CASE WHEN distance_km < 1e0 THEN 1 END) AS BIGINT) AS n_walkable,
  CAST(LEAST(10, FLOOR(COUNT(CASE WHEN distance_km < 1e0 THEN 1 END) / 2.0)) AS INT) AS walk_score,
  COALESCE(bool_or(category = 'Convenience' AND brand IN ('Brand#11', 'Brand#12')
                   AND distance_km < 3e0), false) AS has_premium_grocery,
  COALESCE(bool_or(category = 'Education'), false) AS has_education,
  (COALESCE(bool_or(category = 'Convenience' AND brand IN ('Brand#11', 'Brand#12')
                    AND distance_km < 3e0), false)
   AND COALESCE(bool_or(category = 'Education'), false)) AS is_premium_zone
FROM matched GROUP BY prop_id
"""


@register("a2a3_lead_metrics", _LEAD_METRICS_ORACLE)
def a2a3_lead_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lead_metrics_view(spark, sf_dir)


# ---------------------------------------------------------------------------
# A4 — cluster representative selection (single-cell form, SQL-checkable).
# Transitive connected-component clustering is operators/geo_join.py::
# cluster_points, pinned by unit tests (not SQL-expressible in one query).
# ---------------------------------------------------------------------------
_A4_ORACLE = f"""
WITH pois AS ({_POIS_SQL}),
cells AS (
  SELECT *, CAST(floor(poi_lat / 1.8e-4) AS BIGINT) * 100000
            + CAST(floor(poi_lon / 1.8e-4) AS BIGINT) AS cell
  FROM pois
),
ranked AS (
  SELECT category, cell, poi_id, brand,
    ROW_NUMBER() OVER (PARTITION BY category, cell
                       ORDER BY len(brand) DESC, poi_id) AS rn
  FROM cells
)
SELECT category, cell, poi_id AS rep_poi_id, brand AS rep_brand
FROM ranked WHERE rn = 1
"""


@register("a4_cluster_representative", _A4_ORACLE)
def a4_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    pois = pois_df(spark, sf_dir)
    cell = (
        F.floor(F.col("poi_lat") / 0.00018).cast("long") * 100000
        + F.floor(F.col("poi_lon") / 0.00018).cast("long")
    )
    w = Window.partitionBy("category", "cell").orderBy(
        F.length("brand").desc(), F.col("poi_id")
    )
    return (
        pois.withColumn("cell", cell)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("category", "cell", F.col("poi_id").alias("rep_poi_id"), F.col("brand").alias("rep_brand"))
    )


# ---------------------------------------------------------------------------
# P25 — CRS reprojection (EPSG:4326 → 3857 and back). The reference leans
# on PostGIS ST_Transform; the spherical Web Mercator formulas are public
# and pure math, so the projection runs as codegen'd expressions. Meters
# round to mm and the inverse roundtrip to 1e-9 deg: Spark's JVM libm and
# DuckDB's C libm may differ in the last ulp of tan/ln/exp, far below the
# rounding step.
# ---------------------------------------------------------------------------
_P25_ORACLE = f"""
WITH props AS ({_PROPS_SQL}),
clamped AS (
  SELECT prop_id, lon,
    LEAST(GREATEST(lat, -85.051128779806604e0), 85.051128779806604e0) AS clat
  FROM props
),
proj AS (
  SELECT prop_id, lon,
    6378137e0 * radians(lon) AS merc_x,
    6378137e0 * ln(tan(pi()/4e0 + radians(clat)/2e0)) AS merc_y
  FROM clamped
)
SELECT prop_id,
  ROUND(merc_x, 3) AS merc_x,
  ROUND(merc_y, 3) AS merc_y,
  ROUND(degrees(2e0 * atan(exp(merc_y / 6378137e0)) - pi()/2e0), 9) AS lat_roundtrip,
  ROUND(degrees(merc_x / 6378137e0), 9) AS lon_roundtrip
FROM proj
"""


@register("p25_web_mercator", _P25_ORACLE)
def p25_web_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.functions.geo import (
        web_mercator_inverse,
        web_mercator_x,
        web_mercator_y,
    )

    props = props_df(spark, sf_dir)
    x = web_mercator_x(F.col("lon"))
    y = web_mercator_y(F.col("lat"))
    lat_rt, lon_rt = web_mercator_inverse(x, y)
    return props.select(
        "prop_id",
        F.round(x, 3).alias("merc_x"),
        F.round(y, 3).alias("merc_y"),
        F.round(lat_rt, 9).alias("lat_roundtrip"),
        F.round(lon_rt, 9).alias("lon_roundtrip"),
    )
