"""POI-enrichment pipeline (SURVEY §3.3) — the reference's 8-queries-per-
property loop as ONE distributed job ending in a JSON write-back:

    props ⨝(grid+haversine) pois → per-(property,category) tiered top-k
      → per-property metrics (walkability, premium zone)
      → talking points (string templating from the top rows)
      → one nested JSON package per property → MERGE into poi_data

Reference: properties_poi_matcher.py:98-163 + cl_test1.py:46-326.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.geo_join import radius_join_by_category
from etl_stack_spark.operators.rank import lead_prep_tiered_rank
from etl_stack_spark.streaming.queue import run_stream


def lead_prep_packages(
    props: DataFrame,
    pois: DataFrame,
    categories: dict,
) -> DataFrame:
    """One row per property: ``prop_id, poi_data`` (nested JSON string with
    per-category ranked POIs, metrics and talking points) — the complete
    write-back payload of the reference loop."""
    radii = {cat: cfg["radius_km"] for cat, cfg in categories.items()}
    matched = radius_join_by_category(props, pois, radii)

    # rank through the SAME concrete-k code as the benched t1 query — the
    # max-k bound lets Catalyst insert a partial WindowGroupLimit before the
    # rank shuffle, so the exchange carries ~k rows per (prop, category)
    # instead of the full match stream (billions of rows at 100 TB)
    ranked = lead_prep_tiered_rank(matched, categories)

    # per-category ranked arrays
    per_cat = ranked.groupBy("prop_id", "category").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("rnk"), F.col("poi_id"), F.col("brand"),
                    F.round("distance_km", 3).alias("distance_km"),
                    F.col("quality_score"),
                )
            )
        ).alias("ranked")
    )
    cats = per_cat.groupBy("prop_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(F.col("category"), F.col("ranked"))))
        ).alias("categories")
    )

    # property-level metrics from the full matched set (not just top-k)
    walkable = F.count(F.when(F.col("distance_km") < 1.0, 1))
    metrics = matched.groupBy("prop_id").agg(
        walkable.alias("n_walkable"),
        F.least(F.lit(10), F.floor(walkable / 2.0)).cast("int").alias("walk_score"),
    )

    # talking point: closest top-ranked POI overall (string templating from
    # top rows, cl_test1.py:279-296)
    best = ranked.filter(F.col("rnk") == 1)
    talking = best.groupBy("prop_id").agg(
        F.min(F.struct(F.col("distance_km"), F.col("category"), F.col("brand"))).alias("b")
    ).select(
        "prop_id",
        F.concat(
            F.lit("A "), F.format_number(F.col("b.distance_km"), 1),
            F.lit(" km: "), F.coalesce(F.col("b.brand"), F.lit("punto de interés")),
            F.lit(" ("), F.col("b.category"), F.lit(")"),
        ).alias("talking_point"),
    )

    package = (
        cats.join(metrics, "prop_id", "left")
        .join(talking, "prop_id", "left")
        .select(
            "prop_id",
            F.to_json(
                F.struct(
                    F.col("categories"), F.col("n_walkable"), F.col("walk_score"),
                    F.col("talking_point"),
                )
            ).alias("poi_data"),
        )
    )
    return package


PROP_FEED_SCHEMA = "prop_id long, lat double, lon double"


def run_lead_prep_package_stream(
    spark: SparkSession,
    feed_dir: str,
    pois: DataFrame,
    categories: dict,
    leads_table,
    checkpoint_dir: str,
):
    """Streaming form of the reference's showcase flow
    (``properties_poi_matcher.py:98-163`` polls for properties without
    poi_data and writes packages back): a property CHANGE FEED drives the
    same radius-match → package → merge, incrementally.

        readStream(feed parquet) → foreachBatch:
            lead_prep_packages(batch, pois) → content-hash → MERGE

    Idempotency is the merge hash gate — replaying a micro-batch (at-
    least-once delivery, checkpoint loss) recomputes identical packages
    whose hashes match, so the write-back is a no-op; updated properties
    produce a changed package hash and take the update path. The POI side
    is a static DataFrame joined per micro-batch (broadcast-sized in the
    reference's city-scale deployments; at planet scale keep it a compact
    parquet the stream re-reads on change).
    """

    def one_batch(batch: DataFrame, epoch_id: int) -> None:
        # merge always writes a snapshot: an empty epoch would commit a version
        if batch.isEmpty():
            return
        packages = lead_prep_packages(batch, pois, categories)
        src = packages.withColumn("content_hash", F.sha2(F.col("poi_data"), 256))
        leads_table.merge(src, keys=["prop_id"])

    return run_stream(spark, feed_dir, PROP_FEED_SCHEMA, one_batch, checkpoint_dir)
