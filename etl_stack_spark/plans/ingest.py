"""Property ingestion pipeline (SURVEY §3.1) — one linear DataFrame flow:

    links (REST scan) → incremental gate (P26 anti-join on watermark)
      → detail fetch/normalize → cleaners (P3-P8) → content hash (P9)
      → stage write → hash-gated MERGE (M1) → scoped soft-delete (M2)
      → watermark bump (M9)

The reference runs this as two processes with a JSON file handoff
(`run_ingest.py` → `loader_v2.py`); here the staging file is an optional
checkpoint, not a process boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_stack_spark.functions import clean_area, clean_price, clean_smallint, content_hash
from etl_stack_spark.functions.cleaners import (
    clean_numeric_small,
    first_int,
    price_number,
    scrubbed_number,
    title_truncate,
)
from etl_stack_spark.operators.merge import ParquetMergeTable


def incremental_gate(links: DataFrame, known: DataFrame, tolerance_s: int = 60) -> DataFrame:
    """P26: keep links never seen, or modified > tolerance past the known
    watermark; a known row with no source date is skipped."""
    k = known.select(
        F.col("external_id").alias("k_external_id"), F.col("updated_at").alias("known_ts")
    )
    j = links.join(k, links.external_id == k.k_external_id, "left")
    needs = F.col("known_ts").isNull() | (
        F.col("modified_gmt").isNotNull()
        & (F.unix_timestamp("modified_gmt") > F.unix_timestamp("known_ts") + tolerance_s)
    )
    return j.filter(needs).drop("k_external_id", "known_ts")


def clean_and_hash(staged: DataFrame) -> DataFrame:
    """P3-P9 over the canonical staged rows (string-typed raw fields).

    The parsed numbers are projected once in an inner select, so each
    cleaner's CASE branches read a column instead of re-running the
    regexp scrub (Catalyst keeps the two projections apart: collapsing
    them would duplicate the scrub)."""
    status = F.lower(F.coalesce(F.col("status"), F.lit("active")))
    df = staged.filter(status.isin("publish", "active", "published")).select(
        "*",
        price_number(F.col("price_raw")).alias("_price_num"),
        scrubbed_number(F.col("sqm_raw")).alias("_area_num"),
        first_int(F.col("bedrooms_raw")).alias("_bedrooms_num"),
        scrubbed_number(F.col("bathrooms_raw")).alias("_bathrooms_num"),
    )
    price, currency = clean_price(
        F.col("price_raw"), F.col("currency_raw"), num=F.col("_price_num")
    )
    return df.select(
        "client_id",
        "external_id",
        title_truncate(F.col("title")).alias("title"),
        price.alias("price"),
        currency.alias("currency"),
        clean_area(F.col("sqm_raw"), num=F.col("_area_num")).alias("area_sqm"),
        clean_smallint(F.col("bedrooms_raw"), 100, num=F.col("_bedrooms_num")).alias("bedrooms"),
        clean_numeric_small(
            F.col("bathrooms_raw"), 99, num=F.col("_bathrooms_num")
        ).alias("bathrooms"),
        F.col("lat").cast("double").alias("location_lat"),
        F.col("lng").cast("double").alias("location_lng"),
        F.col("features").alias("features"),
        content_hash(
            F.col("title"), F.col("price_raw"), F.col("currency_raw"), F.col("sqm_raw"),
            F.col("lat"), F.col("lng"), F.col("features"),
        ).alias("content_hash"),
        F.lit("active").alias("status"),
    )


def bump_watermark(config_table: ParquetMergeTable, client_id: str) -> None:
    """M9: record a successful run on the source-config row
    (`run_ingest.py:121-124`'s ``SET last_run_at = now()``)."""
    cfg = config_table.read()
    config_table.overwrite(
        cfg.withColumn(
            "last_run_at",
            F.when(F.col("client_id") == client_id, F.current_timestamp()).otherwise(
                F.col("last_run_at")
            ),
        )
    )


def load_to_lead_properties(
    cleaned: DataFrame, table: ParquetMergeTable, client_id: str
) -> dict:
    """M1 + M2: hash-gated merge scoped to one client batch, absent rows
    soft-delete (the reference's per-client batch contract)."""
    return table.merge(
        cleaned,
        keys=["client_id", "external_id"],
        soft_delete_scope=F.col("t.client_id") == client_id,
    )


def with_quality_observation(cleaned: DataFrame, name: str = "ingest_quality"):
    """Attach free data-quality counters to the cleaned stream via
    ``df.observe`` (Spark's Observation API): row count, null-price
    count, null-coordinate count, distinct-ish hash floor. The metrics
    ride the SAME action that materializes the data — zero extra
    passes, which at 100 TB is the difference between monitoring and
    re-scanning. The reference logs these with separate COUNT queries
    per batch (`src/ETL_PROPERTIES/loader_v2.py` counters); here the
    scan is paid once.

    Returns (df, observation) — read ``observation.get`` AFTER an
    action on ``df``.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = cleaned.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("price").isNull(), 1).otherwise(0)).alias("null_price"),
        F.sum(
            F.when(
                F.col("location_lat").isNull() | F.col("location_lng").isNull(), 1
            ).otherwise(0)
        ).alias("null_coords"),
        F.approx_count_distinct("content_hash").alias("approx_hashes"),
    )
    return observed, obs
