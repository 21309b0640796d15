"""JSON staging envelope reader/writer (SURVEY S3/S4) and the
quarantining CSV reader.

The reference stages one ``{metadata{...}, properties[...]}`` JSON file
per site between extract and load (`base_provider.py:61-78`,
`loader_v2.py:90-100`). Spark shape: multiLine JSON read → explode the
properties array, carrying the metadata fields alongside.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_staging_envelope(spark: SparkSession, path: str) -> DataFrame:
    """S3: envelope file(s) → one row per property + metadata columns."""
    raw = spark.read.option("multiLine", "true").json(path)
    return raw.select(
        F.col("metadata.client_id").alias("client_id"),
        F.col("metadata.site").alias("source_site"),
        F.col("metadata.timestamp").alias("staged_at"),
        F.explode("properties").alias("p"),
    ).select("client_id", "source_site", "staged_at", "p.*")


def write_staging_envelope(df: DataFrame, path: str, metadata: dict) -> None:
    """S4: exact envelope shape (driver-side collect — staging files are
    per-site batches of ≤ thousands of rows in the reference; for larger
    exports write plain ``df.write.json`` and skip the envelope)."""
    props = [row.asDict(recursive=True) for row in df.collect()]
    envelope = {
        "metadata": {**metadata, "total_count": len(props)},
        "properties": props,
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(envelope, f, ensure_ascii=False, default=str)


def read_csv_quarantine(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """Error-tolerant CSV ingest: rows that parse against ``schema``
    flow through; rows that don't are QUARANTINED with their raw text
    instead of silently nulling out (PERMISSIVE + columnNameOfCorruptRecord
    — the standard Spark pattern, pinned here because getting it wrong
    silently corrupts ingest). Returns (good, quarantined).

    The corrupt-record column must be part of the declared schema and
    the frame must be materialized from the raw parse — a filter on the
    corrupt column after other projections can be optimized away, so
    both outputs project from one cached parse. At 100 TB the
    quarantine stream is the error-budget signal: route it to a dq1
    expectation, never drop it.
    """
    full = (
        spark.read.schema(schema + ", _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        # one parse feeds both outputs, and Spark disallows filtering on
        # only the corrupt column straight off the raw relation; a LAZY
        # local checkpoint satisfies both with GC-owned blocks (no
        # CacheManager pin to leak — the repo-wide discipline)
        .localCheckpoint(eager=False)
    )
    good = full.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    bad = full.filter(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("raw_line")
    )
    return good, bad
