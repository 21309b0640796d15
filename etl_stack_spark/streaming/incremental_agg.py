"""Streaming IVM: maintain a retractable per-key aggregate from a
stream of SIGNED change batches (+1 insert / -1 delete — the merge
layer's change-data-feed shape, see operators/incremental.py).

The hard part is replay: unlike the grouped-HLL state (max is
idempotent), signed deltas are NOT — applying a batch twice
double-retracts. foreachBatch's batch ids replay exactly in the crash
window between output commit and checkpoint advance, so the state
table stores the APPLIED BATCH IDS in the same table as the aggregate
rows (a ``_kind`` discriminator column): one manifest-swap overwrite
commits the new aggregate AND the applied-id set atomically, making a
replayed batch a provable no-op with no second storage system.

Per-batch cost: one partial agg over the delta + one combine against
the (key-cardinality) aggregate — the history is never rescanned.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.incremental import (
    partial_agg,
    refresh_retractable_agg,
)
from etl_stack_spark.operators.merge import ParquetMergeTable
from etl_stack_spark.streaming.queue import run_stream


def agg_maintenance_batch_fn(
    state: ParquetMergeTable,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, Column]],
    count_col: str,
):
    """foreachBatch callback maintaining the signed aggregate with
    atomic batch-id replay gating."""
    measure_cols = list(measures)

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        st = type(state)(spark, state.root)
        if st.exists():
            cur = st.read()
            # foreachBatch ids are MONOTONIC and only the latest
            # uncommitted batch ever replays, so one watermark row (the
            # max applied id) is the whole replay proof — O(1) state,
            # never a growing id set
            max_applied = (
                cur.filter(F.col("_kind") == "batch")
                .agg(F.max("_batch_id"))
                .collect()[0][0]
            )
            if max_applied is not None and batch_id <= max_applied:
                return  # replayed batch: provable no-op
            agg = cur.filter(F.col("_kind") == "agg").select(*keys, *measure_cols)
        else:
            # empty aggregate with the right schema, derived from the batch
            agg = partial_agg(
                batch_df.drop("_sign").limit(0), keys, measures
            )
        new_agg = refresh_retractable_agg(
            agg, batch_df, keys, measures, count_col
        )
        agg_rows = new_agg.select(
            F.lit("agg").alias("_kind"),
            *keys,
            *measure_cols,
            F.lit(None).cast("long").alias("_batch_id"),
        )
        id_rows = spark.createDataFrame(
            [(int(batch_id),)], "_batch_id long"
        ).select(
            F.lit("batch").alias("_kind"),
            *[F.lit(None).cast(new_agg.schema[k].dataType).alias(k) for k in keys],
            *[F.lit(None).cast("long").alias(m) for m in measure_cols],
            "_batch_id",
        )
        # one overwrite = one manifest swap: aggregate + the watermark
        # commit atomically (materialize first — the plan reads the
        # table it replaces)
        out = agg_rows.unionByName(id_rows).localCheckpoint(eager=True)
        st.overwrite(out)

    return batch_fn


def run_agg_maintenance_stream(
    spark: SparkSession,
    feed_path: str,
    feed_schema: str,
    state: ParquetMergeTable,
    checkpoint: str,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, Column]],
    count_col: str,
):
    """availableNow drain of a parquet change feed (must carry
    ``_sign``) into the state table; returns the streaming query."""
    return run_stream(
        spark,
        feed_path,
        feed_schema + ", _sign int",
        agg_maintenance_batch_fn(state, keys, measures, count_col),
        checkpoint,
    )


def read_aggregate(state: ParquetMergeTable) -> DataFrame:
    """The maintained aggregate (agg rows only, discriminator dropped)."""
    return (
        state.read()
        .filter(F.col("_kind") == "agg")
        .drop("_kind", "_batch_id")
    )
