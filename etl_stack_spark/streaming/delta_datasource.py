"""``delta_tail`` — a PySpark Python DataSource (the Spark 4
``pyspark.sql.datasource`` API) exposing the Delta-log tail as a REAL
Structured Streaming source:

    register_delta_tail(spark)
    df = spark.readStream.format("delta_tail").option("path", root).load()

This is the readStream-native face of ``streaming/delta_source.py``:
Spark's own offset log does the checkpointing (the offset IS the Delta
log version, exactly-once across restarts with a checkpointLocation),
micro-batch planning calls ``partitions(start, end)`` — one input
partition PER ADDED FILE, so a commit's files are read in parallel by
the executors — and ``read()`` yields Arrow RecordBatches (the
vectorized path; a tuple fallback covers exotic types).

Semantics = the Delta streaming source's default ``ignoreChanges``
shape: each micro-batch contains the rows of the files ADDED by the
log versions in (start, end]; OPTIMIZE commits carry
``dataChange: false`` and contribute nothing. Exact keyed CDF (the
``changes`` mode) intentionally stays on ``DeltaStreamSource`` — it
needs a keyed join, which belongs in the engine, not inside a data
source partition.

100 TB notes: offsets are a single integer per checkpoint; batch
planning is O(new commits) driver-side JSON reads; file reads are
executor-parallel Arrow scans. The schema is pinned from the log's
``metaData.schemaString`` at stream start (Delta's own rule: schema
changes mid-stream require a restart).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from etl_stack_spark.operators.delta_log import DeltaLog


class AddedFilePartition(InputPartition):
    def __init__(self, root: str, rel_path: str):
        self.root = root
        self.rel_path = rel_path


class DeltaTailStreamReader(DataSourceStreamReader):
    def __init__(
        self, root: str, schema: StructType, starting_version: str | None = None
    ):
        self.root = root
        self.log = DeltaLog(root)
        self.target_schema = schema
        self.starting_version = starting_version

    # offset = {"version": next version to read}; ranges are [start, end)
    def initialOffset(self) -> dict:
        # Delta's startingVersion: begin the tail at N instead of
        # bootstrapping from 0; "latest" = only commits made after the
        # stream starts. Spark's checkpoint overrides this on restart
        # (an offset already in the checkpoint wins — stock semantics).
        if self.starting_version == "latest":
            return self.latestOffset()
        if self.starting_version is not None:
            return {"version": int(self.starting_version)}
        return {"version": 0}

    def latestOffset(self) -> dict:
        versions = self.log.versions()
        return {"version": (versions[-1] + 1) if versions else 0}

    def partitions(self, start: dict, end: dict):
        parts = []
        for v in range(start["version"], end["version"]):
            for rel in self.log.data_changes(v)[0]:
                parts.append(AddedFilePartition(self.root, rel))
        # Spark requires >=1 partition per batch: an all-OPTIMIZE span
        # still planned a batch, so ship one empty marker partition
        return parts or [AddedFilePartition(self.root, "")]

    def read(self, partition: AddedFilePartition):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        if not partition.rel_path:  # empty marker
            return iter(())
        table = pq.read_table(os.path.join(partition.root, partition.rel_path))
        want = to_arrow_schema(self.target_schema)
        # project to the declared column order and cast (a file written
        # before a schema evolution lacks the new columns: they read NULL)
        import pyarrow as pa

        cols = []
        for field in want:
            if field.name in table.column_names:
                cols.append(table.column(field.name).cast(field.type))
            else:
                cols.append(pa.nulls(len(table), field.type))
        return iter(pa.table(cols, schema=want).to_batches())

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint owns the offsets; nothing to clean


class DeltaTailDataSource(DataSource):
    """format("delta_tail"): options — ``path`` (table root, required),
    ``starting_version`` (int or "latest", optional — Delta's
    startingVersion: skip the bootstrap and tail from there)."""

    @classmethod
    def name(cls) -> str:
        return "delta_tail"

    def schema(self) -> StructType:
        root = self.options.get("path")
        if not root:
            raise ValueError("delta_tail requires .option('path', <table root>)")
        return StructType.fromJson(json.loads(DeltaLog(root).schema_string()))

    def streamReader(self, schema: StructType) -> DeltaTailStreamReader:
        return DeltaTailStreamReader(
            self.options["path"], schema, self.options.get("starting_version")
        )


def register_delta_tail(spark) -> None:
    spark.dataSource.register(DeltaTailDataSource)
