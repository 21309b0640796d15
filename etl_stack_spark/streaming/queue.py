"""Queue-driven micro-batch runner (SURVEY ST1-ST3).

The reference enqueues jobs in Redis/RQ and a worker drains them
(`api/routers/docs.py:105-122`, `worker_service.py:23-31`); job state
lives in a status table. Here the queue is a request state table
(ParquetMergeTable) and the worker is either:

- ``drain_pending``: poll-until-empty incremental batches (ST3 —
  deterministic, test-friendly), or
- ``run_stream``: a Structured Streaming file source + ``foreachBatch``
  (ST1 — the production shape; each micro-batch is exactly the same
  function the batch path uses).

Job dependencies (ST2) = sequential stages inside one batch function.
Idempotency = the content-hash gate (changed_only), so at-least-once
delivery is safe — the reference's own model.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.merge import ParquetMergeTable, dedup_status_results

PENDING, PROCESSING, SYNCED, FAILED = "PENDING", "PROCESSING", "SYNCED", "FAILED"


def enqueue(table: ParquetMergeTable, requests: DataFrame) -> None:
    """Register requests as PENDING (idempotent on job_id via merge)."""
    src = requests.withColumn("status", F.lit(PENDING)).withColumn(
        "error_message", F.lit(None).cast("string")
    )
    if "content_hash" not in src.columns:
        src = src.withColumn("content_hash", F.sha2(F.col("job_id"), 256))
    table.merge(src, keys=["job_id"])


def drain_pending(
    table: ParquetMergeTable,
    process: Callable[[DataFrame], DataFrame],
    batch_size: int = 20,
    max_batches: int = 1000,
) -> int:
    """ST3 poll-until-empty loop: take up to ``batch_size`` PENDING jobs
    (deterministic order), run ``process`` (must return job_id + status
    [+ error_message]), write statuses back; repeat until no work.

    Returns the number of processed jobs."""
    total = 0
    for _ in range(max_batches):
        pending = (
            table.read()
            .filter(F.col("status") == PENDING)
            .orderBy("job_id")
            .limit(batch_size)
        )
        if pending.isEmpty():
            break
        try:
            processed = process(pending)
            results = processed.select(
                "job_id",
                F.col("status"),
                (F.col("error_message") if "error_message" in processed.columns
                 else F.lit(None).cast("string")).alias("error_message"),
            )
            # materialize once: failures surface here AND process() (which
            # may not be idempotent) doesn't recompute per downstream action
            results = results.localCheckpoint(eager=True)
        except Exception as e:  # noqa: BLE001 — any batch failure → FAILED rows
            msg = str(e)[:500]
            results = pending.select(
                "job_id",
                F.lit(FAILED).alias("status"),
                F.lit(msg).alias("error_message"),
            )
        total += _write_back(table, results)
    return total


def _write_back(table: ParquetMergeTable, results: DataFrame) -> int:
    """Apply (job_id, status, error_message) results onto the queue
    snapshot; collapses duplicate job_ids first (a process() returning
    dupes would fan out queue rows through the join). Returns #jobs."""
    base_version = table.current_version()
    target = table.read(base_version)
    r = results.select(
        "job_id",
        F.col("status").alias("_ns"),
        F.col("error_message").alias("_ne"),
    )
    r = dedup_status_results(r, ["job_id"], "_ns", "_ne")
    merged = (
        target.join(r, "job_id", "left")
        .withColumn("status", F.coalesce("_ns", "status"))
        .withColumn("error_message", F.coalesce("_ne", "error_message"))
        .drop("_ns", "_ne")
    )
    table.overwrite(merged, expected_version=base_version)
    return r.count()


def run_with_dependencies(
    table: ParquetMergeTable,
    process: Callable[[DataFrame], DataFrame],
    dep_col: str = "depends_on",
    batch_size: int = 20,
    max_rounds: int = 1000,
) -> dict:
    """ST2 job-dependency orchestration over the queue table (reference
    ``trigger_restoration.py:39-53``: ``depends_on=job`` ⇒ the dependent
    runs only after its dependency finishes successfully).

    Scheduling rules per round:
    - eligible = PENDING with no dependency, or dependency SYNCED → run
      through ``process`` (same contract as drain_pending);
    - dependency FAILED or dangling (unknown job_id) → the dependent is
      marked FAILED without running (the reference's 'solo corre si el
      restore termina bien');
    - no eligible work but PENDING jobs remain (dependency cycle) → those
      are FAILED rather than spinning forever.

    Returns {"processed": n, "dep_failed": n}.
    """
    totals = {"processed": 0, "dep_failed": 0}
    for _ in range(max_rounds):
        snap = table.read()
        pending = snap.filter(F.col("status") == PENDING)
        if pending.isEmpty():
            break
        dep_status = snap.select(
            F.col("job_id").alias("_dep_id"), F.col("status").alias("_dep_status")
        )
        annotated = pending.join(
            dep_status, pending[dep_col] == F.col("_dep_id"), "left"
        ).cache()
        no_dep = F.col(dep_col).isNull()
        dep_ok = F.col("_dep_status") == SYNCED
        dep_dead = F.col(dep_col).isNotNull() & (
            F.col("_dep_status").isNull() | (F.col("_dep_status") == FAILED)
        )

        dead = annotated.filter(dep_dead).select(
            "job_id",
            F.lit(FAILED).alias("status"),
            F.concat(F.lit("dependency failed or unknown: "), F.col(dep_col)).alias(
                "error_message"
            ),
        )
        n_dead = dead.count()
        if n_dead:
            totals["dep_failed"] += _write_back(table, dead)

        eligible = (
            annotated.filter(no_dep | dep_ok)
            .select(*snap.columns)
            .orderBy("job_id")
            .limit(batch_size)
        )
        n_eligible = eligible.count()
        annotated.unpersist()
        if n_eligible == 0:
            if n_dead == 0:
                # PENDING jobs remain but none can ever run → cycle
                stuck = table.read().filter(F.col("status") == PENDING).select(
                    "job_id",
                    F.lit(FAILED).alias("status"),
                    F.lit("unresolvable dependency (cycle?)").alias("error_message"),
                )
                if not stuck.isEmpty():
                    totals["dep_failed"] += _write_back(table, stuck)
                break
            continue
        try:
            processed = process(eligible)
            results = processed.select(
                "job_id",
                F.col("status"),
                (F.col("error_message") if "error_message" in processed.columns
                 else F.lit(None).cast("string")).alias("error_message"),
            )
            results = results.localCheckpoint(eager=True)
        except Exception as e:  # noqa: BLE001
            results = eligible.select(
                "job_id",
                F.lit(FAILED).alias("status"),
                F.lit(str(e)[:500]).alias("error_message"),
            )
        totals["processed"] += _write_back(table, results)
    return totals


def run_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    observe: tuple[str, list] | None = None,
):
    """ST1 production shape: file-source stream → foreachBatch(batch_fn),
    returning the started query.

    The availableNow trigger processes the backlog and stops — the
    driver-friendly trigger; on a cluster a continuous trigger runs the
    same ``batch_fn`` on each micro-batch incrementally.

    ``observe``: optional ``(name, [agg exprs])`` attached to the
    STREAMING frame with ``df.observe`` — the metrics ride the micro-
    batch's own execution (zero extra passes) and surface per batch in
    ``StreamingQueryProgress.observedMetrics[name]``, i.e. through any
    registered ``StreamingQueryListener`` (VERDICT r8 task 7). Keep the
    expressions deterministic: foreachBatch may execute the plan more
    than once per epoch and the engine reports the last run's values."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    if observe is not None:
        stream = stream.observe(observe[0], *observe[1])
    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class ObservedMetricsListener:
    """Minimal StreamingQueryListener that collects every progress
    event's ``observedMetrics`` rows as ``(query_name_or_id, metric_name,
    row_dict)`` — the ops-visibility tap for the streaming washes. Spark
    delivers listener events asynchronously; call
    ``spark.streams.resetTerminated()``/``awaitTermination`` as usual
    and read ``rows`` after the query stops."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class _L(StreamingQueryListener):
            def __init__(self):
                self.rows: list[tuple[str, str, dict]] = []

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                for name, row in (p.observedMetrics or {}).items():
                    self.rows.append((p.name or p.id, name, row.asDict()))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _L()
