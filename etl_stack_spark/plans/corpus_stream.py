"""Streaming corpus ingest: the batch wash's scalar gates run
incrementally over a document feed, with CROSS-BATCH exact dedup
provided by the hash-gated merge table:

    document feed (file source) → foreachBatch:
        quality floor + language keep-list + PII redaction (stateless)
        → in-batch first-seen per fingerprint (min doc_id — replay-stable)
        → MERGE keyed ON the fingerprint with the fingerprint AS the hash
          gate: an already-ingested fingerprint always "matches with equal
          hash" and is skipped, so the FIRST document ever seen with a
          given content fingerprint wins across batches, restarts, and
          replays (the reference's M4 idempotent skip-by-hash —
          vector_store.py:109-205 — applied corpus-wide).

Same design contract as lead_prep_stream: the micro-batch cost scales
with the delta (scalar scans + one fingerprint shuffle of the batch,
one merge against the table), and at-least-once delivery is free
because every effect is behind the hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.merge import ParquetMergeTable
from etl_stack_spark.plans.corpus_clean import (
    KEEP_LANGS,
    MIN_QUALITY,
    quality_lang_filter,
    score_documents,
)

DOC_FEED_SCHEMA = "doc_id bigint, text string, source string, ingested_at timestamp"

_RESULT_COLS = ["fp", "doc_id", "source", "quality", "pred_lang", "text_redacted"]


def corpus_clean_batch_fn(
    results: ParquetMergeTable,
    min_quality: float = MIN_QUALITY,
    keep_langs: tuple[str, ...] = KEEP_LANGS,
    lsh_state: ParquetMergeTable | None = None,
    near_dup_threshold: float = 0.5,
    metrics: dict | None = None,
):
    """Build the foreachBatch callback: gate, redact, dedup, merge.

    With ``lsh_state`` given, cross-batch NEAR-dup dedup runs between
    the exact first-seen pick and the merge: survivors probe (and then
    extend) the incremental LSH band table, so a later batch's
    paraphrase of an already-kept document drops even though its
    fingerprint differs (``operators/dedup.py:incremental_minhash_dedup``
    — replay-idempotent like everything else in this flow).

    ``metrics`` (optional, VERDICT r8 task 7) accumulates the wash's
    quality counters across batches at ZERO extra passes — the
    ingest-flow ``observe()`` discipline applied here: ``docs_in`` /
    ``gated_quality`` / ``gated_lang`` ride the batch's own
    materialization action via the Observation API (the quality/lang
    columns are reused, not recomputed), ``batch_dups`` falls out of
    the first-seen count the flow already takes, ``neardup_drops`` and
    ``cross_batch_dups``/``inserted`` fall out of the MERGE's own
    action counters. The reference logs these with separate COUNT
    queries per cycle; here every number is a byproduct."""
    from etl_stack_spark.operators.curation import redact_pii
    from etl_stack_spark.operators.rank import top_1_per_group

    def batch_fn(batch_df: DataFrame, _batch_id: int) -> None:
        # NO isEmpty() guard: it is a full extra execution of the source
        # plan per epoch — it both re-runs the scan and double-counts
        # the feed-level observe() metrics a listener reads. Emptiness
        # falls out of the first-seen count the flow takes anyway.
        # a micro-batch's partitioning is whatever the source files gave
        # it — a single-file backlog arrives as ONE partition and the
        # regex-heavy gate scan runs on one core; spread it first (the
        # shuffle moves only the raw batch, the cheapest point to pay it)
        spread = batch_df.sparkSession.sparkContext.defaultParallelism
        if batch_df.rdd.getNumPartitions() < spread:
            batch_df = batch_df.repartition(spread)
        # the batch wash's own scoring projection; its fingerprint is of
        # the ORIGINAL text, so redaction cannot change a document's
        # dedup identity, and the original rides along for near-dup
        # shingling only
        scored = score_documents(batch_df, extra_cols=("source",)).select(
            "fp",
            "doc_id",
            "source",
            "quality",
            "pred_lang",
            redact_pii(F.col("text")).alias("text_redacted"),
            F.col("text").alias("_text_orig"),
        )
        obs = None
        if metrics is not None:
            from pyspark.sql import Observation

            # gate-reason counters ride the SAME action that
            # materializes the gated batch below — the already-computed
            # quality/pred_lang columns feed conditional sums, so this
            # is bookkeeping on a pass the flow takes anyway
            obs = Observation()
            scored = scored.observe(
                obs,
                F.count(F.lit(1)).alias("docs_in"),
                # coalesce: on a zero-row micro-batch SUM aggregates to
                # NULL (only COUNT yields 0), which would TypeError the
                # metric accumulation below before the n_first==0 guard
                F.coalesce(
                    F.sum(
                        F.when(F.col("quality") < min_quality, 1).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("gated_quality"),
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("quality") >= min_quality)
                            & ~F.col("pred_lang").isin(list(keep_langs)),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("gated_lang"),
            )
        kept = quality_lang_filter(scored, min_quality, keep_langs)
        # in-batch first-seen: min doc_id per fingerprint — deterministic
        # even when a replayed backlog collapses into one micro-batch
        first = top_1_per_group(kept, ["fp"], [F.col("doc_id").asc()])
        # materialize the gated batch ONCE: the regex-heavy score/redact
        # scan otherwise re-runs per consumer (shingling AND the result
        # merge — measured 2x the scalar work on a near-dup drain)
        first = first.persist()
        n_first = first.count()
        if metrics is not None and obs is not None:
            m = obs.get
            metrics["docs_in"] = metrics.get("docs_in", 0) + m["docs_in"]
            metrics["gated_quality"] = metrics.get("gated_quality", 0) + m["gated_quality"]
            metrics["gated_lang"] = metrics.get("gated_lang", 0) + m["gated_lang"]
            passed = m["docs_in"] - m["gated_quality"] - m["gated_lang"]
            metrics["batch_dups"] = metrics.get("batch_dups", 0) + (passed - n_first)
        if n_first == 0:  # empty/fully-gated epoch: no effects to apply
            first.unpersist()
            return
        try:
            out = first
            if lsh_state is not None:
                from etl_stack_spark.operators.dedup import incremental_minhash_dedup

                # rebind the state table to THIS micro-batch's (cloned)
                # session: mixing the outer session's state.read() into the
                # batch plan zips RDDs across sessions and AQE trips over it
                # ("Can't zip RDDs with unequal numbers of partitions")
                state = type(lsh_state)(batch_df.sparkSession, lsh_state.root)
                out = incremental_minhash_dedup(
                    first, state, text_col="_text_orig",
                    threshold=near_dup_threshold,
                )
            out = out.select(*_RESULT_COLS)
            n_out = n_first
            if metrics is not None and lsh_state is not None:
                # near-dup drops: survivors counted off the persisted
                # base (one cached-scan agg on a frame the merge is
                # about to execute anyway)
                n_out = out.count()
                metrics["neardup_drops"] = metrics.get("neardup_drops", 0) + (
                    n_first - n_out
                )
            if hasattr(results, "insert_new"):
                # LSM results (operators/lsm_table.MergeOnReadTable — the
                # 100 TB shape, r10 task 8): the wash is INSERT-ONLY
                # (first fp ever seen is immutable), so one anti-join
                # against the live view + one delta append replaces the
                # snapshot merge whose per-batch rewrite grew with
                # accumulated state (2M-row audit: see SCALE.md). Replays
                # stay free: a replayed fp is already live → anti-joined
                # away.
                inserted = results.insert_new(out)
                if metrics is not None:
                    metrics["inserted"] = metrics.get("inserted", 0) + inserted
                    metrics["cross_batch_dups"] = metrics.get("cross_batch_dups", 0) + (
                        n_out - inserted
                    )
            elif results.exists():
                # keys=fp AND hash_col=fp: a matched row can never have a
                # differing hash, so matches are always "unchanged" → the
                # first-ever document with this fingerprint is immutable
                stats = results.merge(out, keys=["fp"], hash_col="fp", audit_ts_col=None)
                if metrics is not None:
                    metrics["inserted"] = metrics.get("inserted", 0) + stats["inserted"]
                    # an incoming fingerprint already in the table is the
                    # cross-batch exact-dup skip. Derived source-side
                    # (sent - inserted - updated): the merge's own
                    # "unchanged" counter also counts CARRIED target
                    # rows, which are not skips
                    metrics["cross_batch_dups"] = metrics.get("cross_batch_dups", 0) + (
                        n_out - stats["inserted"] - stats["updated"]
                    )
            else:
                results.overwrite(out)
                if metrics is not None:
                    metrics["inserted"] = metrics.get("inserted", 0) + results.read().count()
                    metrics.setdefault("cross_batch_dups", 0)
        finally:
            first.unpersist()

    return batch_fn


def run_corpus_clean_stream(
    spark: SparkSession,
    feed_dir: str,
    results: ParquetMergeTable,
    checkpoint_dir: str,
    lsh_state: ParquetMergeTable | None = None,
    metrics: dict | None = None,
):
    """Drain the document feed through the wash into ``results``.
    availableNow (process backlog, stop) — on a cluster the same call
    with a processingTime trigger runs continuously. ``lsh_state``
    switches on cross-batch near-dup dedup (see corpus_clean_batch_fn);
    ``metrics`` accumulates the wash's quality counters (zero extra
    passes — see corpus_clean_batch_fn). The streaming frame additionally
    carries an ``observe("corpus_wash_in", ...)`` feed-level row count, so
    a registered StreamingQueryListener sees per-micro-batch arrivals in
    ``progress.observedMetrics`` without touching the batch internals
    (queue.ObservedMetricsListener is the ready-made tap)."""
    from etl_stack_spark.streaming.queue import run_stream

    return run_stream(
        spark,
        feed_dir,
        DOC_FEED_SCHEMA,
        corpus_clean_batch_fn(results, lsh_state=lsh_state, metrics=metrics),
        checkpoint_dir,
        observe=("corpus_wash_in", [F.count(F.lit(1)).alias("docs_in")]),
    )
