"""Streaming-surface tests: watermarked windowed agg over a real stream
(file source, availableNow) and the foreachBatch queue runner."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_stack_spark.operators.merge import ParquetMergeTable
from etl_stack_spark.streaming.queue import PENDING, SYNCED, drain_pending, enqueue
from etl_stack_spark.streaming.windows import streaming_tumbling_counts

import pytest
# slow tier (VERDICT r10 task 1): structured-streaming drains (watermarks, cross-batch dedup);
# run via tools/run_gate.py (the gate) or `pytest -m slow`.
pytestmark = pytest.mark.slow



def test_streaming_tumbling_watermark(spark, tmp_path):
    src = tmp_path / "stream_in"
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", "click"),
            (2, "2024-01-01 00:40:00", "click"),
            (3, "2024-01-01 01:10:00", "view"),
            (4, "2024-01-01 02:05:00", "click"),
        ],
        "event_id long, ts_s string, event_type string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    events.write.parquet(str(src))

    stream = spark.readStream.schema(events.schema).parquet(str(src))
    agg = streaming_tumbling_counts(stream, "1 hour", "2 hours")
    sink = []

    def collect_batch(df, _epoch):
        sink.extend((r["window_start"].isoformat(), r["event_type"], r["n"]) for r in df.collect())

    # complete mode: every batch emits the full window state (append would
    # only flush windows the watermark passed before the final batch)
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(collect_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain in time"
    assert ("2024-01-01T00:00:00", "click", 2) in sink
    assert ("2024-01-01T01:00:00", "view", 1) in sink


def test_queue_drain_pending(spark, tmp_path):
    table = ParquetMergeTable(spark, str(tmp_path / "jobs"))
    reqs = spark.createDataFrame(
        [(f"job_{i}", f"doc_{i}") for i in range(7)], "job_id string, content_id string"
    )
    enqueue(table, reqs)
    assert table.read().filter(F.col("status") == PENDING).count() == 7

    def process(batch):
        return batch.select("job_id", F.lit(SYNCED).alias("status"))

    n = drain_pending(table, process, batch_size=3)
    assert n == 7
    statuses = {r["status"] for r in table.read().collect()}
    assert statuses == {SYNCED}


def test_queue_drain_duplicate_results_no_fanout(spark, tmp_path):
    """ADVICE round 1: a process() emitting duplicate job_ids must not fan
    out queue rows through the write-back join; FAILED reports win."""
    from etl_stack_spark.streaming.queue import FAILED

    table = ParquetMergeTable(spark, str(tmp_path / "jobs_dup"))
    reqs = spark.createDataFrame(
        [(f"job_{i}", f"doc_{i}") for i in range(4)], "job_id string, content_id string"
    )
    enqueue(table, reqs)

    def process(batch):
        ok = batch.select("job_id", F.lit(SYNCED).alias("status"))
        dup = batch.filter(F.col("job_id") == "job_1").select(
            "job_id", F.lit(FAILED).alias("status")
        )
        return ok.unionByName(dup).unionByName(dup)  # job_1 reported 3x

    drain_pending(table, process, batch_size=10)
    out = table.read()
    assert out.count() == 4  # no fan-out duplicates
    by_job = {r["job_id"]: r["status"] for r in out.collect()}
    assert by_job["job_1"] == FAILED  # conflicting reports resolve to FAILED
    assert by_job["job_0"] == SYNCED


def test_queue_enqueue_idempotent(spark, tmp_path):
    table = ParquetMergeTable(spark, str(tmp_path / "jobs2"))
    reqs = spark.createDataFrame([("job_1", "doc_1")], "job_id string, content_id string")
    enqueue(table, reqs)
    enqueue(table, reqs)  # re-enqueue same job → no duplicate
    assert table.read().count() == 1


def test_stateful_first_seen_across_batches(spark, tmp_path):
    """applyInPandasWithState: duplicates arriving in a LATER micro-batch
    must be dropped by the state carried from the earlier one."""
    from etl_stack_spark.streaming.stateful import streaming_first_seen

    src = tmp_path / "stateful_in"
    src.mkdir()
    schema = "key string, content_hash string, batch_seq long"
    b1 = spark.createDataFrame(
        [("k1", "h1", 1), ("k1", "h2", 1), ("k2", "h9", 1)], schema
    )
    b2 = spark.createDataFrame(
        [("k1", "h1", 2), ("k1", "h3", 2), ("k2", "h9", 2)], schema  # h1,h9 dups
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = streaming_first_seen(stream)
    sink: list[tuple] = []

    def collect(df, _epoch):
        sink.extend((r["key"], r["content_hash"]) for r in df.collect())

    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain in time"
    # every (key, hash) exactly once despite duplicates in the second batch
    assert sorted(sink) == [("k1", "h1"), ("k1", "h2"), ("k1", "h3"), ("k2", "h9")]


def test_queue_batch_failure_marks_failed(spark, tmp_path):
    """A process() crash must mark that batch FAILED (with the message),
    not kill the drain loop or wedge jobs in PENDING forever."""
    from etl_stack_spark.streaming.queue import FAILED, SYNCED, drain_pending, enqueue

    table = ParquetMergeTable(spark, str(tmp_path / "jobs3"))
    enqueue(table, spark.createDataFrame(
        [("job_a", "x"), ("job_b", "y")], "job_id string, content_id string"
    ))
    calls = {"n": 0}

    def flaky(batch):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("boom: upstream 500")
        return batch.select("job_id", F.lit(SYNCED).alias("status"))

    drain_pending(table, flaky, batch_size=1)
    rows = {r["job_id"]: (r["status"], r["error_message"]) for r in table.read().collect()}
    statuses = sorted(s for s, _ in rows.values())
    assert statuses == [FAILED, SYNCED]
    failed_msg = next(m for s, m in rows.values() if s == FAILED)
    assert "boom" in failed_msg


def test_run_with_dependencies_orders_and_propagates(spark, tmp_path):
    """ST2: a dependent job enqueued BEFORE its dependency completes runs
    only after it; failed/dangling dependencies propagate FAILED without
    running the dependent."""
    from etl_stack_spark.streaming.queue import (
        FAILED,
        run_with_dependencies,
    )

    table = ParquetMergeTable(spark, str(tmp_path / "depjobs"))
    reqs = spark.createDataFrame(
        [
            ("restore_av", None),
            ("tag_av", "restore_av"),        # runs after restore_av SYNCED
            ("restore_zp", None),
            ("tag_zp", "restore_zp"),        # its dependency FAILS
            ("tag_ghost", "no_such_job"),    # dangling dependency
        ],
        "job_id string, depends_on string",
    )
    enqueue(table, reqs)

    ran_order = []

    def process(batch):
        ids = [r["job_id"] for r in batch.select("job_id").orderBy("job_id").collect()]
        ran_order.extend(ids)
        return batch.select(
            "job_id",
            F.when(F.col("job_id") == "restore_zp", FAILED)
            .otherwise(SYNCED)
            .alias("status"),
        )

    totals = run_with_dependencies(table, process, batch_size=10)
    out = {r["job_id"]: r["status"] for r in table.read().collect()}
    assert out["restore_av"] == SYNCED
    assert out["tag_av"] == SYNCED
    assert out["restore_zp"] == FAILED
    assert out["tag_zp"] == FAILED      # never ran
    assert out["tag_ghost"] == FAILED   # dangling dep
    assert "tag_zp" not in ran_order and "tag_ghost" not in ran_order
    # the dependent ran in a later round than its dependency
    assert ran_order.index("tag_av") > ran_order.index("restore_av")
    assert totals["processed"] == 3 and totals["dep_failed"] == 2


def test_run_with_dependencies_detects_cycle(spark, tmp_path):
    from etl_stack_spark.streaming.queue import FAILED, run_with_dependencies

    table = ParquetMergeTable(spark, str(tmp_path / "cyclejobs"))
    reqs = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "job_id string, depends_on string"
    )
    enqueue(table, reqs)
    totals = run_with_dependencies(table, lambda b: b.select(
        "job_id", F.lit(SYNCED).alias("status")))
    out = {r["job_id"]: r["status"] for r in table.read().collect()}
    assert out == {"a": FAILED, "b": FAILED}
    assert totals["processed"] == 0


def test_streaming_lead_prep_e2e_two_batches_idempotent(spark, tmp_path):
    """Round-1 review item #10: the showcase flow in streaming form —
    two micro-batches of property changes through radius match → package
    → hash-gated merge; replaying the same feed is a no-op."""
    from etl_stack_spark.plans.lead_prep import run_lead_prep_package_stream

    feed = tmp_path / "prop_feed"
    feed.mkdir()
    ckpt = str(tmp_path / "ckpt")
    leads = ParquetMergeTable(spark, str(tmp_path / "leads"))
    pois = spark.createDataFrame(
        [
            (1, "Education", "EduBrand", 8, 9.80, -84.00),
            (2, "Education", None, 5, 9.81, -84.01),
            (3, "Health", "MediBrand", 9, 9.79, -84.02),
        ],
        "poi_id long, category string, brand string, quality_score int, poi_lat double, poi_lon double",
    )
    cats = {
        "Education": {"radius_km": 5.0, "k": 2, "anchor": ["EduBrand"], "priority": []},
        "Health": {"radius_km": 8.0, "k": 1, "anchor": [], "priority": ["MediBrand"]},
    }

    # micro-batch 1: two properties
    spark.createDataFrame(
        [(101, 9.80, -84.00), (102, 9.795, -84.015)], "prop_id long, lat double, lon double"
    ).write.mode("append").parquet(str(feed))
    q = run_lead_prep_package_stream(spark, str(feed), pois, cats, leads, ckpt)
    assert q.awaitTermination(600), "stream did not drain in time"
    first = {r["prop_id"]: r["poi_data"] for r in leads.read().collect()}
    assert set(first) == {101, 102}
    assert "EduBrand" in first[101]

    # micro-batch 2: one new property arrives
    spark.createDataFrame(
        [(103, 9.79, -84.02)], "prop_id long, lat double, lon double"
    ).write.mode("append").parquet(str(feed))
    q = run_lead_prep_package_stream(spark, str(feed), pois, cats, leads, ckpt)
    assert q.awaitTermination(600), "stream did not drain in time"
    assert leads.read().count() == 3

    # replay: wipe the checkpoint so the WHOLE feed re-delivers — the
    # hash gate must make the re-merge a pure no-op
    import shutil

    shutil.rmtree(ckpt)
    before = {r["prop_id"]: r["content_hash"] for r in leads.read().collect()}
    q = run_lead_prep_package_stream(spark, str(feed), pois, cats, leads, ckpt)
    assert q.awaitTermination(600), "stream did not drain in time"
    after = {r["prop_id"]: r["content_hash"] for r in leads.read().collect()}
    assert after == before


def test_lead_prep_stream_e2e(spark, tmp_path):
    """Streaming lead-prep = batch lead-prep, incrementally: two feed
    files of property updates drain through foreachBatch into the merge
    table; the final state must equal the BATCH computation over the
    latest property positions, and a replay must change nothing
    (hash-gated idempotence)."""
    from etl_stack_spark.plans.lead_prep_stream import (
        run_lead_prep_stream,
    )
    from etl_stack_spark.queries.geo import lead_prep_rank

    pois = spark.createDataFrame(
        [
            (1, "Convenience", "Brand#11", 10, 9.80, -84.10),
            (2, "Convenience", "Brand#99", 20, 9.801, -84.101),
            (3, "Education", "Brand#22", 30, 9.81, -84.11),
            (4, "Education", "Brand#55", 15, 9.79, -84.09),
            (5, "Health", "Brand#32", 25, 9.80, -84.12),
        ],
        "poi_id long, category string, brand string, quality_score int, poi_lat double, poi_lon double",
    )

    feed = tmp_path / "feed"
    batch1 = spark.createDataFrame(
        [(100, 9.80, -84.10, "2024-01-01 00:00:00"),
         (101, 9.81, -84.11, "2024-01-01 00:00:01")],
        "prop_id long, lat double, lon double, ts_s string",
    ).withColumn("updated_at", F.col("ts_s").cast("timestamp")).drop("ts_s")
    # append-mode writes land part-files at the feed's top level — the
    # file source does not recurse into per-batch subdirectories
    batch1.write.mode("append").parquet(str(feed))

    results = ParquetMergeTable(spark, str(tmp_path / "results"))
    ckpt = str(tmp_path / "ckpt_lead")
    q = run_lead_prep_stream(spark, str(feed), pois, results, ckpt)
    assert q.awaitTermination(600), "stream did not drain in time"

    # second file arrives: one NEW property and one UPDATE moving 100
    batch2 = spark.createDataFrame(
        [(100, 9.79, -84.09, "2024-01-01 01:00:00"),
         (102, 9.80, -84.12, "2024-01-01 01:00:01")],
        "prop_id long, lat double, lon double, ts_s string",
    ).withColumn("updated_at", F.col("ts_s").cast("timestamp")).drop("ts_s")
    batch2.write.mode("append").parquet(str(feed))
    q2 = run_lead_prep_stream(spark, str(feed), pois, results, ckpt)
    assert q2.awaitTermination(600), "stream did not drain in time"

    latest_props = spark.createDataFrame(
        [(100, 9.79, -84.09), (101, 9.81, -84.11), (102, 9.80, -84.12)],
        "prop_id long, lat double, lon double",
    )
    expected = {
        (r["prop_id"], r["category"], r["rnk"]): (r["poi_id"], r["tier"])
        for r in lead_prep_rank(latest_props, pois).collect()
    }
    got_df = results.read()
    got = {
        (r["prop_id"], r["category"], r["rnk"]): (r["poi_id"], r["tier"])
        for r in got_df.collect()
    }
    # prop 100 MOVED: rows keyed by its new ranking must match the batch
    # truth; prop 101/102 match outright. (Stale rank rows from 100's old
    # position would need soft-delete scope — out of feed contract here,
    # where a property keeps the same k per category.)
    assert got == expected and len(got) > 0

    # replay the whole feed with a FRESH checkpoint: every row re-merges,
    # hash gate says unchanged, table version content identical
    before = {r for r in got_df.collect()}
    q3 = run_lead_prep_stream(spark, str(feed), pois, results, str(tmp_path / "ckpt2"))
    assert q3.awaitTermination(600), "stream did not drain in time"
    after = {r for r in results.read().collect()}
    assert after == before


def test_lead_prep_stream_tombstones_stale_ranks(spark, tmp_path):
    """ADVICE r4: a re-ranked property that now matches FEWER POIs must
    not keep serving its old higher-rnk rows — the merge scopes a soft
    delete to the batch's properties, preserving the reference's
    per-property replace semantics."""
    from etl_stack_spark.plans.lead_prep_stream import run_lead_prep_stream

    # two Convenience POIs ~0.1 km apart; the far position keeps only poi 1
    pois = spark.createDataFrame(
        [
            (1, "Convenience", "Brand#11", 10, 9.800, -84.100),
            (2, "Convenience", "Brand#99", 20, 9.801, -84.101),
        ],
        "poi_id long, category string, brand string, quality_score int, poi_lat double, poi_lon double",
    )
    feed = tmp_path / "feed_stale"
    results = ParquetMergeTable(spark, str(tmp_path / "results_stale"))
    ckpt = str(tmp_path / "ckpt_stale")

    spark.createDataFrame(
        [(200, 9.800, -84.100, "2024-01-01 00:00:00")],
        "prop_id long, lat double, lon double, ts_s string",
    ).withColumn("updated_at", F.col("ts_s").cast("timestamp")).drop("ts_s") \
        .write.mode("append").parquet(str(feed))
    assert run_lead_prep_stream(spark, str(feed), pois, results, ckpt).awaitTermination(600), "stream did not drain in time"
    first = {r["rnk"]: r["status"] for r in results.read().collect()}
    assert first == {1: "active", 2: "active"}

    # the property moves south: poi 1 lands at ~2.95 km (inside the 3 km
    # radius), poi 2 at ~3.06 km (outside) — the old rnk=2 row is now stale
    spark.createDataFrame(
        [(200, 9.7735, -84.100, "2024-01-01 01:00:00")],
        "prop_id long, lat double, lon double, ts_s string",
    ).withColumn("updated_at", F.col("ts_s").cast("timestamp")).drop("ts_s") \
        .write.mode("append").parquet(str(feed))
    assert run_lead_prep_stream(spark, str(feed), pois, results, ckpt).awaitTermination(600), "stream did not drain in time"

    rows = {r["rnk"]: (r["status"], r["poi_id"]) for r in results.read().collect()}
    assert rows[1] == ("active", 1)
    assert rows[2][0] == "deleted"  # tombstoned, not silently served
    live = results.read().filter(F.col("status") != "deleted")
    assert [r["poi_id"] for r in live.collect()] == [1]


def test_corpus_clean_stream_first_seen_across_batches(spark, tmp_path):
    """Streaming corpus wash: gates + redaction run per micro-batch and
    the merge table's hash gate makes exact dedup FIRST-SEEN across
    batches — a later duplicate (even with a different doc_id) never
    replaces the original, and a full replay changes nothing."""
    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.plans.corpus_stream import run_corpus_clean_stream

    good = (
        "the quick brown fox jumps over the lazy dog and runs with the pack "
        "through the field and the forest and the hills beyond them all"
    )
    feed = tmp_path / "docfeed"
    b1 = spark.createDataFrame(
        [
            (1, good, "srcA", "2024-01-01 00:00:00"),
            (2, "tiny", "srcA", "2024-01-01 00:00:01"),  # fails quality gates
            (3, good + " email me bob@example.com", "srcB", "2024-01-01 00:00:02"),
        ],
        "doc_id long, text string, source string, ts_s string",
    ).withColumn("ingested_at", F.col("ts_s").cast("timestamp")).drop("ts_s")
    b1.write.mode("append").parquet(str(feed))

    results = ParquetMergeTable(spark, str(tmp_path / "corpus"))
    ckpt = str(tmp_path / "ckpt_corpus")
    assert run_corpus_clean_stream(spark, str(feed), results, ckpt).awaitTermination(600), "stream did not drain in time"

    state1 = {r["fp"]: r for r in results.read().collect()}
    assert len(state1) == 2  # doc 2 gated out; docs 1 and 3 differ in content
    by_doc = {r["doc_id"]: r for r in state1.values()}
    assert "<EMAIL>" in by_doc[3]["text_redacted"]  # redaction applied

    # batch 2: doc 10 duplicates doc 1's content — first-seen must win
    b2 = spark.createDataFrame(
        [(10, good, "srcC", "2024-01-02 00:00:00")],
        "doc_id long, text string, source string, ts_s string",
    ).withColumn("ingested_at", F.col("ts_s").cast("timestamp")).drop("ts_s")
    b2.write.mode("append").parquet(str(feed))
    assert run_corpus_clean_stream(spark, str(feed), results, ckpt).awaitTermination(600), "stream did not drain in time"

    state2 = {r["fp"]: r for r in results.read().collect()}
    assert len(state2) == 2
    docs = sorted(r["doc_id"] for r in state2.values())
    assert docs == [1, 3]  # doc 10 skipped: fingerprint already ingested

    # replay from a fresh checkpoint: the whole feed reprocesses, state
    # is unchanged (hash-gated idempotence)
    assert run_corpus_clean_stream(
        spark, str(feed), results, str(tmp_path / "ckpt_replay")
    ).awaitTermination(600), "stream did not drain in time"
    state3 = {r["fp"]: (r["doc_id"], r["source"]) for r in results.read().collect()}
    assert state3 == {k: (v["doc_id"], v["source"]) for k, v in state2.items()}


def test_streaming_anomaly_trailing_state_across_batches(spark, tmp_path):
    """The trailing-24 window must carry across micro-batches: warm-up
    hours in batch 1 never flag; a 10x spike arriving in batch 2 flags
    against state built in batch 1, and the spike itself then joins the
    window (masking an identical later spike -- the documented trailing-
    mean behavior)."""
    from etl_stack_spark.streaming.stateful import streaming_anomaly_counts

    src = tmp_path / "anom_in"
    src.mkdir()
    schema = "event_type string, hour long, cnt long"
    base = [("click", h, 100 + (h % 3)) for h in range(14)]  # 14 calm hours
    b1 = spark.createDataFrame(base, schema)
    b2 = spark.createDataFrame(
        [("click", 14, 1000), ("click", 15, 101), ("view", 0, 5)], schema
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    sink: list[tuple] = []

    def collect(df, _epoch):
        sink.extend(
            (r["event_type"], r["hour"], r["win_n"], r["is_anomaly"]) for r in df.collect()
        )

    q = (
        streaming_anomaly_counts(stream)
        .writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt_anom"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain in time"
    rows = {(t, h): (n, a) for t, h, n, a in sink}
    assert len(rows) == 17
    assert all(not rows[("click", h)][1] for h in range(14))  # warm-up calm
    assert rows[("click", 14)] == (14, True)   # spike vs batch-1 state
    assert rows[("click", 15)][1] is False     # back to normal
    assert rows[("view", 0)] == (0, False)     # fresh key: no state, no flag


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the horizon drop
    (including across micro-batches); rows with distinct keys pass. State
    is watermark-evicted — asserted by the query making progress with
    eviction-capable state (native dedup operator, no custom state)."""
    import datetime as dt

    from etl_stack_spark.streaming.stateful import streaming_dedup_within_watermark

    src = tmp_path / "wmdedup_in"
    src.mkdir()
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    schema = "key string, content_hash string, ts timestamp"
    b1 = spark.createDataFrame(
        [("k1", "h1", t0), ("k1", "h1", t0 + dt.timedelta(minutes=1)),  # in-batch dup
         ("k2", "h9", t0)],
        schema,
    )
    b2 = spark.createDataFrame(
        [("k1", "h1", t0 + dt.timedelta(minutes=5)),  # cross-batch dup in horizon
         ("k1", "h3", t0 + dt.timedelta(minutes=6))],
        schema,
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = streaming_dedup_within_watermark(stream, horizon="1 hour")
    sink: list[tuple] = []

    def collect(df, _epoch):
        sink.extend((r["key"], r["content_hash"]) for r in df.collect())

    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt_wmdedup"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain in time"
    assert sorted(sink) == [("k1", "h1"), ("k1", "h3"), ("k2", "h9")]


def test_stream_stream_interval_join_attribution(spark, tmp_path):
    """Watermarked stream-stream interval join: clicks attribute to the
    impression of the same user within 10 minutes; outside-window and
    wrong-key clicks drop."""
    from etl_stack_spark.streaming.joins import interval_join

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imps = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00", "ad1"),
            ("u2", "2024-01-01 00:05:00", "ad2"),
            ("u3", "2024-01-01 00:00:00", "ad3"),
        ],
        "user string, ts_s string, ad string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    clicks = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:04:00", "c1"),   # in window -> match
            ("u2", "2024-01-01 00:30:00", "c2"),   # 25 min after -> drop
            ("u4", "2024-01-01 00:02:00", "c3"),   # no impression -> drop
            ("u3", "2023-12-31 23:59:00", "c4"),   # BEFORE impression -> drop
        ],
        "user string, ts_s string, click_id string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    imps.write.parquet(str(imp_dir))
    clicks.write.parquet(str(clk_dir))

    j = interval_join(
        spark.readStream.schema(imps.schema).parquet(str(imp_dir)),
        spark.readStream.schema(clicks.schema).parquet(str(clk_dir)),
        key="user",
        upper="10 minutes",
        watermark="30 minutes",
    )
    sink: list[tuple] = []

    def collect(df, _epoch):
        sink.extend((r["user"], r["ad"], r["r_click_id"]) for r in df.collect())

    q = (
        j.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain in time"
    assert sorted(sink) == [("u1", "ad1", "c1")]


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """leftOuter interval join: the unmatched impression emits with a null
    click once a later batch's events push the watermark past its window."""
    from etl_stack_spark.streaming.joins import interval_join

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(); clk_dir.mkdir()
    schema_i = "user string, ts_s string, ad string"
    schema_c = "user string, ts_s string, click_id string"

    def _w(df, path):
        df.withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s") \
            .coalesce(1).write.parquet(str(path))

    _w(spark.createDataFrame([("u1", "2024-01-01 00:00:00", "ad1")], schema_i),
       imp_dir / "b1")
    _w(spark.createDataFrame([("u9", "2024-01-01 00:01:00", "c0")], schema_c),
       clk_dir / "b1")
    # watermark pushers: far-future events on both sides
    _w(spark.createDataFrame([("u8", "2024-01-01 06:00:00", "ad9")], schema_i),
       imp_dir / "b2")
    _w(spark.createDataFrame([("u8", "2024-01-01 06:00:30", "c9")], schema_c),
       clk_dir / "b2")

    ts_schema = "user string, ts timestamp, ad string"
    tc_schema = "user string, ts timestamp, click_id string"
    j = interval_join(
        spark.readStream.schema(ts_schema).option("maxFilesPerTrigger", 1)
        .parquet(str(imp_dir / "*")),
        spark.readStream.schema(tc_schema).option("maxFilesPerTrigger", 1)
        .parquet(str(clk_dir / "*")),
        key="user",
        upper="10 minutes",
        watermark="30 minutes",
        how="leftOuter",
    )
    sink: list[tuple] = []

    def collect(df, _epoch):
        sink.extend((r["user"], r["ad"], r["r_click_id"]) for r in df.collect())

    q = (
        j.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt_ssjo"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain in time"
    assert ("u1", "ad1", None) in sink          # unmatched -> null side emitted
    assert ("u8", "ad9", "c9") in sink          # matched pair still joins


def test_corpus_clean_stream_near_dup_across_batches(spark, tmp_path):
    """With an LSH state table, the streaming wash drops a LATER batch's
    near-copy (different fingerprint!) of an already-kept document, and a
    fresh-checkpoint replay changes nothing."""
    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.plans.corpus_stream import run_corpus_clean_stream

    good = (
        "the quick brown fox jumps over the lazy dog and runs with the pack "
        "through the field and the forest and the hills beyond them all"
    )
    other = (
        "entirely different prose about catalyst optimizer rules and the "
        "shuffle exchanges that adaptive execution coalesces at runtime"
    )
    feed = tmp_path / "ndfeed"
    b1 = spark.createDataFrame(
        [(1, good, "srcA", "2024-01-01 00:00:00")],
        "doc_id long, text string, source string, ts_s string",
    ).withColumn("ingested_at", F.col("ts_s").cast("timestamp")).drop("ts_s")
    b1.write.mode("append").parquet(str(feed))

    results = ParquetMergeTable(spark, str(tmp_path / "nd_corpus"))
    lsh = ParquetMergeTable(spark, str(tmp_path / "nd_lsh"))
    ckpt = str(tmp_path / "ckpt_nd")
    assert run_corpus_clean_stream(
        spark, str(feed), results, ckpt, lsh_state=lsh
    ).awaitTermination(600), "stream did not drain in time"
    assert {r["doc_id"] for r in results.read().collect()} == {1}

    # batch 2: 10 = near-copy of 1 (extra tail -> NEW fingerprint);
    # 11 = genuinely new content
    b2 = spark.createDataFrame(
        [
            (10, good + " with a tiny tail", "srcB", "2024-01-02 00:00:00"),
            (11, other, "srcB", "2024-01-02 00:00:01"),
        ],
        "doc_id long, text string, source string, ts_s string",
    ).withColumn("ingested_at", F.col("ts_s").cast("timestamp")).drop("ts_s")
    b2.write.mode("append").parquet(str(feed))
    assert run_corpus_clean_stream(
        spark, str(feed), results, ckpt, lsh_state=lsh
    ).awaitTermination(600), "stream did not drain in time"
    assert {r["doc_id"] for r in results.read().collect()} == {1, 11}

    # full replay from a fresh checkpoint: near-dup state is hash-gated
    # too, so nothing changes
    assert run_corpus_clean_stream(
        spark, str(feed), results, str(tmp_path / "ckpt_nd_replay"),
        lsh_state=lsh,
    ).awaitTermination(600), "stream did not drain in time"
    assert {r["doc_id"] for r in results.read().collect()} == {1, 11}


def test_streaming_grouped_hll_matches_batch_and_replay_is_noop(spark, tmp_path):
    """Grouped-HLL state across micro-batches: after draining a 3-batch
    feed, per-group estimates EQUAL the one-shot batch sketch over the
    same rows; re-merging a batch (at-least-once replay) changes
    nothing (register max is idempotent)."""
    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.operators.sketch import (
        hll_estimate_grouped,
        hll_sketch_grouped,
    )
    from etl_stack_spark.streaming.sketches import (
        hll_stream_batch_fn,
        read_distinct_estimates,
        run_hll_stream,
    )

    feed = tmp_path / "hllfeed"
    rows = [(f"g{i % 3}", f"user{i % 97}") for i in range(600)]
    full = spark.createDataFrame(rows, "grp string, uid string")
    for part in range(3):
        full.filter(F.crc32(F.col("uid")) % 3 == part).write.mode("append").parquet(
            str(feed)
        )

    state = ParquetMergeTable(spark, str(tmp_path / "hllstate"))
    assert run_hll_stream(
        spark, str(feed), "grp string, uid string", state,
        str(tmp_path / "ckpt_hll"), "grp", "uid",
    ).awaitTermination(600), "stream did not drain in time"

    streamed = {
        r.grp: r.est_distinct for r in read_distinct_estimates(state, "grp").collect()
    }
    oneshot = {
        r.grp: r.est_distinct
        for r in hll_estimate_grouped(
            hll_sketch_grouped(full, "grp", F.col("uid")), "grp"
        ).collect()
    }
    assert streamed == oneshot and len(streamed) == 3

    # replay: merge batch 0 again through the same callback — no change
    b0 = full.filter(F.crc32(F.col("uid")) % 3 == 0)
    hll_stream_batch_fn(state, "grp", "uid")(b0, 999)
    replayed = {
        r.grp: r.est_distinct for r in read_distinct_estimates(state, "grp").collect()
    }
    assert replayed == streamed


def test_streaming_retractable_agg_matches_recompute_and_gates_replay(spark, tmp_path):
    """Streaming IVM: after draining a 3-batch signed change feed, the
    maintained aggregate equals a direct recompute over the net rows;
    re-invoking the callback with an already-applied batch id is a
    PROVABLE no-op (signed deltas are not idempotent — the atomic
    batch-id gate is what makes replay safe)."""
    from pyspark.sql import functions as F
    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.streaming.incremental_agg import (
        agg_maintenance_batch_fn,
        read_aggregate,
        run_agg_maintenance_stream,
    )

    feed = tmp_path / "feed"
    # batch files: b0 inserts 6 rows; b1 inserts 2 + deletes 2 of b0's;
    # b2 deletes the whole 'y' group
    b0 = [("x", 10, 1), ("x", 5, 1), ("y", 7, 1), ("y", 3, 1), ("z", 2, 1), ("z", 4, 1)]
    b1 = [("x", 20, 1), ("z", 2, -1), ("x", 5, -1), ("w", 9, 1)]
    b2 = [("y", 7, -1), ("y", 3, -1)]
    for i, rows in enumerate([b0, b1, b2]):
        spark.createDataFrame(rows, "grp string, v long, _sign int").write.parquet(
            str(feed / f"b{i}.parquet")
        )
    measures = {"n": ("count", F.lit(1)), "total": ("sum", F.col("v"))}
    state = ParquetMergeTable(spark, str(tmp_path / "aggstate"))
    assert run_agg_maintenance_stream(
        spark, str(feed / "*"), "grp string, v long", state,
        str(tmp_path / "ckpt"), ["grp"], measures, count_col="n",
    ).awaitTermination(600), "stream did not drain in time"

    got = {r.grp: (r.n, r.total) for r in read_aggregate(state).collect()}
    assert got == {"x": (2, 30), "z": (1, 4), "w": (1, 9)}  # y fully retracted

    # replay: re-apply batch id 0 through the same callback -> no change
    replay = spark.createDataFrame(b0, "grp string, v long, _sign int")
    agg_maintenance_batch_fn(state, ["grp"], measures, "n")(replay, 0)
    again = {r.grp: (r.n, r.total) for r in read_aggregate(state).collect()}
    assert again == got


def test_streaming_quantile_sketch_matches_batch_and_replay_is_noop(spark, tmp_path):
    """Quantile-sketch state across micro-batches: after draining a
    3-batch feed, per-group quantiles EQUAL the one-shot batch sketch
    over the same rows; re-merging a batch (at-least-once replay)
    changes nothing (the (group, h, v) dedup removes replayed rows —
    the sketch key is a row identity, so equal pairs can only be
    replays)."""
    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.operators.sketch import quantile_estimate, quantile_sketch
    from etl_stack_spark.streaming.sketches import (
        quantile_stream_batch_fn,
        read_quantile_estimates,
        run_quantile_stream,
    )

    feed = tmp_path / "qskfeed"
    # duplicate VALUES on distinct identities are intentional: they must
    # stay multiset-sampled, only identity replays dedup
    rows = [(f"g{i % 2}", str(i), float((i * 13) % 50) / 2.0) for i in range(900)]
    full = spark.createDataFrame(rows, "grp string, rid string, v double")
    for part in range(3):
        full.filter(F.crc32(F.col("rid")) % 3 == part).write.mode("append").parquet(
            str(feed)
        )

    state = ParquetMergeTable(spark, str(tmp_path / "qskstate"))
    assert run_quantile_stream(
        spark, str(feed), "grp string, rid string, v double", state,
        str(tmp_path / "ckpt_qsk"), "grp", "rid", "v", k=64,
    ).awaitTermination(600), "stream did not drain in time"

    streamed = sorted(map(tuple, read_quantile_estimates(state, "grp").collect()))
    oneshot = sorted(
        map(
            tuple,
            quantile_estimate(
                quantile_sketch(full, F.col("rid"), F.col("v"), ("grp",), 64),
                (0.5, 0.9, 0.99),
                ("grp",),
            ).collect(),
        )
    )
    assert streamed == oneshot and len(streamed) == 2

    # replay batch 0 through the same callback — state must not move
    b0 = full.filter(F.crc32(F.col("rid")) % 3 == 0)
    quantile_stream_batch_fn(state, "grp", "rid", "v", k=64)(b0, 999)
    replayed = sorted(map(tuple, read_quantile_estimates(state, "grp").collect()))
    assert replayed == streamed


def test_corpus_stream_observe_counters_match_batch_wash(spark, tmp_path):
    """VERDICT r8 task 7: the streaming wash's zero-extra-pass counters
    (Observation API inside the batch fn + observe() on the streaming
    frame read through a StreamingQueryListener) must MATCH the numbers
    a batch computation of the same gates produces on the same input —
    across multiple micro-batches with gate failures, in-batch dups and
    cross-batch dups."""
    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.operators.text import fingerprint, lang_id, quality_score
    from etl_stack_spark.plans.corpus_stream import run_corpus_clean_stream
    from etl_stack_spark.streaming.queue import ObservedMetricsListener

    good = (
        "the quick brown fox jumps over the lazy dog and runs with the pack "
        "through the field and the forest and the hills beyond them all"
    )
    other = (
        "a completely different long document about rivers and mountains "
        "where the water flows down to the sea and the birds fly over it"
    )
    schema = "doc_id long, text string, source string, ts_s string"
    feed = tmp_path / "feed"
    b1 = [
        (1, good, "a", "2024-01-01 00:00:00"),
        (2, "tiny", "a", "2024-01-01 00:00:01"),        # quality-gated
        (3, good, "b", "2024-01-01 00:00:02"),          # in-batch dup of 1
        (4, other, "a", "2024-01-01 00:00:03"),
    ]
    b2 = [
        (10, good, "c", "2024-01-02 00:00:00"),         # cross-batch dup of 1
        (11, "x y", "c", "2024-01-02 00:00:01"),        # quality-gated
        (12, other + " extra tail words here", "c", "2024-01-02 00:00:02"),
    ]

    def write(rows):
        spark.createDataFrame(rows, schema).withColumn(
            "ingested_at", F.col("ts_s").cast("timestamp")
        ).drop("ts_s").write.mode("append").parquet(str(feed))

    listener = ObservedMetricsListener()
    spark.streams.addListener(listener)
    try:
        results = ParquetMergeTable(spark, str(tmp_path / "corpus"))
        ckpt = str(tmp_path / "ckpt")
        metrics: dict = {}
        write(b1)
        assert run_corpus_clean_stream(
            spark, str(feed), results, ckpt, metrics=metrics
        ).awaitTermination(600), "stream did not drain in time"
        write(b2)
        assert run_corpus_clean_stream(
            spark, str(feed), results, ckpt, metrics=metrics
        ).awaitTermination(600), "stream did not drain in time"

        # ground truth from a BATCH pass of the same gates on the union
        all_rows = spark.createDataFrame(b1 + b2, schema).select(
            "doc_id",
            fingerprint(F.col("text")).alias("fp"),
            quality_score(F.col("text")).alias("q"),
            lang_id(F.col("text")).alias("lang"),
        )
        rows = all_rows.collect()
        gated_q = [r for r in rows if r["q"] < 0.4]
        passed = [
            r for r in rows
            if r["q"] >= 0.4 and r["lang"] in ("en", "es", "de", "fr")
        ]
        gated_l = len(rows) - len(gated_q) - len(passed)
        distinct_fps = len({r["fp"] for r in passed})
        total_dups = len(passed) - distinct_fps

        assert metrics["docs_in"] == len(rows) == 7
        assert metrics["gated_quality"] == len(gated_q) == 2
        assert metrics["gated_lang"] == gated_l
        # in-batch + cross-batch dup skips together account for every
        # duplicate fingerprint occurrence the batch pass sees
        assert metrics["batch_dups"] + metrics["cross_batch_dups"] == total_dups == 2
        assert metrics["inserted"] == distinct_fps == results.read().count() == 3

        # the listener saw per-micro-batch feed counts summing to docs_in
        # (delivery is async — poll briefly)
        import time as _t

        for _ in range(40):
            seen = sum(
                row["docs_in"]
                for _q, name, row in listener.rows
                if name == "corpus_wash_in"
            )
            if seen >= len(rows):
                break
            _t.sleep(0.25)
        assert seen == len(rows), listener.rows
    finally:
        spark.streams.removeListener(listener)
