"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line.

Each headline number is the median of $SPARK_GRAFT_BENCH_RUNS (default 3)
back-to-back runs of one query, after a warmup that builds the session
stores and times each build. A sweep then runs every other registered
query once, so a slow query outside the headline still shows up, and
eight ``bench_*`` tiers time the streaming, merge, Delta-tail, WARC,
file-skipping and ANN-maintenance paths. Samples, sweep and tiers go to
a sidecar: BENCH_DETAIL.json on a full run, BENCH_SUBSET.json on a
--queries run.

Queries are timed with ``.count()``, and Catalyst prunes some plans under
it to a bare row count, so those read low (perfbench/README.md, "Not
comparable with bench.py"). The numbers are a record, not a verdict: to
judge a change against its parent, use perfbench's interleaved pairs or
tools/microbench.py on one box.

Usage: python bench.py [--queries=q1,q2] [--no-sweep] [--no-stream]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_stack_spark.session import get_spark  # noqa: E402

# Headline queries: the flagship plus one per operator family once they land.
HEADLINE = [
    # geo showcase FIRST: the family shares one persisted match stream
    # that the warmup just materialized — queries between the warmup and
    # the family can pressure it out of the heap, and a mid-run eviction
    # turns three ~2s queries into three ~4s recomputes (measured)
    "j6_radius_join",
    "t1_lead_prep_topk",
    "a2a3_lead_metrics",
    # relational spine
    "t1_tiered_topk",
    "a1_group_stats",
    "j1_broadcast_lookup",
    "j9_dedup_check",
    "a2_conditional_counts",
    # scalar/codegen
    "p4_clean_price",
    "p9_content_hash",
    # LLM-pipeline ops
    "dd2_minhash_lsh",
    "ss1_bruteforce_topk",
    "tx2_quality_score",
    "llm1_corpus_clean",
    # event-time windows
    "stw1_tumbling_window",
    "stw3_session_window",
    # merge emulation
    "m1_hash_gated_merge",
    # TPC-H anchors
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_volume",
    "q10_returned_revenue",
    "q7_nation_pair_volume",
    "q12_priority_counts",
    "q14_promo_revenue",
    # event analytics
    "fn1_funnel_conversion",
    "aj1_asof_join",
]


def time_query(fn, spark, sf_dir: str) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = fn(spark, sf_dir).count()  # full execution, no driver-side data collect
    return time.perf_counter() - t0, n


def warm_stores(spark, sf_dir: str, requested: set[str] | None) -> dict[str, float]:
    """Build and materialize each session store / trained index, timing
    each build, so the record prices the once-per-session cost that the
    timed queries then read for free. Stores are keyed per session and
    sf_dir, so nothing survives the run. With ``requested`` set (a
    --queries run), a store is built only when a requested query reads
    it. Returns {store: build secs}; a failed build is skipped."""
    from etl_stack_spark.queries import corpus_q
    from etl_stack_spark.queries import similarity as sim_q
    from etl_stack_spark.queries import text_dedup

    lsh_consumers = {
        "ss1_bruteforce_topk", "ss2_lsh_topk", "ss3_ivf_topk",
        "ss4_multiprobe_topk", "dd5_embedding_neardup",
        "rrf1_hybrid_retrieval", "hn1_hard_negatives",
    }
    minhash_consumers = {
        "dd2_minhash_lsh", "dd6_cluster_dedup", "dd8_quality_survivor",
        "split1_leakage_safe", "llm1_corpus_clean", "llm2_corpus_clean_v2",
        "llm3_corpus_clean_v3",
    }
    corpus_consumers = {
        "llm1_corpus_clean", "llm2_corpus_clean_v2", "llm3_corpus_clean_v3",
        "dd8_quality_survivor",
    }
    specs: list[tuple[str, set[str], object]] = [
        ("ann_normalized", {"pq1_adc_topk", "ivfpq1_topk"},
         lambda: sim_q._ann_normalized(spark, sf_dir).count()),
        ("lsh_bucket", lsh_consumers,
         lambda: sim_q._lsh_bucketed(spark, sf_dir).count()),
        ("pq_train_encode", {"pq1_adc_topk"},
         lambda: sim_q._pq_trained(spark, sf_dir)),
        ("ivfpq_train_encode", {"ivfpq1_topk"},
         lambda: sim_q._ivfpq_trained(spark, sf_dir)),
        ("minhash_sig", minhash_consumers,
         lambda: text_dedup.sig_base(spark, sf_dir).count()),
        ("minhash_pair", minhash_consumers,
         lambda: text_dedup.pair_base(spark, sf_dir).count()),
        ("minhash_cluster",
         {"dd6_cluster_dedup", "dd8_quality_survivor", "split1_leakage_safe"},
         lambda: text_dedup.cluster_base(spark, sf_dir).count()),
        ("sem_pair", {"sd1_semantic_dedup", "llm3_corpus_clean_v3"},
         lambda: text_dedup.sem_pair_base(spark, sf_dir).count()),
        ("corpus_scored_gate", corpus_consumers,
         lambda: [v.count() for v in corpus_q.corpus_base(spark, sf_dir).values()]),
        ("xdoc", {"llm3_corpus_clean_v3"},
         lambda: corpus_q.xdoc_base(spark, sf_dir).count()),
    ]
    out: dict[str, float] = {}
    for key, consumers, build in specs:
        if requested is not None and not (requested & consumers):
            continue
        try:
            t0 = time.perf_counter()
            build()
            out[key] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # warmup must never fail the bench
            print(f"# store warm {key} skipped: {e}", file=sys.stderr)
    return out


def bench_streaming(spark, sf_dir: str) -> dict:
    """Time the streaming lead-prep drain at bench scale: the sf props as
    a one-shot property feed through foreachBatch (radius join + rank +
    hash-gated MERGE) into a fresh results table. Returns props/sec, the
    streaming path's throughput signal."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.plans.lead_prep_stream import run_lead_prep_stream
    from etl_stack_spark.queries.geo import pois_df, props_df

    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        feed = os.path.join(work, "feed")
        props = props_df(spark, sf_dir).withColumn("updated_at", F.current_timestamp())
        n_props = props.count()
        props.write.parquet(feed)
        results = ParquetMergeTable(spark, os.path.join(work, "results"))
        t0 = time.perf_counter()
        q = run_lead_prep_stream(
            spark, feed, pois_df(spark, sf_dir), results, os.path.join(work, "ckpt")
        )
        q.awaitTermination(600)
        secs = round(time.perf_counter() - t0, 3)
        return {
            "props": n_props,
            "result_rows": results.read().count(),
            "secs": secs,
            "props_per_sec": round(n_props / secs, 1) if secs else None,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_streaming_corpus(spark, sf_dir: str) -> dict:
    """Time the streaming corpus wash at bench scale: the sf documents as
    a one-shot feed through foreachBatch (gates + PII redaction +
    cross-batch first-seen dedup) into a fresh merge table. docs/sec is
    the curation streaming path's throughput signal."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.plans.corpus_stream import run_corpus_clean_stream

    work = tempfile.mkdtemp(prefix="bench_cstream_")
    try:
        feed = os.path.join(work, "feed")
        docs = (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "text", "source")
            .withColumn("ingested_at", F.current_timestamp())
        )
        n_docs = docs.count()
        docs.write.parquet(feed)
        results = ParquetMergeTable(spark, os.path.join(work, "results"))
        t0 = time.perf_counter()
        q = run_corpus_clean_stream(spark, feed, results, os.path.join(work, "ckpt"))
        q.awaitTermination(600)
        secs = round(time.perf_counter() - t0, 3)
        base = {
            "docs": n_docs,
            "result_rows": results.read().count(),
            "secs": secs,
            "docs_per_sec": round(n_docs / secs, 1) if secs else None,
        }
        # same feed, cross-batch NEAR-dup enabled (incremental LSH state).
        # TWO samples into fresh state dirs + a per-stage cost split: one
        # cold sample cannot tell a plan change from a noisy box, so the
        # record carries the spread AND where each second went
        nd_samples = []
        nd_stage_runs = []
        nd_rows = None
        for i in range(2):
            results_nd = ParquetMergeTable(spark, os.path.join(work, f"results_nd{i}"))
            lsh = ParquetMergeTable(spark, os.path.join(work, f"lsh_state{i}"))
            stages: dict = {}
            t0 = time.perf_counter()
            q = run_corpus_clean_stream(
                spark, feed, results_nd, os.path.join(work, f"ckpt_nd{i}"),
                lsh_state=lsh, stage_secs=stages,
            )
            q.awaitTermination(600)
            nd_samples.append(round(time.perf_counter() - t0, 3))
            nd_stage_runs.append({k: round(v, 3) if isinstance(v, float) else v
                                  for k, v in stages.items()})
            nd_rows = results_nd.read().count()
        secs_nd = min(nd_samples)  # best-of-2: the steady-state claim
        base["neardup"] = {
            "result_rows": nd_rows,
            "secs": secs_nd,
            "samples": nd_samples,
            "stages": nd_stage_runs,
            "docs_per_sec": round(n_docs / secs_nd, 1) if secs_nd else None,
        }
        return base
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_warc_pipeline(
    spark, sf_dir: str, n_files: int = 32, recs_per_file: int = 2000
) -> dict:
    """WARC→HTML→wash front-door tier: N multi-record
    .warc.gz files (one gzip member per record, the CommonCrawl layout;
    a warcinfo record leading each file) → parse_warc_batch → HTML→text
    extraction → token-count quality gate. warc1/html1 pin correctness
    at fixture scale; this records throughput at volume. Parallelism =
    file count (one task per member stream), so n_files defaults to the
    executor-thread count — the 100 TB shape, where CommonCrawl ships
    ~64k segment files per crawl. Synthesis time is recorded separately
    and excluded from the measured pipeline."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_stack_spark.operators.text import html_to_text, tokens
    from etl_stack_spark.sources.warc import (
        encode_http_response,
        encode_warc_record,
        gzip_members,
        parse_warc_batch,
    )

    tmp = tempfile.mkdtemp(prefix="warc_bench_")
    try:
        t0 = time.perf_counter()
        for f_idx in range(n_files):
            records = [
                encode_warc_record(
                    f"info-{f_idx}", "warcinfo", None, b"software: etl-stack-spark"
                )
            ]
            for r in range(recs_per_file):
                did = f_idx * recs_per_file + r
                # did % 80 body words: docs with < 3 fall below the
                # 10-token gate (boilerplate contributes ~7) — the gate
                # must measurably drop rows or it isn't being benched
                words = " ".join(f"w{(did * 31 + k) % 97}" for k in range(did % 80))
                html = (
                    f"<html><head><title>Doc {did}</title><script>var x={did};"
                    f"</script><style>.n{{color:red}}</style></head><body>"
                    f"<nav>home | about</nav><p>{words}</p>"
                    f"<footer>&copy; example</footer></body></html>"
                )
                records.append(
                    encode_warc_record(
                        f"resp-{did}",
                        "response",
                        f"http://example.test/{did}",
                        encode_http_response(html.encode()),
                    )
                )
            with open(os.path.join(tmp, f"part-{f_idx:05d}.warc.gz"), "wb") as fh:
                fh.write(gzip_members(records))
        synth_secs = time.perf_counter() - t0

        t1 = time.perf_counter()
        files = (
            spark.read.format("binaryFile")
            .load(tmp + "/*.warc.gz")
            .select("path", "content")
        )
        recs = parse_warc_batch(files)
        resp = recs.filter(F.col("warc_type") == "response")
        text = resp.select(html_to_text(F.col("body").cast("string")).alias("text"))
        gated = (
            text.filter(F.col("text").isNotNull())
            .withColumn("n_tokens", F.size(tokens(F.col("text"))))
            .filter((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000))
        )
        survivors = gated.count()
        secs = time.perf_counter() - t1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    total = n_files * recs_per_file
    return {
        "files": n_files,
        "records": total,
        "survivors": survivors,
        "synth_secs": round(synth_secs, 3),
        "secs": round(secs, 3),
        "docs_per_sec": round(total / secs, 1),
    }


def bench_stats_skipping(spark, sf_dir: str, files: int = 64) -> dict:
    """Zone-map file-skipping tier: load orders into a
    Delta-logged merge table clustered on o_custkey (range partition +
    sort), then run the same narrow range read twice — once through
    ``read_where`` (stats-pruned file list) and once as a full-scan
    filter over the whole snapshot. The scale-invariant signal is
    ``files_scanned`` vs ``files_total`` (I/O follows the predicate);
    wall times are recorded honestly (constants-bound at sf0.1, like the
    partitioned-merge tier)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_stack_spark.operators.merge import ParquetMergeTable

    tmp = tempfile.mkdtemp(prefix="skip_bench_")
    try:
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        t = ParquetMergeTable(spark, os.path.join(tmp, "t"), delta_log=True)
        t0 = time.perf_counter()
        t.overwrite(
            orders.repartitionByRange(files, "o_custkey").sortWithinPartitions(
                "o_custkey"
            )
        )
        load_secs = time.perf_counter() - t0
        hi = orders.agg(F.max("o_custkey")).first()[0]
        bounds = {"o_custkey": (1, max(1, hi // files))}  # ~1 file's range

        t1 = time.perf_counter()
        pruned_rows = t.read_where(bounds).count()
        pruned_secs = time.perf_counter() - t1
        keep, total = t.prune_files(bounds)

        t2 = time.perf_counter()
        lo, hi_b = bounds["o_custkey"]
        full_rows = (
            t.read()
            .filter((F.col("o_custkey") >= lo) & (F.col("o_custkey") <= hi_b))
            .count()
        )
        full_secs = time.perf_counter() - t2
        assert pruned_rows == full_rows, "pruned read must be lossless"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "files_total": total,
        "files_scanned": len(keep),
        "skip_ratio": round(1 - len(keep) / total, 3),
        "rows": pruned_rows,
        "load_secs": round(load_secs, 3),
        "pruned_read_secs": round(pruned_secs, 3),
        "full_scan_secs": round(full_secs, 3),
    }


def bench_partitioned_merge(spark, sf_dir: str) -> dict:
    """Partitioned-MERGE tier: load orders into a
    16-partition PartitionedMergeTable, then merge an update touching ONE
    partition, and the SAME update into a whole-snapshot ParquetMergeTable.
    Two recorded signals of the 100 TB claim that a partition-scoped
    merge's cost follows the touched partition, not the table:
    ``rows_rewritten`` (the scale-invariant one — 1/16 of the table vs
    all of it) and the wall ratio (constants-dominated at sf0.1; the
    rows ratio is what extrapolates)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_stack_spark.operators.merge import ParquetMergeTable, PartitionedMergeTable

    work = tempfile.mkdtemp(prefix="bench_pmerge_")
    try:
        rows = (
            spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            .select(
                (F.col("o_orderkey") % 16).cast("string").alias("bucket"),
                # zero-padded so string order == numeric order: the
                # cluster key the stats-pruned merge ranges on
                F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("lkey"),
                F.col("o_totalprice").cast("string").alias("payload"),
            )
            .withColumn("content_hash", F.sha2(F.col("payload"), 256))
        )
        n = rows.count()
        pt = PartitionedMergeTable(spark, os.path.join(work, "pt"), "bucket")
        t0 = time.perf_counter()
        # clustered load: 8 range-clustered files per partition, the
        # layout that makes per-file stats tight on lkey
        pt.merge(rows, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8)
        load_secs = round(time.perf_counter() - t0, 3)
        # whole-partition delta (r6 tier): partition- but not file-prunable
        delta = (
            rows.filter(F.col("bucket") == "3")
            .withColumn("payload", F.concat(F.col("payload"), F.lit("-r6")))
            .withColumn("content_hash", F.sha2(F.col("payload"), 256))
        )
        n_delta = delta.count()
        t0 = time.perf_counter()
        # clustering is the table's standing write policy, so the
        # rewritten partition stays prunable for the narrow tier below
        stats = pt.merge(delta, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8)
        part_secs = round(time.perf_counter() - t0, 3)
        # narrow clustered delta: a contiguous lkey slice of ONE
        # partition — per-file stats must prune most of the partition, so
        # the rewrite is sub-partition
        # keys are zero-padded orderkeys: slice the bottom ~1/8 of the
        # key range, a contiguous run of the range-clustered files
        hi_key = rows.filter(F.col("bucket") == "3").agg(F.max("lkey")).first()[0]
        cut = str(int(hi_key) // 8).rjust(12, "0")
        narrow = (
            rows.filter((F.col("bucket") == "3") & (F.col("lkey") < cut))
            .withColumn("payload", F.concat(F.col("payload"), F.lit("-r8")))
            .withColumn("content_hash", F.sha2(F.col("payload"), 256))
        )
        n_narrow = narrow.count()
        t0 = time.perf_counter()
        # standing write policy: rewritten files stay range-clustered
        # (and the 1k-row rewrite lands as 8 files, not shuffle-width)
        nstats = pt.merge(
            narrow, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8
        )
        narrow_secs = round(time.perf_counter() - t0, 3)
        snap = ParquetMergeTable(spark, os.path.join(work, "snap"))
        snap.merge(rows, keys=["lkey"])
        t0 = time.perf_counter()
        snap.merge(delta, keys=["lkey"])
        snap_secs = round(time.perf_counter() - t0, 3)
        return {
            "rows": n,
            "partitions": 16,
            "initial_load_secs": load_secs,
            "delta_rows": n_delta,
            "partitions_rewritten": stats["partitions_rewritten"],
            "rows_rewritten_partitioned": n_delta,
            "rows_rewritten_snapshot": n,
            "rewrite_ratio": round(n / n_delta, 1) if n_delta else None,
            "one_partition_merge_secs": part_secs,
            "snapshot_merge_secs": snap_secs,
            "wall_ratio_vs_snapshot": round(snap_secs / part_secs, 2) if part_secs else None,
            # sub-partition tier: stats-pruned merge of a narrow
            # clustered delta — files_pruned/rows_rewritten are the
            # scale-invariant signals
            "narrow_delta_rows": n_narrow,
            "narrow_merge_secs": narrow_secs,
            "narrow_files_pruned": nstats["files_pruned"],
            "narrow_files_rewritten": nstats["files_rewritten"],
            "narrow_rows_carried": nstats["rows_carried"],
            "narrow_rows_rewritten": nstats["rows_rewritten"],
            "subpartition_rewrite_ratio": (
                round(nstats["rows_rewritten"] / max(n_narrow, 1), 2)
            ),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_delta_tail(spark, sf_dir: str) -> dict:
    """Delta-log streaming-source tier: load orders
    into a clustered 8-partition delta-logged table, commit 4 narrow
    merges, then TAIL the table in changes mode into a retractable
    per-bucket aggregate. Recorded signals: change rows/sec through the
    full CDF->signed->aggregate path, and the per-version batch sizes —
    which are O(rewritten files), not O(table), because the source
    diffs each commit's removed vs added files (the scale claim: a
    consumer's poll cost follows the delta at any table size, replacing
    the reference's whole-table status scans, ST3)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_stack_spark.operators.merge import ParquetMergeTable, PartitionedMergeTable
    from etl_stack_spark.streaming.delta_source import (
        DeltaStreamSource,
        signed_changes_batch_fn,
    )

    work = tempfile.mkdtemp(prefix="bench_dtail_")
    try:
        rows = (
            spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            .select(
                (F.col("o_orderkey") % 8).cast("string").alias("bucket"),
                F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("lkey"),
                F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            )
            .withColumn("content_hash", F.sha2(F.col("cents").cast("string"), 256))
        )
        n = rows.count()
        pt = PartitionedMergeTable(
            spark, os.path.join(work, "pt"), "bucket", delta_log=True
        )
        pt.merge(rows, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8)
        hi = int(rows.agg(F.max("lkey")).first()[0])
        for i in range(4):  # 4 narrow update commits on different slices
            lo_cut = str(hi * i // 32).rjust(12, "0")
            hi_cut = str(hi * (i + 1) // 32).rjust(12, "0")
            delta = (
                rows.filter(
                    (F.col("bucket") == str(i % 8))
                    & (F.col("lkey") >= lo_cut)
                    & (F.col("lkey") < hi_cut)
                )
                .withColumn("cents", F.col("cents") + 1)
                .withColumn(
                    "content_hash", F.sha2(F.col("cents").cast("string"), 256)
                )
            )
            pt.merge(delta, keys=["bucket", "lkey"], cluster_by=["lkey"], cluster_files=8)

        state = ParquetMergeTable(spark, os.path.join(work, "agg"))
        measures = {"n": ("count", F.lit(1)), "total_cents": ("sum", F.col("cents"))}
        src = DeltaStreamSource(
            spark,
            os.path.join(work, "pt"),
            os.path.join(work, "ckpt"),
            mode="changes",
            keys=["bucket", "lkey"],
        )
        batch_rows: list[int] = []
        inner = signed_changes_batch_fn(state, ["bucket"], measures, "n")

        def fn(df, v):
            batch_rows.append(df.count())
            inner(df, v)

        t0 = time.perf_counter()
        versions = src.process_available(fn)
        drain_secs = round(time.perf_counter() - t0, 3)
        change_rows = sum(batch_rows)
        return {
            "table_rows": n,
            "versions_tailed": len(versions),
            "change_rows": change_rows,
            "batch_rows": batch_rows,
            "drain_secs": drain_secs,
            "change_rows_per_sec": round(change_rows / drain_secs, 1)
            if drain_secs
            else None,
            # batches after the bootstrap are bounded by the rewritten
            # files, not the table: the O(delta) poll claim, recorded
            "max_incremental_batch": max(batch_rows[1:], default=0),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_ann_maintenance(spark, sf_dir: str) -> dict:
    """Incremental ANN index maintenance tier, LSM (merge-on-read)
    form: load the sf
    embeddings into a delta-logged vector table, train IVF-PQ once
    (frozen codebooks — excluded from the drain timing, like the warc
    tier's synthesis), bootstrap-drain a MergeOnReadANNIndex, then
    commit 3 narrow vector updates + 1 delete and drain each. The scale
    signals: ``max_incremental_batch`` is O(touched rows), never
    O(corpus); per-batch LSM appends never rewrite the base (measured
    8.0-8.5s flat at the 1M-vector class vs 26.3s for the snapshot-merge
    form); ``compact_secs`` is the one O(index) fold that amortizes over
    every batch since the last; and the reconciled read stays
    row-identical to a batch rebuild (asserted here, pinned harder —
    including under a concurrent fold — in tests/test_ann_maintenance.py)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.operators.similarity import ivfpq_train, l2_normalize
    from etl_stack_spark.streaming.ann_maintenance import (
        MergeOnReadANNIndex,
        encode_index_rows,
    )
    from etl_stack_spark.streaming.delta_source import DeltaStreamSource

    work = tempfile.mkdtemp(prefix="bench_ann_")
    try:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
            "vec_id", l2_normalize(F.col("embedding")).alias("embedding")
        )
        rows = emb.withColumn(
            "content_hash",
            F.sha2(F.concat_ws(",", F.col("embedding").cast("array<string>")), 256),
        )
        n = rows.count()
        t0 = time.perf_counter()
        # n_iter=1: the tier measures MAINTENANCE cost, not training
        # quality (recall dials live in tests/test_recall_curves.py)
        cents, books = ivfpq_train(rows, dim=64, n_cells=8, m=4, k=8, n_iter=1, sample=2048)
        train_secs = round(time.perf_counter() - t0, 3)

        vectors = ParquetMergeTable(spark, os.path.join(work, "vectors"), delta_log=True)
        # bootstrap fold at the corpus itself: the first drained version
        # IS the whole corpus, so the index folds it into the base
        # immediately (compact_min_rows=1) and the update batches that
        # follow measure the steady state — small appends, no base writes
        index = MergeOnReadANNIndex(
            spark, os.path.join(work, "index"), compact_at=0.2, compact_min_rows=1
        )
        vectors.merge(rows, keys=["vec_id"])
        for i in range(2):  # ~2% of vectors re-embedded per commit
            delta = (
                rows.filter(F.col("vec_id") % 50 == i)
                .withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda x, j: (x + F.when(j == i, 0.5).otherwise(0.0)).cast("float"),
                    ),
                )
                .withColumn(
                    "content_hash",
                    F.sha2(F.concat_ws(",", F.col("embedding").cast("array<string>")), 256),
                )
            )
            vectors.merge(delta, keys=["vec_id"])
        vectors.delete_where(F.col("vec_id") % 97 == 0)

        src = DeltaStreamSource(
            spark, os.path.join(work, "vectors"), os.path.join(work, "ckpt"),
            mode="changes", keys=["vec_id"],
        )
        batch_rows: list[int] = []
        batch_secs: list[float] = []
        inner = index.batch_fn(cents, books, 64)

        def fn(df, v):
            tb = time.perf_counter()
            batch_rows.append(df.count())
            inner(df, v)
            batch_secs.append(round(time.perf_counter() - tb, 3))

        t0 = time.perf_counter()
        versions = src.process_available(fn)
        drain_secs = round(time.perf_counter() - t0, 3)
        folds_during_drain = index.n_compactions
        # the amortized O(index) cost: one explicit fold of whatever the
        # update batches left in the delta
        t0 = time.perf_counter()
        index_rows = index.compact()
        compact_secs = round(time.perf_counter() - t0, 3)
        # lossless claim: reconciled LSM read == batch rebuild
        drained = index.read().select("vec_id", "cell", "codes")
        rebuilt = encode_index_rows(vectors.read(), cents, books, 64).select(
            "vec_id", "cell", "codes"
        )
        assert drained.exceptAll(rebuilt).isEmpty() and rebuilt.exceptAll(drained).isEmpty(), (
            "LSM-reconciled index diverged from batch rebuild"
        )
        return {
            "form": "merge_on_read_lsm",
            "vectors": n,
            "versions_tailed": len(versions),
            "train_secs": train_secs,
            "batch_rows": batch_rows,
            "batch_secs": batch_secs,
            "drain_secs": drain_secs,
            "folds_during_drain": folds_during_drain,
            "compact_secs": compact_secs,
            "index_rows": index_rows,
            "max_incremental_batch": max(batch_rows[1:], default=0),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_interval_join(spark, sf_dir: str) -> dict:
    """Watermarked stream-stream interval-join tier:
    the sf events split into an impression feed (views) and a click feed
    (clicks/purchases), joined per user within 10 minutes of event time
    through interval_join in a one-shot availableNow drain. State is
    bounded by watermark+interval eviction — O(rate x 40min of event
    time), never O(stream) — which is the property this tier watches:
    events/sec collapsing between runs means state stopped evicting."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_stack_spark.streaming.joins import interval_join

    work = tempfile.mkdtemp(prefix="bench_ijoin_")
    try:
        events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
            "event_id", "ts", "user_id", "event_type"
        )
        n_events = events.count()
        left_dir, right_dir = os.path.join(work, "l"), os.path.join(work, "r")
        events.filter(F.col("event_type") == "view").write.parquet(left_dir)
        events.filter(F.col("event_type").isin("click", "purchase")).write.parquet(
            right_dir
        )
        schema = "event_id long, ts timestamp, user_id long, event_type string"
        lstream = spark.readStream.schema(schema).parquet(left_dir)
        rstream = spark.readStream.schema(schema).parquet(right_dir)
        joined = interval_join(
            lstream, rstream, key="user_id", upper="10 minutes", watermark="30 minutes"
        )
        t0 = time.perf_counter()
        q = (
            joined.writeStream.format("memory")
            .queryName("bench_ijoin")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        secs = round(time.perf_counter() - t0, 3)
        # state-size note: buffered-row bytes from the
        # join's state store — the number that must track rate x
        # (watermark + interval), never stream length
        state = None
        prog = q.lastProgress
        if prog and prog.get("stateOperators"):
            op = prog["stateOperators"][0]
            state = {
                "rows": op.get("numRowsTotal"),
                "bytes": op.get("memoryUsedBytes"),
            }
        pairs = spark.table("bench_ijoin").count()
        spark.catalog.dropTempView("bench_ijoin")
        return {
            "events": n_events,
            "attributed_pairs": pairs,
            "secs": secs,
            "events_per_sec": round(n_events / secs, 1) if secs else None,
            "state": state,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    from etl_stack_spark.queries import all_queries

    args = sys.argv[1:]
    subset = any(a.startswith("--queries") for a in args)
    stream = "--no-stream" not in args
    sweep = "--no-sweep" not in args
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("etl-stack-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]
    for a in args:
        if a.startswith("--queries"):
            names = a.split("=", 1)[1].split(",")
            unknown = [n for n in names if n not in registry]
            if unknown:
                sys.exit(f"error: unknown queries {unknown}; known: {sorted(registry)}")

    # Warmup, outside every timed region. The small scan absorbs JVM
    # start-up. warm_stores builds and times each session store, and one
    # pass of each entry below builds what it does not (the lead-prep
    # views, the trained PQ/IVF-PQ indexes, bpe1/ql2 training) and
    # absorbs join and window codegen. Each median then measures the
    # read a pipeline repeats, not a build it pays once per session.
    # Stores are keyed on sf_dir, so the warmup runs at the bench scale.
    # A --queries run warms only what its own queries read.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    warm_t0 = time.perf_counter()
    store_build_secs = warm_stores(spark, sf_dir, set(names) if subset else None)
    if store_build_secs:
        print(f"# store builds: {store_build_secs}", file=sys.stderr)
    warm_entry_secs: dict[str, float] = {}
    for warm in (
        "t1_lead_prep_topk",
        "a2a3_lead_metrics",
        "t2_top5_slice",
        "pq1_adc_topk",
        "ivfpq1_topk",
        "bpe1_subword_tokenize",
        "ql2_train_apply",
        "dd2_minhash_lsh",
        "dd6_cluster_dedup",
    ):
        if subset and warm not in names:
            continue
        if warm in registry:
            try:
                t0 = time.perf_counter()
                registry[warm](spark, sf_dir).count()
                warm_entry_secs[warm] = round(time.perf_counter() - t0, 3)
            except Exception as e:  # warmup must never fail the bench
                print(f"# warmup skipped: {e}", file=sys.stderr)
    warmup_total_secs = round(time.perf_counter() - warm_t0, 3)

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name in names:
        samples = []
        n = 0
        for _ in range(runs):
            dt, n = time_query(registry[name], spark, sf_dir)
            samples.append(round(dt, 3))
        timings[name] = round(statistics.median(samples), 3)
        spreads[name] = samples
        print(f"# {name}: median {timings[name]}s of {samples} ({n} rows)", file=sys.stderr)
    total = round(sum(timings.values()), 3)

    sweep_timings: dict[str, float] = {}
    if sweep:
        # every registered query outside the headline, one sample each
        for name in sorted(registry):
            if name in timings:
                continue
            try:
                dt, n = time_query(registry[name], spark, sf_dir)
            except Exception as e:  # a sweep failure is a finding, not a crash
                print(f"# SWEEP-ERROR {name}: {e}", file=sys.stderr)
                sweep_timings[name] = -1.0
                continue
            sweep_timings[name] = round(dt, 3)
            print(f"# sweep {name}: {sweep_timings[name]}s ({n} rows)", file=sys.stderr)

    # (sidecar key, tier, stderr label, stderr error tag)
    tier_specs = [
        ("streaming_lead_prep", bench_streaming, "streaming lead-prep", "STREAM"),
        ("streaming_corpus_clean", bench_streaming_corpus, "streaming corpus wash", "STREAM"),
        ("streaming_interval_join", bench_interval_join, "streaming interval join", "STREAM"),
        ("partitioned_merge", bench_partitioned_merge, "partitioned merge", "MERGE"),
        ("delta_tail", bench_delta_tail, "delta tail", "TAIL"),
        ("warc_pipeline", bench_warc_pipeline, "warc pipeline", "WARC"),
        ("stats_skipping", bench_stats_skipping, "stats skipping", "SKIP"),
        ("ann_maintenance", bench_ann_maintenance, "ann maintenance", "ANN"),
    ]
    tiers: dict[str, dict] = {}
    if stream:
        for key, tier, label, tag in tier_specs:
            try:
                tiers[key] = tier(spark, sf_dir)
                print(f"# {label}: {tiers[key]}", file=sys.stderr)
            except Exception as e:  # a tier failure is a finding, not a crash
                tiers[key] = {"error": f"{type(e).__name__}: {e}"[:200]}
                print(f"# {tag}-ERROR {tiers[key]['error']}", file=sys.stderr)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # The final stdout line stays compact (headline total, per-query
    # medians, warmup accounting, core count) so a reader that tails
    # stdout through a bounded buffer can still parse it. Samples, the
    # sweep and the tiers go to the sidecar and stderr.
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "runs_per_query": runs,
        # what the session-store builds cost, so (build + N x consumer)
        # against (N x inline) is computable from this line alone
        "store_build_secs": store_build_secs,
        "warmup_total_secs": warmup_total_secs,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }
    detail = {**out, "samples": spreads, "warmup_entry_secs": warm_entry_secs}
    if sweep:
        detail["full_sweep_total"] = round(sum(t for t in sweep_timings.values() if t > 0), 3)
        detail["full_sweep_queries"] = sweep_timings
    detail.update(tiers)
    # a --queries run is partial: it must not replace the full record
    sidecar = "BENCH_SUBSET.json" if subset else "BENCH_DETAIL.json"
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), sidecar), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as e:  # the sidecar is best-effort; never lose the headline
        print(f"# {sidecar} not written: {e}", file=sys.stderr)
    print(f"# detail: {json.dumps(detail)}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
