"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line.

Per-query numbers are the MEDIAN of $SPARK_GRAFT_BENCH_RUNS (default 3)
back-to-back runs — round-2's single-shot timings could not separate plan
regressions from environment noise (VERDICT r2 task 1). A secondary tier
runs every OTHER registered query once and reports ``full_sweep_total`` so
a regression in an unsampled query can't hide until the driver samples it
(VERDICT r2 task 8).

The headline is SELF-ADJUDICATING (VERDICT r8 task 1): any query >2x its
committed baseline triggers (a) an immediate cpu+shuffle probe pair
recorded next to the flag and (b) an end-of-run resample after the sweep
and streaming tiers — the flag is suppressed iff the resample median
lands <=1.5x baseline, with all evidence under `headline_resamples` in
the sidecar. BENCH_r08 shipped 3 false flags from a start-of-run
shuffle-contention window; this closes that class.

Usage: python bench.py [--queries=q1,q2] [--strict] [--no-sweep]
  --strict   exit 1 when any headline query exceeds 2x its last-round time
             AND survives the end-of-run resample
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


def load_baseline() -> dict[str, float]:
    """Per-query times from the newest BENCH_r{N}.json next to this file —
    the regression bar: no headline query may exceed 2x its last-round
    time (VERDICT round 1 set BENCH_r01 as the floor going forward)."""
    import glob
    import re

    candidates: list[tuple[int, str]] = []
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            candidates.append((int(m.group(1)), path))
    # the committed sidecar from the previous round outranks driver records —
    # rounds 3/4 both recorded `parsed: null` and would pin the bar at r2
    detail = os.path.join(here, "BENCH_DETAIL.json")
    if os.path.exists(detail):
        candidates.append((10**6, detail))
    # newest round with a PARSED result wins — a crashed round records
    # {"parsed": null} (BENCH_r03 did) and must not blank the baseline
    for _, path in sorted(candidates, reverse=True):
        try:
            with open(path) as f:
                data = json.load(f)
            # driver wrapper nests the parsed line under "parsed"
            data = data.get("parsed", data)
            if isinstance(data, dict) and data.get("queries"):
                return dict(data["queries"])
        except (OSError, json.JSONDecodeError):
            continue
    return {}


def box_speed_probe(spark) -> float:
    """Deterministic CPU-bound calibration probe (VERDICT r7 task 1):
    sha256+crc32 over 64M in-memory rows across all cores — no IO, no
    shuffle, no data dependence — timed as the min of 3 runs (the first
    absorbs codegen JIT). The result is a property of the BOX, not of
    the engine code: every BENCH record carries it, and the headline is
    reported both raw and normalized to the committed baseline's probe,
    so the documented ±40% box-speed band (committed 15.86s vs driver
    19.19s vs judge 18.52s on identical code, r7) stops making perf
    claims unadjudicable. Policy (README): compare NORMALIZED totals
    across rounds; the committed baseline is the (value, probe) pair in
    BENCH_DETAIL.json, never a fastest-observed scalar."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 64_000_000, 1, 32).select(
            F.sum(F.crc32(F.sha2(F.col("id").cast("string"), 256))).alias("s")
        ).collect()
        times.append(time.perf_counter() - t0)
    return round(min(times), 3)


def shuffle_probe(spark) -> float:
    """Exchange-bound calibration probe, the complement of
    box_speed_probe: 16M rows hash-repartitioned 64 ways then summed —
    dominated by serialization + memory bandwidth, the resources a
    noisy VM neighbor contends for WITHOUT showing up in either CPU
    steal or a compute-bound hash probe (observed: probe 20% FASTER
    than baseline, steal 0.2%, yet every query ~30% slower — only a
    bandwidth-shaped probe can tell that run apart from a plan
    regression). Min of 3 runs, first absorbs codegen."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 16_000_000, 1, 32).repartition(
            64, (F.col("id") % 9973).cast("int")
        ).agg(F.sum("id").alias("s")).collect()
        times.append(time.perf_counter() - t0)
    return round(min(times), 3)


def cached_gib() -> float | None:
    """Page-cache size from /proc/meminfo, recorded start and end. The
    host was observed dropping the guest page cache to ~1 GiB; the
    sf0.1 test data itself is tiny (17 MB), so this matters for shuffle
    spill / temp IO rather than scans — it is an environment-health
    signal, one more line of the record that lets a degraded-host
    sample be told apart from a plan change."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("Cached:"):
                    return round(int(line.split()[1]) / 1024 / 1024, 2)
    except Exception:
        return None
    return None


def read_probe_mb_s(sf_dir: str) -> float | None:
    """Sequential-read throughput through the current cache state: read
    the largest table file once, report MB/s (measured here: ~1 GB/s
    warm, ~200 MB/s evicted). Same role as cached_gib: an environment
    signal for the disk that shuffle spills share, not a data-scan
    cost (the test tables are tiny)."""
    try:
        path = os.path.join(sf_dir, "lineitem.parquet")
        size = os.path.getsize(path)
        t0 = time.perf_counter()
        with open(path, "rb") as f:
            while f.read(8 << 20):
                pass
        dt = time.perf_counter() - t0
        return round(size / 1048576 / dt, 1) if dt > 0 else None
    except Exception:
        return None


def read_cpu_counters() -> list[int] | None:
    """Aggregate jiffies from /proc/stat (user..steal). Returns None off
    Linux; callers treat steal as unmeasurable then."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return [int(x) for x in parts[1:9]]
    except Exception:
        return None


def steal_pct(start: list[int] | None, end: list[int] | None) -> float | None:
    """CPU steal over the window, as % of all jiffies. Measured because
    the box-speed probe CANNOT see it: this container is a VM on an
    overcommitted host (measured 0-15%+ steal under full 32-core load,
    varying minute-to-minute), so a start-of-run probe can catch a calm
    window and the queries then run into a noisy one — which is exactly
    the r7 ±40% band. Steal over the WHOLE run is the contention the run
    actually experienced; a record of (value, probe, steal_pct) is
    adjudicable where (value, probe) alone is not."""
    if not start or not end:
        return None
    d = [b - a for a, b in zip(start, end)]
    tot = sum(d)
    return round(100.0 * d[7] / tot, 2) if tot > 0 else None


def load_baseline_probe() -> float | None:
    """The committed baseline's box-speed probe, from the same record
    precedence as load_baseline()."""
    here = os.path.dirname(os.path.abspath(__file__))
    detail = os.path.join(here, "BENCH_DETAIL.json")
    try:
        with open(detail) as f:
            data = json.load(f)
        data = data.get("parsed", data)
        v = data.get("box_speed_probe_secs")
        return float(v) if v else None
    except (OSError, json.JSONDecodeError, TypeError, ValueError):
        return None


def load_baseline_shuffle_probe() -> float | None:
    """The committed baseline's shuffle probe, same precedence as
    load_baseline_probe(): the denominator of the run's shuffle-
    contention ratio (r8 forensics proved the CPU probe alone cannot
    adjudicate a bandwidth-contended window — BENCH_r08's CPU ratio was
    1.19x while the lead-prep family ran 2-2.6x slow and the shuffle
    probe read 1.94x; the ratio is now part of the official record,
    not just the sidecar)."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json")) as f:
            data = json.load(f)
        data = data.get("parsed", data)
        v = data.get("shuffle_probe_secs")
        return float(v) if v else None
    except (OSError, json.JSONDecodeError, TypeError, ValueError):
        return None


def load_baseline_cpus() -> int:
    """Core count of the committed baseline run (32 for records that
    predate the field). When a run's $SPARK_GRAFT_CPUS differs, the
    cpu/shuffle probe RATIOS are core-count artifacts, not contention
    (an 8-core run's probes read ~4x a 32-core baseline regardless of
    box health — BENCH_r10_c8's 2.347 cpu probe was exactly this plus
    real contention, and the PERF scaling block became noise; VERDICT
    r10 task 8). Such runs skip ratio-based contended marking and the
    blended normalization; the read-probe floor and steal%, which are
    core-count independent, still govern."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json")) as f:
            data = json.load(f)
        data = data.get("parsed", data)
        return int(data.get("cpus", 32))
    except (OSError, json.JSONDecodeError, TypeError, ValueError):
        return 32


def load_baseline_read_probe() -> float | None:
    """The committed baseline's disk read probe (MB/s), same precedence
    as load_baseline_probe(): the reference point for the I/O-health
    routing rule below."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json")) as f:
            data = json.load(f)
        data = data.get("parsed", data)
        v = data.get("read_probe_mb_s")
        return float(v) if v else None
    except (OSError, json.JSONDecodeError, TypeError, ValueError):
        return None


# Floor for a HEALTHY disk read through an evicted page cache, from the
# round-10 measured band: calm boxes read 201-1427 MB/s depending on
# cache state; the one I/O-degraded host read 49 MB/s and inflated every
# query a uniform ~1.3x (session-5 record, OPTIMIZATION_r10.md). 100 is
# half the worst healthy reading and 2x the degraded one.
READ_PROBE_FLOOR_MB_S = 100.0


def read_probe_contended(rp: float | None, baseline_rp: float | None) -> bool:
    """Whether the disk read probe marks the run I/O-degraded (routed to
    BENCH_DETAIL_CONTENDED.json, barred from the committed baseline).

    The probe is cache-state dependent (warm ~1 GB/s, evicted ~200 MB/s),
    so a pure ratio-to-baseline bar would misroute a cold-cache run
    measured against a warm-cache baseline (201/956 = 0.21x, healthy).
    The governing term is therefore the ABSOLUTE floor; the ratio term
    only tightens the bar further when the committed baseline itself was
    recorded on a slower disk (keeps the rule meaningful if the baseline
    box changes class)."""
    if rp is None:
        return False
    bar = READ_PROBE_FLOOR_MB_S
    if baseline_rp:
        bar = min(bar, 0.5 * baseline_rp)
    return rp < bar


# Blended speed normalization (VERDICT r9 task 4). The CPU probe alone
# over-corrects: two calm runs of identical r9 code normalized to 13.806s
# and 18.573s (±35%) because headline queries are shuffle/IO-bound in a
# way the arithmetic probe isn't. The rule is now a log-linear blend of
# both probe ratios,
#
#     normalized = raw * (cpu_base/cpu)^A * (sh_base/sh)^B
#
# with (A, B) calibrated on the two committed same-code run pairs that
# carry full (value, cpu, shuffle) triples:
#   r9 code: calm 16.396s @ (1.032, 0.965)  vs driver 14.362s @ (0.798, 0.826)
#   r8 code: calm 18.388s @ (0.904, 0.959)  vs driver 26.440s @ (1.074, 1.860)
# Requiring each pair to normalize to the SAME number gives A=0.217,
# B=0.492 — the shuffle probe carries ~70% of the weight, consistent
# with the r8 forensics (a 1.19x CPU ratio could not explain the 2-2.6x
# family band that its own 1.94x shuffle ratio did). Replay check:
# tests/test_bench_normalization.py holds all four records to <=10%
# within-pair agreement under this rule.
NORM_CPU_EXP = 0.217
NORM_SHUFFLE_EXP = 0.492


def blended_normalized(
    raw: float,
    cpu: float | None,
    shuffle: float | None,
    cpu_base: float | None,
    shuffle_base: float | None,
) -> float | None:
    """The official normalized headline value; None when the blend's
    inputs are incomplete (a cpu-only record falls back to the legacy
    linear rule at the call site, labeled as such)."""
    if not (raw and cpu and shuffle and cpu_base and shuffle_base):
        return None
    return round(
        raw
        * (cpu_base / cpu) ** NORM_CPU_EXP
        * (shuffle_base / shuffle) ** NORM_SHUFFLE_EXP,
        3,
    )


def load_sweep_baseline() -> dict[str, float]:
    """Per-query sweep times from the COMMITTED BENCH_DETAIL.json (read
    before this run overwrites it). The sweep is single-run, so a >30%
    delta vs this baseline triggers an automatic second sample (VERDICT
    r6 task 2) — without it, ±40% VM-noise swings are indistinguishable
    from real regressions and every round re-litigates them."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json")) as f:
            data = json.load(f)
        return {
            k: v
            for k, v in (data.get("full_sweep_queries") or {}).items()
            if isinstance(v, (int, float)) and v > 0
        }
    except (OSError, json.JSONDecodeError):
        return {}


def time_query(fn, spark, sf_dir: str) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = fn(spark, sf_dir).count()  # full execution, no driver-side data collect
    return time.perf_counter() - t0, n


def warm_stores(spark, sf_dir: str, requested: set[str] | None) -> dict[str, float]:
    """Build + materialize each session store / trained index explicitly,
    TIMED (VERDICT r10 task 2): the official line carries
    ``store_build_secs`` so a reader of the record alone can compute
    (build + N×consumer) vs (N×inline) without opening
    OPTIMIZATION_r*.md. The stores are keyed per (applicationId, sf_dir)
    — nothing survives the run; this only makes the build cost the
    warmup already paid implicitly (inside the first consumer's first
    sample) explicit and attributable. On a --queries subset run a store
    is built only when a requested query consumes it (same rationale as
    the warm-entry subset rule). Zero change to the timed region."""
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
    hash-gated MERGE) into a fresh results table. Returns rows/sec so the
    streaming path carries a round-over-round perf signal (VERDICT r4
    task 8)."""
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
    the round-over-round signal for the curation streaming path."""
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
        # TWO samples into fresh state dirs + a per-stage cost split
        # (VERDICT r6 task 1: the tier's r5->r6 record halved with no code
        # change in the path — a single cold sample could not adjudicate
        # plan regression vs environment; now the record carries the
        # spread AND where each second went)
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
    """WARC→HTML→wash front-door tier (VERDICT r6 task 6): N multi-record
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
    """Zone-map file-skipping tier (round 7): load orders into a
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
    """Partitioned-MERGE tier (VERDICT r5 task 7): load orders into a
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
        # narrow clustered delta (r8 tier): a contiguous lkey slice of ONE
        # partition — per-file stats must prune most of the partition, so
        # the rewrite is sub-partition (VERDICT r7 task 5)
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
            # r8 sub-partition tier: stats-pruned merge of a narrow
            # clustered delta — files_pruned/rows_rewritten are the
            # scale-invariant signals (VERDICT r7 task 5)
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
    """Delta-log streaming-source tier (VERDICT r7 task 2): load orders
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
    """Incremental ANN index maintenance tier (VERDICT r8 task 4; LSM
    form recorded as the default since r9 task 3): load the sf
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
    """Watermarked stream-stream interval-join tier (VERDICT r5 task 8):
    the sf events split into an impression feed (views) and a click feed
    (clicks/purchases), joined per user within 10 minutes of event time
    through interval_join in a one-shot availableNow drain. State is
    bounded by watermark+interval eviction — O(rate x 40min of event
    time), never O(stream) — which is the property this tier watches:
    events/sec collapsing round-over-round means state stopped
    evicting."""
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
        # state-size note (VERDICT r5 #8): buffered-row bytes from the
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
    strict = "--strict" in args
    stream = "--no-stream" not in args and os.environ.get("SPARK_GRAFT_BENCH_STREAM", "1") != "0"
    sweep = "--no-sweep" not in args and os.environ.get("SPARK_GRAFT_BENCH_SWEEP", "1") != "0"
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

    # warmup: a small-table scan plus ONE pass of the flagship geo query
    # at the smallest SF — absorbs JVM startup AND the join/window codegen
    # JIT that otherwise inflates every first timed sample (medians then
    # measure steady state, the quantity the per-query medians claim)
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    # at the BENCH sf, not sf0.001: the lead-prep family shares one
    # persisted match stream per sf_dir, and warming the wrong sf left its
    # one-time materialization inside the first timed j6 sample (7.4s
    # spikes in the spread; medians survived but the claim is steady state)
    # all three persisted family views (match stream + rank + metrics +
    # distance) materialize here, so the medians measure steady state.
    # The trained-ANN family (VERDICT r9 task 2) joins the warmup for the
    # same reason: codebook training + corpus encode happen once per
    # session (the production index-build), so the timed pq1/ivfpq1
    # entries measure SEARCH, not the build they'd never repeat.
    # dd2/dd6 join the list for the session MinHash stores
    # (queries/text_dedup.py::sig_base/pair_base/cluster_base — the
    # signatures, duplicate-pairs, and dedup-clusters staging tables a
    # production wash materializes once per dedup run): the first dd2
    # call builds signatures + confirmed pairs, the first dd6 call the
    # cluster assignment, and every consumer (dd2/dd6/dd8/split1/llm1-3)
    # reads those tables — timed entries measure what a steady-state
    # pipeline pays, not the per-call re-banding it would never repeat.
    # On a --queries subset run, only warm entries the subset will time:
    # warming a session store no requested query reads is pure cost (the
    # adjudication e2es spawn single-query subset runs — each was paying
    # the full 9-entry warmup, ~half the test's 100s wall).
    # Since r11 each store build is timed explicitly (warm_stores) and the
    # official line carries store_build_secs + warmup_total_secs (VERDICT
    # r10 task 2): the build work was already outside the timed region —
    # now its cost is part of the record instead of only this comment.
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

    # box-speed calibration (VERDICT r7 task 1): measured AFTER warmup
    # (JVM up, codegen hot) so the probe times the box, not startup
    probe_secs = None
    try:
        probe_secs = box_speed_probe(spark)
        print(f"# box speed probe: {probe_secs}s", file=sys.stderr)
    except Exception as e:  # calibration must never fail the bench
        print(f"# box probe skipped: {e}", file=sys.stderr)
    shuffle_probe_secs = None
    try:
        shuffle_probe_secs = shuffle_probe(spark)
        print(f"# shuffle probe: {shuffle_probe_secs}s", file=sys.stderr)
    except Exception as e:
        print(f"# shuffle probe skipped: {e}", file=sys.stderr)
    cpu_at_start = read_cpu_counters()
    cache_start = cached_gib()

    baseline = load_baseline()
    # self-test hook: SPARK_GRAFT_BENCH_FAULT="name:factor,name:factor"
    # multiplies the MEASURED headline time (never the resample) — the
    # deterministic way to exercise the flag->probe->resample->suppress
    # machinery end-to-end (a contended window can't be summoned on
    # demand; this container's CPU/bandwidth headroom shrugged off 96
    # deliberate hog processes). Production runs never set it.
    fault: dict[str, float] = {}
    for part in os.environ.get("SPARK_GRAFT_BENCH_FAULT", "").split(","):
        if ":" in part:
            qn, factor = part.rsplit(":", 1)
            fault[qn.strip()] = float(factor)
    # companion self-test hook: SPARK_GRAFT_BENCH_BASELINE_OVERRIDE=
    # "name:secs,..." replaces the committed baseline for those queries.
    # Why (VERDICT r9 task 1): the adjudication e2e used to assert the
    # un-faulted sf0.001 resample lands under 1.5x the REAL sf0.1
    # baseline — false for fixed-overhead queries on a busy box (llm1's
    # 2.541s baseline vs a 7.29s contended resample). A synthetic
    # baseline sized orders above any plausible resample makes the
    # suppression assertion contention-immune while still exercising
    # the full flag→probe→resample→suppress machinery. Like the fault
    # map, an overridden run is echoed into the record and barred from
    # the committed sidecar.
    baseline_override: dict[str, float] = {}
    for part in os.environ.get("SPARK_GRAFT_BENCH_BASELINE_OVERRIDE", "").split(","):
        if ":" in part:
            qn, secs = part.rsplit(":", 1)
            baseline_override[qn.strip()] = float(secs)
    baseline.update(baseline_override)
    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    flag_probes: dict[str, dict] = {}
    for name in names:
        samples = []
        n = 0
        for _ in range(runs):
            dt, n = time_query(registry[name], spark, sf_dir)
            dt *= fault.get(name, 1.0)
            samples.append(round(dt, 3))
        timings[name] = round(statistics.median(samples), 3)
        spreads[name] = samples
        print(f"# {name}: median {timings[name]}s of {samples} ({n} rows)", file=sys.stderr)
        # immediate environment probe AT FLAG TIME (VERDICT r8 task 1):
        # a >2x flag triggers a cpu+shuffle probe pair right now, while
        # whatever slowed the samples is plausibly still happening —
        # recorded next to the flag so the adjudicator sees the
        # environment the slow samples ran in, not the start-of-run one
        base = baseline.get(name)
        if base and base > 0 and timings[name] > 2.0 * base:
            try:
                flag_probes[name] = {
                    "cpu": box_speed_probe(spark),
                    "shuffle": shuffle_probe(spark),
                }
                print(f"# flag-probe {name}: {flag_probes[name]}", file=sys.stderr)
            except Exception as e:
                print(f"# flag-probe {name} skipped: {e}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    regressions = {
        name: {"now": t, "baseline": baseline[name]}
        for name, t in timings.items()
        if name in baseline and baseline[name] > 0 and t > 2.0 * baseline[name]
    }
    for name, r in regressions.items():
        print(
            f"# REGRESSION {name}: {r['now']}s > 2x baseline {r['baseline']}s",
            file=sys.stderr,
        )

    full_sweep_total = None
    sweep_resamples: dict[str, list[float]] = {}
    if sweep:
        # secondary tier: every registered query NOT in the headline set,
        # single run each — catches regressions the headline sample misses.
        # Any query drifting >30% from the committed baseline (either
        # direction — an unexplained speedup is also a claim) gets a
        # SECOND sample and records the min: one cold outlier can no
        # longer masquerade as a trend (VERDICT r6 task 2).
        sweep_baseline = load_sweep_baseline()
        sweep_timings: dict[str, float] = {}
        for name in sorted(registry):
            if name in timings:
                continue
            try:
                dt, n = time_query(registry[name], spark, sf_dir)
            except Exception as e:  # a sweep failure is a finding, not a crash
                print(f"# SWEEP-ERROR {name}: {e}", file=sys.stderr)
                sweep_timings[name] = -1.0
                continue
            base = sweep_baseline.get(name)
            if base and base > 0.1 and abs(dt - base) > 0.3 * base:
                dt2, _ = time_query(registry[name], spark, sf_dir)
                sweep_resamples[name] = [round(dt, 3), round(dt2, 3)]
                dt = min(dt, dt2)
                print(
                    f"# sweep resample {name}: {sweep_resamples[name]} "
                    f"(baseline {base}s) -> {round(dt, 3)}s",
                    file=sys.stderr,
                )
            sweep_timings[name] = round(dt, 3)
            print(f"# sweep {name}: {sweep_timings[name]}s ({n} rows)", file=sys.stderr)
        full_sweep_total = round(sum(t for t in sweep_timings.values() if t > 0), 3)

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

    # end-of-run self-adjudication (VERDICT r8 task 1): every >2x headline
    # flag gets a RESAMPLE now — after the sweep and streaming tiers, when
    # a start-of-run contention window has typically passed — plus a final
    # probe pair. The flag is suppressed iff the resample median lands
    # <=1.5x baseline (environmental, with the evidence recorded under
    # `headline_resamples`), and the committed per-query time takes the
    # better median (the sweep's min rule: a contended sample must not
    # become next round's baseline). A flag whose resample STAYS >1.5x is
    # a real regression and survives.
    headline_resamples: dict[str, dict] = {}
    if regressions:
        end_probes = None
        try:
            end_probes = {"cpu": box_speed_probe(spark), "shuffle": shuffle_probe(spark)}
            print(f"# end-of-run probes: {end_probes}", file=sys.stderr)
        except Exception as e:
            print(f"# end-of-run probes skipped: {e}", file=sys.stderr)
        for name in list(regressions):
            try:
                rs = []
                for _ in range(runs):
                    dt, _n = time_query(registry[name], spark, sf_dir)
                    rs.append(round(dt, 3))
            except Exception as e:  # a resample failure leaves the flag standing
                print(f"# resample {name} failed: {e}", file=sys.stderr)
                continue
            med2 = round(statistics.median(rs), 3)
            base = regressions[name]["baseline"]
            suppressed = med2 <= 1.5 * base
            headline_resamples[name] = {
                "original_median": regressions[name]["now"],
                "baseline": base,
                "flag_probes": flag_probes.get(name),
                "end_probes": end_probes,
                "resample": rs,
                "resample_median": med2,
                "suppressed": suppressed,
            }
            print(
                f"# headline resample {name}: {rs} -> median {med2}s "
                f"(baseline {base}s, {'SUPPRESSED' if suppressed else 'CONFIRMED'})",
                file=sys.stderr,
            )
            if med2 < timings[name]:
                # adopt the better median, and keep the regression record
                # self-consistent: a CONFIRMED flag's "now" must equal the
                # committed per-query time (ADVICE r9: the evidence and the
                # timing previously disagreed on the same record)
                timings[name] = med2
                if not suppressed:
                    regressions[name]["now"] = med2
            if suppressed:
                del regressions[name]
        total = round(sum(timings.values()), 3)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # The driver tails stdout with a bounded buffer: round 4's single line
    # (headline + samples + ~80-query sweep) overflowed it and the official
    # record got `parsed: null` (VERDICT r4 task 1). Contract now: the FINAL
    # stdout line is a compact JSON object — headline total + per-query
    # medians only — and everything else (samples, sweep, regressions) goes
    # to BENCH_DETAIL.json next to this script plus stderr.
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "runs_per_query": runs,
        # warmup accounting (VERDICT r10 task 2): what the session-store /
        # trained-index builds cost, so (build + N×consumer) vs (N×inline)
        # is computable from this record alone. Timed entries unchanged.
        "store_build_secs": store_build_secs,
        "warmup_total_secs": warmup_total_secs,
        # core count the run actually used (VERDICT r10 task 8: low-core
        # scaling records must be self-describing)
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }
    # raw AND speed-normalized headline: normalized = what this box's
    # total would read on the committed baseline's box (the policy that
    # makes rounds comparable across the ±40% box-speed band). Since r10
    # the rule is the calibrated cpu+shuffle blend (blended_normalized) —
    # the cpu-only linear rule over-corrected by ±35% between calm runs
    # of identical code; it survives only as the labeled fallback for
    # records missing a shuffle probe.
    baseline_probe = load_baseline_probe()
    baseline_shuffle = load_baseline_shuffle_probe()
    # probe ratios only adjudicate same-core-count runs (see
    # load_baseline_cpus): a $SPARK_GRAFT_CPUS scaling run keeps its raw
    # probes in the record but never normalizes with them
    cpus_match_baseline = out["cpus"] == load_baseline_cpus()
    if not cpus_match_baseline:
        out["probe_ratios_suppressed"] = "cpus differ from baseline"
    if probe_secs:
        out["box_speed_probe_secs"] = probe_secs
        if baseline_probe:
            out["baseline_probe_secs"] = baseline_probe
    if shuffle_probe_secs:
        out["shuffle_probe_secs"] = shuffle_probe_secs
        # the shuffle-contention ratio is part of the OFFICIAL record,
        # not just the sidecar (VERDICT r8 task 1 / "what's wrong" #2):
        # >1.5x marks the run `contended` — r8's worked example is a run
        # whose CPU ratio (1.19x) could not explain a 2-2.6x family band
        # that its own 1.94x shuffle ratio did
        if baseline_shuffle:
            out["baseline_shuffle_probe_secs"] = baseline_shuffle
            out["shuffle_ratio"] = round(shuffle_probe_secs / baseline_shuffle, 2)
            if out["shuffle_ratio"] > 1.5 and cpus_match_baseline:
                out["contended"] = True
    blended = (
        blended_normalized(
            total, probe_secs, shuffle_probe_secs, baseline_probe, baseline_shuffle
        )
        if cpus_match_baseline
        else None  # probe ratios are core-count artifacts on a low-core run
    )
    if blended is not None:
        out["normalized_value"] = blended
        out["normalized_rule"] = "cpu^%.3f*shuffle^%.3f" % (
            NORM_CPU_EXP,
            NORM_SHUFFLE_EXP,
        )
        # transparency band: the raw value scaled by each probe ratio
        # alone — the spread the blend is splitting
        r_cpu = baseline_probe / probe_secs
        r_sh = baseline_shuffle / shuffle_probe_secs
        out["normalized_band"] = [
            round(total * min(r_cpu, r_sh), 3),
            round(total * max(r_cpu, r_sh), 3),
        ]
    elif probe_secs and baseline_probe and cpus_match_baseline:
        out["normalized_value"] = round(total * baseline_probe / probe_secs, 3)
        out["normalized_rule"] = "cpu-only-legacy"
    # whole-run CPU steal: the contention the run actually experienced
    # (the probe can't see it — see steal_pct's docstring)
    run_steal = steal_pct(cpu_at_start, read_cpu_counters())
    if run_steal is not None:
        out["steal_pct"] = run_steal
        if run_steal > 5:  # README's documented contended-sample bar
            out["contended"] = True
        print(f"# cpu steal over run: {run_steal}%", file=sys.stderr)
    if cache_start is not None:
        out["cached_gib_start"] = cache_start
        cache_end = cached_gib()
        if cache_end is not None:
            out["cached_gib_end"] = cache_end
    rp = read_probe_mb_s(sf_dir)
    if rp is not None and rp < READ_PROBE_FLOOR_MB_S:
        # one calm-window retry (VERDICT r10 task 8): a transient I/O
        # stall at probe time must not condemn a whole healthy run; a
        # genuinely degraded disk fails both probes and routes as before
        time.sleep(20)
        rp2 = read_probe_mb_s(sf_dir)
        if rp2 is not None:
            out["read_probe_retry_mb_s"] = rp2
            rp = max(rp, rp2)
    if rp is not None:
        out["read_probe_mb_s"] = rp
        print(f"# read probe: {rp} MB/s", file=sys.stderr)
        # I/O-health routing (round-10 session-5 gap): an I/O-degraded
        # host inflates every query a uniform ~1.3x without moving the
        # cpu or shuffle probes (observed: 49 MB/s, cpu probe BETTER
        # than baseline) — such a run must be routed wholesale to the
        # contended sidecar, not flagged query-by-query
        baseline_rp = load_baseline_read_probe()
        if baseline_rp:
            out["read_ratio"] = round(rp / baseline_rp, 2)
        if read_probe_contended(rp, baseline_rp):
            out["contended"] = True
            print(
                f"# read probe {rp} MB/s below the I/O-health bar "
                f"-> run marked contended",
                file=sys.stderr,
            )
    if headline_resamples:
        # suppressed count surfaces in the official line so the driver
        # record shows adjudication HAPPENED, not just its outcome
        out["suppressed_regression_count"] = sum(
            1 for r in headline_resamples.values() if r["suppressed"]
        )
    if fault:
        # a fault-injected run is a self-test, never evidence: echo the
        # map into the official line AND the sidecar, and route the run
        # away from the committed baseline below (ADVICE r9: a <=2x fault
        # previously slipped past the flag machinery straight into
        # BENCH_DETAIL.json and would have become next round's baseline)
        out["fault_injected"] = dict(fault)
    if baseline_override:
        out["baseline_override"] = dict(baseline_override)
    detail = {**out, "samples": spreads, "warmup_entry_secs": warm_entry_secs}
    if full_sweep_total is not None:
        detail["full_sweep_total"] = full_sweep_total
        detail["full_sweep_queries"] = sweep_timings
        if sweep_resamples:
            detail["sweep_resamples"] = sweep_resamples
    detail.update(tiers)
    if headline_resamples:
        detail["headline_resamples"] = headline_resamples
    if regressions:
        detail["regressions"] = regressions
        out["regression_count"] = len(regressions)
    here = os.path.dirname(os.path.abspath(__file__))
    # a --queries subset is a debug run: it must NOT clobber the sidecar,
    # which doubles as the committed baseline load_baseline() reads.
    # Neither may a CONTENDED run (shuffle_ratio >1.5x, steal >5%, or any
    # suppressed flag): the r8 driver run overwrote the calm 18.4s/0.96s
    # baseline with its contended 26.4s/1.86s record and the inflated
    # baselines would have weakened every next-round regression bar —
    # contended evidence goes to BENCH_DETAIL_CONTENDED.json instead,
    # leaving the committed (value, probe) baseline pair intact
    # A fault-injected or baseline-overridden run is likewise barred from
    # the committed baseline regardless of whether it tripped any flag.
    if subset or fault or baseline_override:
        sidecar = "BENCH_SUBSET.json"
    elif out.get("contended") or out.get("suppressed_regression_count"):
        sidecar = "BENCH_DETAIL_CONTENDED.json"
    else:
        sidecar = "BENCH_DETAIL.json"
    try:
        with open(os.path.join(here, sidecar), "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as e:  # the sidecar is best-effort; never lose the headline
        print(f"# {sidecar} not written: {e}", file=sys.stderr)
    print(f"# detail: {json.dumps(detail)}", file=sys.stderr)
    print(json.dumps(out))
    if strict and regressions:
        sys.exit(1)


if __name__ == "__main__":
    main()
