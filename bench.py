"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line.

Each headline number is the median of $SPARK_GRAFT_BENCH_RUNS (default 3)
back-to-back runs of one query, after a warmup that builds the session
stores and times each build. A sweep then runs every other registered
query once, so a slow query outside the headline still shows up.
Samples and sweep go to a sidecar: BENCH_DETAIL.json on a full run,
BENCH_SUBSET.json on a --queries run. The streaming, merge, Delta-tail,
WARC, file-skipping and ANN-maintenance flows are checked by their own
tests, not timed here.

Queries are timed with ``.count()``, and Catalyst prunes some plans under
it to a bare row count, so those read low (perfbench/README.md, "Not
comparable with bench.py"). The numbers are a record, not a verdict: to
judge a change against its parent, use perfbench's interleaved pairs or
tools/microbench.py on one box.

Usage: python bench.py [--queries=q1,q2] [--no-sweep]
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
    --queries run with no sweep), a store is built only when a requested
    query reads it. Returns {store: build secs}; a failed build is
    skipped."""
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


def main() -> None:
    args = sys.argv[1:]
    # a misspelled or retired flag must not silently run the full bench
    unknown_args = [a for a in args if a != "--no-sweep" and not a.startswith("--queries=")]
    if unknown_args:
        sys.exit(
            f"error: unknown arguments {unknown_args}\n"
            "usage: python bench.py [--queries=q1,q2] [--no-sweep]"
        )
    from etl_stack_spark.queries import all_queries

    subset = any(a.startswith("--queries") for a in args)
    sweep = "--no-sweep" not in args
    # the sweep times every query, so only a subset run without it may
    # skip the stores and warmup entries its own queries do not read
    narrow = subset and not sweep
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
    # A --queries run with --no-sweep warms only what its own queries
    # read; with the sweep on, a cold store would be built inside a
    # sweep entry's one timed sample.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    warm_t0 = time.perf_counter()
    store_build_secs = warm_stores(spark, sf_dir, set(names) if narrow else None)
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
        if narrow and warm not in names:
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

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # The final stdout line stays compact (headline total, per-query
    # medians, warmup accounting, core count) so a reader that tails
    # stdout through a bounded buffer can still parse it. Samples and
    # the sweep go to the sidecar and stderr.
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
