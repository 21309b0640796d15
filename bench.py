"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line.

Each headline number is the median of $SPARK_GRAFT_BENCH_RUNS (default 3)
back-to-back runs of one query, after a warmup that builds and times
every registered session store, then runs each timed query once. A
sweep then runs every other registered query once, so a slow query
outside the headline still shows up. Samples and sweep go to a sidecar:
BENCH_DETAIL.json on a full run, BENCH_SUBSET.json on a --queries run.
The streaming, merge, Delta-tail, WARC, file-skipping and
ANN-maintenance flows are checked by their own tests, not timed here.

Every query runs in full through the ``noop`` sink, as perfbench's
query_mix does: each output column is computed, nothing is collected.
The numbers are a record, not a verdict: to judge a change against its
parent, use perfbench's interleaved pairs, or run the same subset from
both checkouts alternately on one box:
``SPARK_GRAFT_BENCH_RUNS=N python bench.py --queries=q1,q2 --no-sweep``
(samples in BENCH_SUBSET.json; $SPARK_GRAFT_CPUS sets the core count).

Usage: python bench.py [--queries=q1,q2] [--no-sweep]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_stack_spark.queries import all_queries, stores  # noqa: E402
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


def _noop(df) -> None:
    # full execution of every output column, no driver-side collect
    df.write.format("noop").mode("overwrite").save()


def time_query(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    _noop(fn(spark, sf_dir))
    return time.perf_counter() - t0


def warm_stores(spark, sf_dir: str) -> dict[str, float]:
    """Build and materialize every session store the package registers
    (``stores.builders()``), timing each build under its builder's name,
    so the record prices the once-per-session cost that the timed
    queries then read for free. Registration order builds a store's
    inputs before the store, so each time is that builder's own work.
    Stores are keyed per session and sf_dir, so nothing survives the
    run. Returns {builder: build secs}; a failed build is skipped."""
    all_queries()  # imports every query module, registering its builders
    out: dict[str, float] = {}
    for build in stores.builders():
        try:
            t0 = time.perf_counter()
            for df in stores._frames(build(spark, sf_dir)):
                _noop(df)
            out[build.__name__] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # warmup must never fail the bench
            print(f"# store warm {build.__name__} skipped: {e}", file=sys.stderr)
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
    subset = any(a.startswith("--queries") for a in args)
    sweep = "--no-sweep" not in args
    # the sweep times every query, so only a subset run without it may
    # skip the stores its own queries do not read
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

    # Warmup, outside every timed region, at the bench scale (stores are
    # keyed on sf_dir). The small scan absorbs JVM start-up; warm_stores
    # builds and times every session store; one untimed run of each
    # query about to be timed absorbs join and window codegen. Each
    # median then measures the read a pipeline repeats, not a build it
    # pays once per session. A --queries run with --no-sweep skips the
    # walk, its warm pass building exactly the stores its queries read;
    # with the sweep on, a sweep entry's one sample would pay the build.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    warm_t0 = time.perf_counter()
    store_build_secs = {} if narrow else warm_stores(spark, sf_dir)
    if store_build_secs:
        print(f"# store builds: {store_build_secs}", file=sys.stderr)
    warm_entry_secs: dict[str, float] = {}
    for name in names:
        try:
            warm_entry_secs[name] = round(time_query(registry[name], spark, sf_dir), 3)
        except Exception as e:  # warmup must never fail the bench
            print(f"# warmup {name} skipped: {e}", file=sys.stderr)
    warmup_total_secs = round(time.perf_counter() - warm_t0, 3)

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name in names:
        samples = [round(time_query(registry[name], spark, sf_dir), 3) for _ in range(runs)]
        timings[name] = round(statistics.median(samples), 3)
        spreads[name] = samples
        print(f"# {name}: median {timings[name]}s of {samples}", file=sys.stderr)

    sweep_timings: dict[str, float] = {}
    if sweep:
        # every registered query outside the headline, one sample each
        for name in sorted(set(registry) - set(timings)):
            try:
                sweep_timings[name] = round(time_query(registry[name], spark, sf_dir), 3)
                print(f"# sweep {name}: {sweep_timings[name]}s", file=sys.stderr)
            except Exception as e:  # a sweep failure is a finding, not a crash
                print(f"# SWEEP-ERROR {name}: {e}", file=sys.stderr)
                sweep_timings[name] = -1.0

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # The final stdout line stays compact (headline total, per-query
    # medians, warmup accounting, core count) so a reader that tails
    # stdout through a bounded buffer can still parse it. Samples and
    # the sweep go to the sidecar and stderr.
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
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
