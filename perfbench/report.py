"""Turns a run's raw records into the named metrics.

:func:`build` computes the end-to-end metrics of the untraced run,
:func:`add_layers` the per-layer metrics of the traced run (from spans
and the parsed event log), and :func:`contract_line` the last line the
runner prints.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.workloads import QUERY_MIX

# end-to-end metric -> unit (definitions in README.md); a metric that does
# not apply to a workload reads null
E2E = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "items_per_s": "items/s",
    "failed_frac": "ratio",
    "peak_rss_mb": "MB",
    "write_bytes_per_item": "B/item",
    "space_amp": "ratio",
}

STORES = (
    "j6_match", "j6_rank", "ann_normalized", "lsh_bucket", "minhash_sig", "minhash_pair",
)

# per-layer metric -> unit; the traced run's last line carries all of them
LAYER_UNITS = {
    "session.start_s": "s",
    "session.jobs_per_op": "count",
    "session.stages_per_op": "count",
    "session.tasks_per_op": "count",
    "session.scan_tasks_per_op": "count",
    "session.core_busy_frac": "ratio",
    "session.executor_cpu_s_per_op": "s",
    "session.shuffle_write_bytes_per_op": "B",
    "session.spill_bytes_per_op": "B",
    "session.gc_s_per_op": "s",
    "functions.clean_hash_s": "s",
    "functions.clean_hash_cpu_s": "s",
    "merge.s_per_op": "s",
    "merge.jobs_per_op": "count",
    "merge.bytes_written_per_op": "B",
    "merge.useful_row_frac": "ratio",
    "merge.vacuum_s": "s",
    "merge.files_removed": "count",
    "geo_join.s_per_op": "s",
    "geo_join.probe_rows_per_match": "ratio",
    "geo_join.shuffle_bytes_per_op": "B",
    "rank.s_per_op": "s",
    "rank.shuffle_records_per_op": "count",
    "plans.self_s_per_op": "s",
    "plans.jobs_per_op": "count",
    "plans.rows_out_per_op": "count",
    "unattributed.s_per_op": "s",
    **{f"queries.store_build_s.{s}": "s" for s in STORES},
    "queries.store_cached_bytes": "B",
    **{f"queries.{q}.p50_s": "s" for q in QUERY_MIX},
    **{f"queries.{q}.jobs": "count" for q in QUERY_MIX},
}


# per-layer metrics that apply only to some workloads (prefix ->
# workloads); elsewhere the report reads null
APPLIES = {
    "functions.": {"ingest"},
    "merge.useful_row_frac": {"ingest"},
    "merge.vacuum_s": {"ingest"},
    "merge.files_removed": {"ingest"},
    "geo_join.": {"lead_prep", "query_mix"},
    "rank.": {"lead_prep", "query_mix"},
    "plans.rows_out_per_op": {"lead_prep"},
    "queries.": {"query_mix"},
}


def applies(metric: str, workload: str) -> bool:
    for prefix, wls in APPLIES.items():
        if metric.startswith(prefix):
            return workload in wls
    return True


# metrics the last line carries, as declared in BENCHMARK.json: the
# per-layer ones that apply to one of its workloads. The last line carries
# every one as a number, so one that does not apply to the workload reads
# 0 there (null in the report)
BENCH_WORKLOADS = ("ingest", "query_mix")
E2E_CONTRACT = ("setup_s", "op_p50_s", "items_per_s")
LAYER_CONTRACT = tuple(
    k for k in LAYER_UNITS if any(applies(k, w) for w in BENCH_WORKLOADS)
)

# per-layer metric -> workloads on which it is above 0 whenever tracing
# works, so a 0 means the attribution broke; queries.<q>.jobs is checked
# for every query that ran
MUST_BE_POSITIVE = {
    "session.jobs_per_op": ("ingest", "lead_prep", "query_mix"),
    "session.tasks_per_op": ("ingest", "lead_prep", "query_mix"),
    "functions.clean_hash_s": ("ingest",),
    "merge.jobs_per_op": ("ingest", "lead_prep"),
    "plans.self_s_per_op": ("ingest", "lead_prep"),
    "plans.jobs_per_op": ("lead_prep",),
    "geo_join.s_per_op": ("lead_prep", "query_mix"),
    "rank.s_per_op": ("lead_prep", "query_mix"),
}


def _med(xs):
    return statistics.median(xs) if xs else None


def tail(lat: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest percentile with >= 10 samples
    beyond it, by nearest rank."""
    n = len(lat)
    if n < 11:
        return None, None
    return 100.0 * (1 - 10 / n), sorted(lat)[n - 11]


def build(args, wl, settings, ops, *, session_start_s, setup_build_s, warmup_s, timed_s,
          peak_rss_mb, snapshot_bytes, on_disk_bytes, process_to_first_op_s, aside_s) -> dict:
    main = [o for o in ops if o["kind"] == wl.main_kind]
    lat = [o["s"] for o in main if o["ok"]]
    good_items = sum(o["items"] for o in ops if o["ok"])
    op_time = sum(o["s"] for o in ops)
    failed = sum(1 for o in ops if not o["ok"])
    pct, tail_v = tail(lat)
    written = sum(o["written"] for o in ops)
    m = {
        # process start to the first timed op, less generation and checks
        "setup_s": process_to_first_op_s - aside_s["gen_s"] - aside_s["check_s"],
        "op_p50_s": _med(lat),
        "op_tail_s": tail_v,
        "items_per_s": good_items / op_time if op_time else None,
        "failed_frac": failed / len(ops) if ops else None,
        "peak_rss_mb": peak_rss_mb["python"] + peak_rss_mb["jvm"] + peak_rss_mb["workers"],
        "write_bytes_per_item": written / good_items if wl.table_roots() and good_items else None,
        "space_amp": on_disk_bytes / snapshot_bytes if snapshot_bytes else None,
    }
    return {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "settings": settings,
        "metrics": {k: {"value": v, "unit": E2E[k]} for k, v in m.items()},
        "op_tail": {"percentile": pct, "n": len(lat)},
        "item_unit": wl.item_unit,
        "attempted": len(ops), "failed": failed,
        "errors": [o["error"] for o in ops if not o["ok"]][:5],
        "not_compared": {
            "gen_s": wl.gen_s, "gen_before_first_op_s": aside_s["gen_s"],
            "check_before_first_op_s": aside_s["check_s"],
            "host_steal_frac": aside_s["host_steal_frac"], "session_start_s": session_start_s,
            "setup_build_s": setup_build_s, "warmup_s": warmup_s, "timed_s": timed_s,
            "process_to_first_op_s": process_to_first_op_s,
            "peak_rss_parts_mb": peak_rss_mb,
        },
        "extra": wl.extra,
        "ops": ops,
    }


def add_layers(rec: dict, wl, ops, ev, cores: int) -> None:
    """Per-layer metrics from spans and the event log of a traced run.
    A metric that does not apply to the workload stays ``None``; one that
    applies but reads 0 where tracing must see work is an error."""
    spans = wl.spans.items
    main = [o for o in ops if o["kind"] == wl.main_kind and o["ok"]]
    ids = {o["id"] for o in main}
    n = max(len(main), 1)

    def in_op(group_suffix):
        return lambda j: j.group.split("/")[0] in ids and j.group.endswith(group_suffix)

    def span_times(name):
        return [s.end - s.start for s in spans if s.name == name and s.op in ids]

    op_jobs = ev.counters(in_op("/op"))
    wall = sum(o["s"] for o in main)
    L = {}
    L["session.start_s"] = rec["not_compared"]["session_start_s"]
    L["session.jobs_per_op"] = op_jobs.jobs / n
    L["session.stages_per_op"] = op_jobs.stages / n
    L["session.tasks_per_op"] = op_jobs.tasks / n
    L["session.scan_tasks_per_op"] = op_jobs.scan_tasks / n
    L["session.core_busy_frac"] = op_jobs.run_s / (wall * cores) if wall else 0.0
    L["session.executor_cpu_s_per_op"] = op_jobs.cpu_s / n
    L["session.shuffle_write_bytes_per_op"] = op_jobs.shuffle_write_bytes / n
    L["session.spill_bytes_per_op"] = op_jobs.spill_bytes / n
    L["session.gc_s_per_op"] = op_jobs.gc_s / n

    fn_s = span_times("functions.clean_hash")
    if fn_s:
        L["functions.clean_hash_s"] = statistics.mean(fn_s)
        L["functions.clean_hash_cpu_s"] = ev.counters(in_op("/functions.clean_hash")).cpu_s / len(fn_s)

    merge = ev.counters(lambda j: in_op("/op")(j) and j.layer == "merge")
    L["merge.s_per_op"] = merge.job_wall_s / n
    L["merge.jobs_per_op"] = merge.jobs / n
    L["merge.bytes_written_per_op"] = merge.output_bytes / n
    if wl.name == "ingest":
        useful = rows = 0
        for o in main:
            c = o.get("counters")
            if c:
                useful += c["inserted"] + c["updated"] + c["soft_deleted"]
                rows += sum(c.values())
        L["merge.useful_row_frac"] = useful / rows if rows else None
        vac = [o for o in ops if o["kind"] == "vacuum" and o["ok"]]
        if vac:
            L["merge.vacuum_s"] = statistics.mean(o["s"] for o in vac)
            L["merge.files_removed"] = statistics.mean(o["removed"] for o in vac)

    # the isolated geo_join and rank passes (workloads.price_geo_join_and_rank)
    geo_s, rank_s = span_times("geo_join"), span_times("rank")
    if geo_s:
        geo = ev.counters(in_op("/geo_join"))
        L["geo_join.s_per_op"] = statistics.mean(geo_s)
        matches = sum(wl.extra.get("geo_join_matches", []))
        # the distance filters run inside the cell join, so Spark reports
        # no pre-filter pair count; the explode's probe rows stand in for it
        L["geo_join.probe_rows_per_match"] = geo.generate_rows / matches if matches else None
        L["geo_join.shuffle_bytes_per_op"] = geo.shuffle_write_bytes / len(geo_s)
    if rank_s:
        L["rank.s_per_op"] = statistics.mean(rank_s)
        L["rank.shuffle_records_per_op"] = ev.counters(in_op("/rank")).shuffle_write_records / len(rank_s)

    # the composed pipelines' own work: jobs they start themselves
    # (persist, collect) and, on ingest, composing the cleaning plan
    plans = ev.counters(lambda j: in_op("/op")(j) and j.layer == "plans")
    L["plans.self_s_per_op"] = (plans.job_wall_s + sum(span_times("plans.compose"))) / n
    L["plans.jobs_per_op"] = plans.jobs / n
    if wl.name == "lead_prep":
        L["plans.rows_out_per_op"] = statistics.mean(o.get("rows_out", 0) for o in main) if main else None
        # geo_join and rank run inside the merge's jobs: one evaluation of
        # each (the isolated passes) moves out of the merge's share, and
        # the four self times plus the remainder add up to the op wall
        L["merge.s_per_op"] -= L.get("geo_join.s_per_op", 0.0) + L.get("rank.s_per_op", 0.0)
        L["unattributed.s_per_op"] = wall / n - sum(
            L.get(k, 0.0) for k in ("merge.s_per_op", "plans.self_s_per_op",
                                    "geo_join.s_per_op", "rank.s_per_op")
        )
    else:  # driver-side time between the op's jobs
        L["unattributed.s_per_op"] = (wall - op_jobs.job_wall_s) / n

    errors = []
    if wl.name == "query_mix":
        for s, t in wl.store_build_s.items():
            L[f"queries.store_build_s.{s}"] = t
        L["queries.store_cached_bytes"] = wl.extra.get("store_cached_bytes")
        for q in QUERY_MIX:
            qops = [o for o in main if o.get("query") == q]
            if qops:
                qids = {o["id"] for o in qops}
                L[f"queries.{q}.p50_s"] = statistics.median(o["s"] for o in qops)
                L[f"queries.{q}.jobs"] = ev.counters(
                    lambda j, qids=qids: j.group.split("/")[0] in qids
                ).jobs / len(qops)
                if not L[f"queries.{q}.jobs"]:
                    errors.append(f"queries.{q}.jobs")
    for k, wls in MUST_BE_POSITIVE.items():
        if main and k in L and not L[k] and wl.name in wls:
            errors.append(k)
    rec["attribution_errors"] = sorted(set(errors))
    rec["layers"] = {
        k: {"value": L.get(k) if applies(k, wl.name) else None, "unit": u}
        for k, u in LAYER_UNITS.items()
    }
    rec["op_accounting"] = {
        "op_wall_s_per_op": wall / n,
        "job_wall_by_layer_s_per_op": {
            lay: ev.counters(lambda j, lay=lay: in_op("/op")(j) and j.layer == lay).job_wall_s / n
            for lay in sorted({j.layer for j in ev.jobs.values()})
        },
    }
    rec["job_sites"] = sorted({(j.layer, j.call_site or "") for j in ev.jobs.values()
                               if j.group.split("/")[0] in ids})


def add_overhead(rec: dict, untraced_path: str) -> None:
    """Tracing overhead: traced minus untraced ``op_p50_s`` (same seed)."""
    if not os.path.exists(untraced_path):
        rec["trace_overhead_s"] = None
        return
    with open(untraced_path) as f:
        base = json.load(f)["metrics"]["op_p50_s"]["value"]
    mine = rec["metrics"]["op_p50_s"]["value"]
    rec["trace_overhead_s"] = mine - base if None not in (mine, base) else None


def print_report(rec: dict) -> None:
    print(f"workload {rec['workload']}  seed {rec['seed']}  trace {rec['trace']}  "
          f"items = {rec['item_unit']}")
    for k, v in rec["settings"].items():
        print(f"  setting {k} = {v}")
    for k, v in rec["not_compared"].items():
        print(f"  {k:<28} {v}")
    for k, v in rec["metrics"].items():
        print(f"  {k:<28} {v['value']!s:<24} {v['unit']}")
    print(f"  op_tail percentile {rec['op_tail']['percentile']}  n {rec['op_tail']['n']}")
    print(f"  attempted {rec['attempted']}  failed {rec['failed']}")
    for e in rec["errors"]:
        print(f"  error: {e}")
    for k, v in rec.get("layers", {}).items():
        val = "n/a" if v["value"] is None else v["value"]
        print(f"  {k:<44} {val!s:<24} {v['unit']}")
    for k in rec.get("attribution_errors", []):
        print(f"  attribution error: {k} is 0")
    if "trace_overhead_s" in rec:
        print(f"  trace_overhead_s {rec['trace_overhead_s']}")


def contract_line(rec: dict, trace: int) -> dict:
    if trace:
        metrics = {k: {"value": float(rec["layers"][k]["value"] or 0.0), "unit": LAYER_UNITS[k]}
                   for k in LAYER_CONTRACT}
    else:
        metrics = {k: rec["metrics"][k] for k in E2E_CONTRACT}
    return {
        "correct": rec["failed"] == 0 and not rec.get("attribution_errors"),
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }
