"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload ingest|lead_prep|query_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from the
seed, starts a Spark session pinned to this machine, builds the
workload's state, warms up, then runs ops back to back for ``S``
seconds, checking every op's output outside the timed region.
``setup_s`` is process start until the first timed op, less input
generation and output checks. It prints a report of every metric by
name and unit, writes it to
``.perfbench/results/``, and ends with one JSON line: the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``, from spans and Spark's event log).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def _process_start() -> float:
    """``perf_counter`` time at which this process started."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        age = time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")
        return time.perf_counter() - age
    except (OSError, ValueError, AttributeError):
        return time.perf_counter()


T_PROCESS = _process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "lead_prep", "query_mix"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)  # BENCHMARK.json's run_seconds
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--ops", type=int, help="run exactly this many timed ops (ignores --seconds)")
    p.add_argument("--smoke", action="store_true",
                   help="small inputs (sf0.001 tables, 200 listings, 50-property batches)")
    return p.parse_args(argv)


def pin_session(work: str, trace_dir: str | None) -> dict:
    """Pin the session to this machine from outside the program; returns
    the settings for the report."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # far below get_spark's 24g default; a small heap also keeps the
        # JVM's peak RSS steadier from run to run
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_DEFAULT_PARALLELISM", None)
    if trace_dir:
        from perfbench.trace import event_log_conf

        os.makedirs(trace_dir, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = event_log_conf(trace_dir)
    else:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    # spark-warehouse/ and derby.log land in the cwd: keep them in the work dir
    os.chdir(work)
    return {**env, "cwd": work, "event_log": trace_dir}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Peak resident memory (MB) of this process, the driver JVM and the
    JVM's Python workers alive now."""
    workers, frontier = [], [jvm_pid]
    while frontier:
        kids = _children(frontier.pop())
        workers += kids
        frontier += kids
    return {
        "python": _vm_hwm_kb(os.getpid()) / 1024.0,
        "jvm": _vm_hwm_kb(jvm_pid) / 1024.0,
        "workers": sum(_vm_hwm_kb(p) for p in set(workers)) / 1024.0,
        "n_workers": len(set(workers)),
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_stack_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import report, workloads

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    settings = pin_session(work, trace_dir)

    from perfbench.trace import Spans, stamp_call_sites

    cls = workloads.WORKLOADS[args.workload]
    kw = {
        "ingest": {"listings": 200 if args.smoke else 3000},
        "lead_prep": {"batch": 50 if args.smoke else 200},
        "query_mix": {"sf": 0.001 if args.smoke else 0.005},
    }[args.workload]
    wl = cls(None, work, args.seed, Spans(), **kw)
    wl.generate()

    from etl_stack_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    wl.spark = spark
    if args.trace:
        wl.spans.sc = spark.sparkContext
        stamp_call_sites(spark.sparkContext)

    try:
        t0 = time.perf_counter()
        with wl.spans.span("setup", "setup"):
            wl.setup()
        setup_build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with wl.spans.span("warmup", "warmup"):
            wl.warmup()
        warmup_s = time.perf_counter() - t0

        ops = []  # dicts: id, kind, items, s, ok, error, written, removed
        roots = wl.table_roots()
        t_timed = time.perf_counter()
        aside_s = {"gen_s": wl.gen_s, "check_s": wl.check_s}
        cpu_before = _cpu_ticks()
        n = 0
        while n < args.ops if args.ops else (
            time.perf_counter() - t_timed < args.seconds or not wl.at_boundary()
        ):
            op = wl.next_op(n)
            op_id = f"op-{n:04d}"
            before = {}
            for r in roots:
                before.update(workloads.dir_bytes(r))
            rec = {"id": op_id, "kind": op.kind, "items": op.items, "ok": True}
            try:
                t1 = time.perf_counter()
                with wl.spans.span("op", op_id):
                    res = op.run()
                rec["s"] = time.perf_counter() - t1
                op.check(res)
            except Exception as e:  # noqa: BLE001 — counted in failed_frac
                rec.setdefault("s", time.perf_counter() - t1)
                rec["ok"], rec["error"] = False, f"{type(e).__name__}: {str(e)[:300]}"
            rec.update({k: v for k, v in op.info.items() if isinstance(v, (str, int, float, dict))})
            after = {}
            for r in roots:
                after.update(workloads.dir_bytes(r))
            rec["written"] = sum(v for p, v in after.items() if p not in before)
            rec["removed"] = sum(1 for p in before if p not in after)
            ops.append(rec)
            if args.trace and rec["ok"]:
                wl.traced_extras(op_id, op)
            n += 1
        timed_s = time.perf_counter() - t_timed
        # CPU time the host gave to other guests while ops ran: the main
        # source of run-to-run spread on a shared machine
        steal, total = (a - b for a, b in zip(_cpu_ticks(), cpu_before))
        aside_s["host_steal_frac"] = steal / total if total else None

        snapshot = wl.current_snapshot_bytes()
        on_disk = sum(sum(workloads.dir_bytes(r).values()) for r in roots)
        rss = peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)

    rec = report.build(
        args, wl, settings, ops,
        session_start_s=session_start_s, setup_build_s=setup_build_s, warmup_s=warmup_s,
        timed_s=timed_s, peak_rss_mb=rss, snapshot_bytes=snapshot, on_disk_bytes=on_disk,
        process_to_first_op_s=t_timed - T_PROCESS, aside_s=aside_s,
    )
    if args.trace:
        from perfbench.trace import parse_event_log

        report.add_layers(rec, wl, ops, parse_event_log(trace_dir), os.cpu_count() or 1)
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        report.add_overhead(rec, os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json"))
        wl.spans.dump(os.path.join(out_dir, f"{stem}-spans.jsonl"))
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    report.print_report(rec)
    print(json.dumps(report.contract_line(rec, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
