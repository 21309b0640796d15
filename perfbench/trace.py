"""Tracing for the benchmark: spans, job groups, call sites, and a parser
for Spark's own event log.

Everything here wraps the program from outside. The traced run:

- keeps :class:`Spans` in memory (name, start, end, parent, op id) and
  writes them out when the run ends;
- tags each public call with a Spark job group (``<op id>/<span>``);
- stamps every DataFrame action with the innermost engine frame that
  triggered it (``count at .../operators/merge.py:489``). PySpark only
  does this for ``collect``; ``count`` and writes would otherwise carry
  a JVM frame. The stamp lands in the job's ``callSite.short`` property;
- reads the uncompressed event log back with :func:`parse_event_log` and
  attributes every job, stage and task to its group and layer.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

# repo module prefix -> layer name; first match wins
LAYERS = (
    ("etl_stack_spark/session.py", "session"),
    ("etl_stack_spark/functions/", "functions"),
    ("etl_stack_spark/operators/merge.py", "merge"),
    ("etl_stack_spark/operators/geo_join.py", "geo_join"),
    ("etl_stack_spark/operators/rank.py", "rank"),
    ("etl_stack_spark/plans/", "plans"),
    ("etl_stack_spark/queries/", "queries"),
    ("etl_stack_spark/", "other"),
)


def layer_of(call_site: str | None) -> str:
    """Layer of a ``"<fn> at <file>:<line>"`` call site; ``bench`` for
    jobs the benchmark itself started, ``unknown`` if none was stamped."""
    if not call_site:
        return "unknown"
    path = call_site.rsplit(" at ", 1)[-1].replace(os.sep, "/")
    for prefix, layer in LAYERS:
        if prefix in path:
            return layer
    return "bench"


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Spans:
    """In-memory span recorder; ``span()`` also sets the job group so the
    event log can be joined back to the span, unless ``group`` is off:
    then the span's jobs stay in the enclosing span's group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.items: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str | None = None, group: bool = True):
        """``op`` defaults to the enclosing span's op id."""
        if op is None:
            op = self.items[self._stack[-1]].op if self._stack else "none"
        return _SpanCtx(self, name, op, group)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.items):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


class _SpanCtx:
    def __init__(self, spans: Spans, name: str, op: str, group: bool):
        self.spans, self.name, self.op, self.group = spans, name, op, group

    def __enter__(self):
        sp = self.spans
        parent = sp._stack[-1] if sp._stack else None
        sp.items.append(Span(self.name, self.op, time.perf_counter(), parent=parent))
        self.idx = len(sp.items) - 1
        sp._stack.append(self.idx)
        if sp.sc is not None and self.group:
            sp.sc.setJobGroup(f"{self.op}/{self.name}", self.name)
        return self

    def __exit__(self, *exc):
        sp = self.spans
        sp.items[self.idx].end = time.perf_counter()
        sp._stack.pop()
        if sp.sc is not None and self.group:
            if sp._stack:
                outer = sp.items[sp._stack[-1]]
                sp.sc.setJobGroup(f"{outer.op}/{outer.name}", outer.name)
            else:
                sp.sc.setJobGroup("idle", "idle")
        return False


# --- call-site stamping --------------------------------------------------------

# (module, class, methods) whose calls can start Spark jobs
_ACTIONS = (
    ("pyspark.sql.classic.dataframe", "DataFrame", (
        "count", "collect", "toPandas", "take", "first", "head", "isEmpty", "toLocalIterator",
    )),
    ("pyspark.sql.readwriter", "DataFrameWriter", ("save", "parquet", "saveAsTable", "insertInto")),
    ("pyspark.sql.readwriter", "DataFrameReader", ("parquet", "load", "table")),
)


def _engine_frame() -> str | None:
    """``"<fn> at <file>:<line>"`` of the innermost engine frame on the
    stack, or of the first frame outside pyspark if none is."""
    f = sys._getframe(2)
    outside = None
    while f is not None:
        path = f.f_code.co_filename.replace(os.sep, "/")
        if "etl_stack_spark/" in path:
            return f"{f.f_code.co_name} at {f.f_code.co_filename}:{f.f_lineno}"
        if outside is None and "/pyspark/" not in path and "/py4j/" not in path \
                and not path.endswith("perfbench/trace.py"):
            outside = f"{f.f_code.co_name} at {f.f_code.co_filename}:{f.f_lineno}"
        f = f.f_back
    return outside


def stamp_call_sites(sc) -> None:
    """Wrap DataFrame actions so each job records the engine line that
    ran it. Shares PySpark's own nesting counter, so an inner
    ``collect`` keeps the outer stamp."""
    import importlib

    from pyspark.traceback_utils import SCCallSiteSync

    for mod_name, cls_name, methods in _ACTIONS:
        cls = getattr(importlib.import_module(mod_name), cls_name)
        for m in methods:
            orig = getattr(cls, m, None)
            if orig is None or getattr(orig, "_perfbench", False):
                continue

            def wrapper(*a, _orig=orig, **kw):
                if SCCallSiteSync._spark_stack_depth:
                    return _orig(*a, **kw)
                sc._jsc.setCallSite(_engine_frame() or "unknown")
                SCCallSiteSync._spark_stack_depth += 1
                try:
                    return _orig(*a, **kw)
                finally:
                    SCCallSiteSync._spark_stack_depth -= 1
                    sc._jsc.setCallSite(None)

            wrapper._perfbench = True
            functools.update_wrapper(wrapper, orig)
            setattr(cls, m, wrapper)


# --- event log -------------------------------------------------------------------


@dataclass
class JobRec:
    job_id: int
    group: str
    call_site: str | None
    layer: str
    start_ms: int
    end_ms: int = 0
    ok: bool = True
    stages: set = field(default_factory=set)
    listed: set = field(default_factory=set)  # stage ids the job may run


@dataclass
class Counters:
    """Work counters summed over a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    scan_tasks: int = 0
    job_wall_s: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    input_records: int = 0
    shuffle_read_records: int = 0
    shuffle_write_records: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    generate_rows: int = 0  # rows out of explode/Generate plan nodes

    def add(self, other: "Counters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class EventLog:
    """Jobs, stages and tasks of one application, keyed for attribution."""

    def __init__(self):
        self.jobs: dict[int, JobRec] = {}
        self.stage_counters: dict[int, Counters] = defaultdict(Counters)
        self.exec_generate_accums: dict[int, set] = defaultdict(set)
        self.exec_of_job: dict[int, int] = {}
        self.accum_values: dict[int, int] = {}

    def counters(self, pred) -> Counters:
        """Sum counters over jobs where ``pred(job)`` holds."""
        out = Counters()
        execs = set()
        for j in self.jobs.values():
            if not pred(j):
                continue
            out.jobs += 1
            out.job_wall_s += max(j.end_ms - j.start_ms, 0) / 1000.0
            for sid in j.stages:
                out.add(self.stage_counters[sid])
            if j.job_id in self.exec_of_job:
                execs.add(self.exec_of_job[j.job_id])
        out.generate_rows = sum(
            self.accum_values.get(a, 0) for e in execs for a in self.exec_generate_accums[e]
        )
        return out


def _plan_generate_accums(plan: dict, out: set) -> None:
    if plan.get("nodeName", "") == "Generate":
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _plan_generate_accums(c, out)


def event_files(log_dir: str) -> list[str]:
    """Event files of every application under ``log_dir``, in write order
    (rolling ``eventlog_v2_*/events_<n>_*`` or single plain files)."""
    files = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            parts = glob.glob(os.path.join(p, "events_*"))
            parts.sort(key=lambda s: int(os.path.basename(s).split("_")[1]))
            files.extend(parts)
        elif not os.path.basename(p).startswith("."):
            files.append(p)
    return files


def parse_event_log(log_dir: str) -> EventLog:
    ev = EventLog()
    active: list[int] = []
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    site = props.get("callSite.short")
                    jid = e["Job ID"]
                    ev.jobs[jid] = JobRec(
                        jid, props.get("spark.jobGroup.id") or "none", site,
                        layer_of(site), e.get("Submission Time", 0),
                    )
                    ev.jobs[jid].listed = set(e.get("Stage IDs", []))
                    if props.get("spark.sql.execution.id") is not None:
                        ev.exec_of_job[jid] = int(props["spark.sql.execution.id"])
                    active.append(jid)
                elif kind == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    owner = next(
                        (j for j in reversed(active) if sid in ev.jobs[j].listed), None
                    )
                    if owner is not None:
                        ev.jobs[owner].stages.add(sid)
                elif kind == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    ev.stage_counters[sid].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    c = ev.stage_counters[e["Stage ID"]]
                    m = e.get("Task Metrics") or {}
                    c.tasks += 1
                    inp = m.get("Input Metrics") or {}
                    if inp.get("Records Read", 0) or inp.get("Bytes Read", 0):
                        c.scan_tasks += 1
                    c.input_records += inp.get("Records Read", 0)
                    c.run_s += m.get("Executor Run Time", 0) / 1e3
                    c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.gc_s += m.get("JVM GC Time", 0) / 1e3
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c.shuffle_read_records += sr.get("Total Records Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    c.shuffle_write_records += sw.get("Shuffle Records Written", 0)
                    c.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        if "Update" in acc and isinstance(acc["Update"], (int, str)):
                            try:
                                ev.accum_values[acc["ID"]] = (
                                    ev.accum_values.get(acc["ID"], 0) + int(acc["Update"])
                                )
                            except ValueError:
                                pass
                elif kind == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in ev.jobs:
                        ev.jobs[jid].end_ms = e.get("Completion Time", 0)
                        ev.jobs[jid].ok = (e.get("Job Result") or {}).get("Result") == "JobSucceeded"
                    if jid in active:
                        active.remove(jid)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_generate_accums(
                        e.get("sparkPlanInfo") or {}, ev.exec_generate_accums[e["executionId"]]
                    )
    return ev


def event_log_conf(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn on an uncompressed event log."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{os.path.abspath(log_dir)} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )
