"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q            # everything (~2 min)
    python3 -m pytest perfbench/tests -q -k "not smoke"   # no Spark
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import gen, report, trace  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def _ingest_bytes(seed: int, d: str) -> dict[str, bytes]:
    plan = gen.IngestPlan(seed, clients=2, listings=150)
    for i in range(6):
        snap, _expect, _obs = plan.next_batch()
        gen.write_parquet(snap, os.path.join(d, f"b{i}.parquet"))
    return _bytes(d)


def _feed_bytes(seed: int, d: str) -> dict[str, bytes]:
    feed = gen.LeadPrepFeed(seed, universe=500, batch=40)
    for i in range(4):
        gen.write_parquet(feed.next_batch(), os.path.join(d, f"f{i}.parquet"))
    return _bytes(d)


@pytest.mark.parametrize("make", [
    lambda seed, d: (gen.write_tables(d, 0.001, seed), _bytes(d))[1],
    _ingest_bytes,
    _feed_bytes,
], ids=["tables", "ingest", "lead_prep"])
def test_same_seed_gives_identical_inputs(tmp_path, make):
    a, b, c = (tmp_path / "a", tmp_path / "b", tmp_path / "c")
    for d in (a, b, c):
        d.mkdir()
    first, again, other = make(7, str(a)), make(7, str(b)), make(8, str(c))
    assert first == again
    assert first != other


def test_ingest_plan_mix_and_conservation():
    plan = gen.IngestPlan(3, clients=2, listings=1000)
    for _ in range(2):
        plan.next_batch()  # each client's first snapshot: all inserts
    for _ in range(6):
        snap, expect, observed = plan.next_batch()
        assert observed["n_rows"] == 1000
        assert expect["inserted"] + expect["updated"] >= 40  # new + returning + changed
        assert 130 <= expect["updated"] <= 200  # ~15 % changed plus returning
        assert expect["soft_deleted"] >= 50  # ~5 % withdrawn, re-marked every batch
        # the merge rewrites every row it reads
        assert sum(expect.values()) == len(plan.table)


def test_lead_feed_duplicates_lose_to_latest():
    feed = gen.LeadPrepFeed(5, universe=2000, batch=100)
    feed.next_batch()
    df = feed.next_batch().to_pandas()
    assert len(df) == 110 and df["prop_id"].nunique() == 100
    latest = df.sort_values("updated_at").drop_duplicates("prop_id", keep="last")
    assert (latest["updated_at"] > df["updated_at"].min()).all()


def test_metric_names_are_well_formed():
    names = list(report.E2E) + list(report.LAYER_UNITS)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert set(e2e) == set(report.E2E_CONTRACT)
    assert all(report.E2E[k] == u for k, u in e2e.items())
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layers == {k: report.LAYER_UNITS[k] for k in report.LAYER_CONTRACT}
    assert tuple(w["name"] for w in spec["workloads"]) == report.BENCH_WORKLOADS


def test_every_listed_layer_is_measured_on_a_listed_workload():
    for k in report.LAYER_CONTRACT:
        assert any(report.applies(k, w) for w in report.BENCH_WORKLOADS), k
    layers = {k.split(".")[0] for k in report.LAYER_CONTRACT}
    assert {"session", "functions", "merge", "geo_join", "rank", "plans", "queries"} <= layers


def test_event_log_parser_attributes_jobs_to_groups_and_layers():
    ev = trace.parse_event_log(os.path.join(HERE, "fixtures", "eventlog"))
    assert sorted(ev.jobs) == [0, 1, 2]
    assert [ev.jobs[j].layer for j in (0, 1, 2)] == ["merge", "plans", "unknown"]
    assert not ev.jobs[2].ok

    op0 = ev.counters(lambda j: j.group.startswith("op-0000/"))
    assert (op0.jobs, op0.stages, op0.tasks, op0.scan_tasks) == (2, 3, 4, 2)
    assert op0.input_records == 120
    assert op0.shuffle_write_bytes == 3000 and op0.shuffle_write_records == 100
    assert op0.job_wall_s == pytest.approx(0.85)
    assert op0.run_s == pytest.approx(0.64)
    assert op0.cpu_s == pytest.approx(0.48)
    assert op0.gc_s == pytest.approx(0.01)
    assert op0.generate_rows == 150  # string and int accumulator updates

    merge = ev.counters(lambda j: j.layer == "merge")
    assert (merge.jobs, merge.stages, merge.tasks) == (1, 2, 3)
    op1 = ev.counters(lambda j: j.group == "op-0001/op")
    assert (op1.jobs, op1.tasks, op1.generate_rows) == (1, 1, 0)


def test_layer_of_call_sites():
    assert trace.layer_of("count at /a/etl_stack_spark/operators/merge.py:489") == "merge"
    assert trace.layer_of("f at /a/etl_stack_spark/functions/cleaners.py:3") == "functions"
    assert trace.layer_of("f at /a/etl_stack_spark/queries/geo.py:3") == "queries"
    assert trace.layer_of("run at /a/perfbench/workloads.py:9") == "bench"
    assert trace.layer_of(None) == "unknown"


def test_nested_span_inherits_op_and_keeps_group():
    class SC:
        def __init__(self):
            self.groups = []

        def setJobGroup(self, gid, _desc):
            self.groups.append(gid)

    spans = trace.Spans(SC())
    with spans.span("op", "op-0001"):
        with spans.span("plans.compose", group=False):
            pass
        with spans.span("rank"):
            pass
    assert [(s.name, s.op, s.parent) for s in spans.items] == [
        ("op", "op-0001", None), ("plans.compose", "op-0001", 0), ("rank", "op-0001", 0),
    ]
    assert spans.sc.groups == ["op-0001/op", "op-0001/rank", "op-0001/op", "idle"]


def test_tail_needs_ten_samples_beyond():
    assert report.tail([1.0] * 10) == (None, None)
    pct, v = report.tail([float(i) for i in range(20)])
    assert pct == pytest.approx(50.0) and v == 9.0


@pytest.mark.parametrize("workload", ["ingest", "lead_prep", "query_mix"])
def test_smoke_two_ops_no_failures(workload):
    """An sf0.001 run with two timed ops per workload fails nothing."""
    res = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--ops", "2", "--smoke", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    last = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["attempted"] == 2 and last["failed"] == 0 and last["correct"], res.stdout
    assert "failed_frac                  0.0 " in res.stdout
