"""bench.py's output contract, driven through the real CLI on a two-query
subset: the final stdout line is a compact JSON object with exactly the
contract keys, its value is the sum of the per-query medians, and a
--queries run writes BENCH_SUBSET.json (exactly the contract keys plus
the samples and warmup timings) while leaving the full record in
BENCH_DETAIL.json byte-for-byte alone. An argument bench.py does not
know fails fast, before any Spark session starts."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["a1_group_stats", "p4_clean_price"]
CONTRACT_KEYS = {
    "metric",
    "value",
    "unit",
    "queries",
    "sf",
    "runs_per_query",
    "store_build_secs",
    "warmup_total_secs",
    "cpus",
}


def _sha256(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()
    except FileNotFoundError:
        return None


def test_subset_run_prints_contract_line_and_writes_subset_sidecar():
    detail_path = os.path.join(REPO, "BENCH_DETAIL.json")
    subset_path = os.path.join(REPO, "BENCH_SUBSET.json")
    detail_before = _sha256(detail_path)
    # a stale sidecar from an earlier run must not satisfy the checks below
    if os.path.exists(subset_path):
        os.remove(subset_path)

    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = SF_SMOKE
    env["SPARK_GRAFT_BENCH_RUNS"] = "1"
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "bench.py"),
            "--queries=" + ",".join(QUERIES),
            "--no-sweep",
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]

    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(line) == CONTRACT_KEYS
    assert set(line["queries"]) == set(QUERIES)
    assert line["value"] == round(sum(line["queries"].values()), 3)
    assert line["runs_per_query"] == 1

    assert _sha256(detail_path) == detail_before
    with open(subset_path) as f:
        subset = json.load(f)
    assert set(subset["samples"]) == set(QUERIES)
    assert all(len(s) == 1 for s in subset["samples"].values())
    assert set(subset) == CONTRACT_KEYS | {"samples", "warmup_entry_secs"}


def test_unknown_argument_exits_with_usage_before_spark_starts():
    detail_path = os.path.join(REPO, "BENCH_DETAIL.json")
    detail_before = _sha256(detail_path)
    # a retired flag: it must not fall through to a full bench run
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--no-stream"],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=30,
    )
    assert out.returncode != 0
    assert "usage: python bench.py" in out.stderr
    assert "--no-stream" in out.stderr
    assert out.stdout == ""
    assert _sha256(detail_path) == detail_before
