"""THE GATE runner (`make test-fast`): the full pytest suite in
cost-balanced process groups (own JVM each — no pytest-xdist in this
container), wall time ≈ max(group). Group membership lives in
``tools/gate_groups.json`` (regenerated by ``tools/rebalance_gate.py``
whenever max-group creep threatens the 600s bar; see that module for
the policy).

The LAST group is always the CATCH-ALL: it runs ``tests/`` ignoring
every explicitly-listed file, so a newly added test file can never
silently drop out of the gate — it lands in the catch-all until the
next rebalance files it.

``--durations`` passes ``--durations=0`` to every group and keeps the
logs, which is exactly the input the rebalancer wants:

    python tools/run_gate.py --durations   # gate run + timing capture
    python tools/rebalance_gate.py         # regroup from those logs
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_stack_spark.session import default_driver_mem_mib  # noqa: E402

GROUPS_FILE = os.path.join(REPO, "tools", "gate_groups.json")
LOG_PREFIX = "/tmp/tf_g"


def load_groups() -> list[list[str]]:
    with open(GROUPS_FILE) as f:
        spec = json.load(f)
    groups = spec["groups"]
    missing = [p for g in groups for p in g if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"# WARNING: listed test files missing (stale groups?): {missing}")
    return [[p for p in g if os.path.exists(os.path.join(REPO, p))] for g in groups]


def main() -> int:
    durations = "--durations" in sys.argv
    groups = load_groups()
    explicit = [p for g in groups for p in g]
    extra = ["--durations=0"] if durations else []
    cmds = [[sys.executable, "-m", "pytest", "-q", *extra, *g] for g in groups]
    # catch-all: everything NOT explicitly grouped
    cmds.append(
        [sys.executable, "-m", "pytest", "-q", *extra]
        + [f"--ignore={p}" for p in explicit]
        + ["tests/"]
    )
    # every group's JVM gets its share of get_spark's default heap, so
    # the groups together ask for no more than one session would
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{default_driver_mem_mib() // len(cmds)}m")
    procs = []
    for i, cmd in enumerate(cmds):
        log = f"{LOG_PREFIX}{i + 1}.log"
        procs.append((i, log, time.time(), subprocess.Popen(
            cmd, stdout=open(log, "w"), stderr=subprocess.STDOUT, cwd=REPO, env=env
        )))

    # stamp each group's wall when ITS process exits, not when the loop
    # below reaches it: waiting in group order would give a group that
    # ends early the wall of a slower one before it
    ended: dict[int, float] = {}
    while len(ended) < len(procs):
        for i, _log, _t0, p in procs:
            if i not in ended and p.poll() is not None:
                ended[i] = time.time()
        time.sleep(0.5)

    rc = 0
    walls: dict[str, float] = {}
    for i, log, t0, p in procs:
        code = p.returncode
        secs = round(ended[i] - t0, 1)
        walls[f"group{i + 1}"] = secs
        with open(log) as f:
            tail = [ln for ln in f.read().splitlines() if ln.strip()][-1:]
        print(f"# group {i + 1} ({secs}s, rc={code}): {tail[0] if tail else '(empty log)'}")
        if code != 0:
            rc = 1
    # as-executed wall per group — THE number the 600s bar is stated
    # against (VERDICT r9 task 5: groups contend under their own 4-way
    # parallelism, so solo-summed durations under-project; the
    # rebalancer reads this summary to calibrate a contention factor)
    with open("/tmp/tf_gate_summary.json", "w") as f:
        json.dump({"walls": walls, "unix": int(time.time())}, f)
    print(f"# max group wall as executed: {max(walls.values())}s (bar 600s)")
    return rc


if __name__ == "__main__":
    sys.exit(main())
