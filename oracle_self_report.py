"""Emit ORACLE_SELF_REPORT.json: per-query Spark-vs-DuckDB parity for ALL
registered queries (the driver samples ~50 of them per round; this file
surfaces the rest with the same row-count / schema / value-hash shape so
the unsampled queries carry a machine-readable audit trail — VERDICT r4
task 6).

Usage: python oracle_self_report.py [--sf DIR] [--out FILE] [--only q1,q2]
[--regen-goldens] (defaults: sf0.01, ORACLE_SELF_REPORT.json next to
this script). ``--only`` runs the named subset and MERGES the results
into an existing out file (same sf_dir), so late-added queries can top
up a long full audit instead of rerunning it.

The comparison is the repo's local replica of the driver gate
(tests/oracle.py): name-sorted columns, canonicalized values, full-frame
equality; ``value_hash`` is sha256 over the canonical row tuples, equal
hashes ⇔ exact value match.

Rows-only queries (no DuckDB oracle — k-means/BPE-training semantics SQL
can't express) are pinned by COMMITTED GOLDEN HASHES instead (VERDICT r9
task 7): tests/golden/rows_only_hashes.json maps sf → query →
value_hash, computed over the same canonical row tuples. They are all
deterministic by construction (hash-seeded training, integer
quantization, fixed tie-breaks), so silent output drift now fails this
report the same way an oracle mismatch does. Regenerate-under-review
(the Delta-goldens procedure): run with ``--regen-goldens``, eyeball the
diff, commit it WITH the change that moved the output and a note saying
why.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _hash_rows(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode("utf-8"))
    return h.hexdigest()[:16]


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = "/root/testdata/sf0.01"
    out_path = os.path.join(here, "ORACLE_SELF_REPORT.json")
    goldens_path = os.path.join(here, "tests", "golden", "rows_only_hashes.json")
    only: list[str] | None = None
    regen_goldens = False
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--regen-goldens":
            regen_goldens = True
        elif a.startswith("--sf"):
            sf_dir = a.split("=", 1)[1] if "=" in a else args[(i := i + 1)]
        elif a.startswith("--out"):
            out_path = a.split("=", 1)[1] if "=" in a else args[(i := i + 1)]
        elif a.startswith("--only"):
            raw = a.split("=", 1)[1] if "=" in a else args[(i := i + 1)]
            only = [q.strip() for q in raw.split(",") if q.strip()]
        else:
            sys.exit(f"unknown argument: {a!r}\n{__doc__}")
        i += 1

    import duckdb

    from etl_stack_spark.queries import all_oracles, all_queries
    from etl_stack_spark.session import get_spark
    from tests.conftest import duck_with_views
    from tests.oracle import _harmonize, canon_frame

    spark = get_spark("oracle-self-report")
    spark.sparkContext.setLogLevel("ERROR")
    # the same views test_oracle_parity queries
    con = duck_with_views(duckdb.connect(), sf_dir)

    queries, oracles = all_queries(), all_oracles()
    sf_key = os.path.basename(os.path.abspath(sf_dir).rstrip("/"))
    all_goldens: dict[str, dict[str, str]] = {}
    if os.path.exists(goldens_path):
        with open(goldens_path) as f:
            all_goldens = json.load(f)
    sf_goldens: dict[str, str] = dict(all_goldens.get(sf_key, {}))
    fresh_goldens: dict[str, str] = {}  # hashes measured this run (for --regen)
    report: dict[str, dict] = {}
    run_names = sorted(queries)
    if only:
        unknown = [q for q in only if q not in queries]
        if unknown:
            sys.exit(f"unknown queries: {unknown}")
        run_names = sorted(only)
        if os.path.exists(out_path):  # merge into the prior full audit
            prior = json.load(open(out_path))
            if prior.get("meta", {}).get("sf_dir") == sf_dir:
                report.update(prior.get("queries", {}))
    failures = 0
    for name in run_names:
        t0 = time.perf_counter()
        entry: dict = {"err": None}
        try:
            spark_pdf = queries[name](spark, sf_dir).toPandas()
            entry["spark_rows"] = len(spark_pdf)
            if name in oracles:
                oracle_pdf = con.execute(oracles[name]).fetchdf()
                entry["oracle_rows"] = len(oracle_pdf)
                sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
                entry["schema_match"] = sc == oc
                entry["rows_match"] = len(spark_pdf) == len(oracle_pdf)
                if entry["schema_match"] and entry["rows_match"]:
                    a, b = spark_pdf[sc].copy(), oracle_pdf[sc].copy()
                    _harmonize(a, b)
                    sh = _hash_rows(canon_frame(a, presorted=False))
                    oh = _hash_rows(canon_frame(b, presorted=False))
                    entry["value_hash"] = sh
                    entry["hash_match"] = sh == oh
                else:
                    entry["hash_match"] = False
            else:
                # rows-only query: value-checked against the committed
                # golden hash (deterministic by construction); without a
                # golden for this sf it stays the driver's weaker
                # rows-only smoke
                entry["oracle"] = "golden" if name in sf_goldens else "none"
                sc = sorted(spark_pdf.columns)
                sh = _hash_rows(canon_frame(spark_pdf[sc].copy(), presorted=False))
                entry["value_hash"] = sh
                fresh_goldens[name] = sh
                if name in sf_goldens:
                    entry["golden_hash"] = sf_goldens[name]
                    entry["hash_match"] = sh == sf_goldens[name]
                    entry["rows_match"] = entry["schema_match"] = None
                else:
                    entry["rows_match"] = entry["schema_match"] = entry["hash_match"] = None
        except Exception as e:  # a query crash is a finding, not a report crash
            entry["err"] = f"{type(e).__name__}: {e}"[:300]
        entry["secs"] = round(time.perf_counter() - t0, 3)
        ok = entry["err"] is None and entry.get("hash_match") in (True, None)
        if not ok:
            failures += 1
        print(f"{'ok ' if ok else 'FAIL'} {name} ({entry['secs']}s)", file=sys.stderr)
        report[name] = entry

    def _entry_ok(e: dict) -> bool:
        return e.get("err") is None and e.get("hash_match") in (True, None)

    meta = {
        "sf_dir": sf_dir,
        "generated_unix": int(time.time()),
        "n_queries": len(report),
        "n_with_oracle": sum(1 for n in report if n in oracles),
        "n_with_golden": sum(
            1 for n, e in report.items() if e.get("oracle") == "golden"
        ),
        "n_failures": sum(1 for e in report.values() if not _entry_ok(e)),
    }
    if regen_goldens:
        # regenerate-under-review: overwrite this sf's section with the
        # measured hashes; the git diff IS the review surface
        all_goldens[sf_key] = {k: fresh_goldens[k] for k in sorted(fresh_goldens)}
        os.makedirs(os.path.dirname(goldens_path), exist_ok=True)
        with open(goldens_path, "w") as f:
            json.dump(all_goldens, f, indent=1, sort_keys=True)
        print(
            f"# regenerated {len(fresh_goldens)} golden hashes for {sf_key} "
            f"in {goldens_path}",
            file=sys.stderr,
        )
    with open(out_path, "w") as f:
        json.dump({"meta": meta, "queries": report}, f, indent=1)
    print(json.dumps(meta))
    sys.exit(1 if meta["n_failures"] else 0)


if __name__ == "__main__":
    main()
