"""Dump `.explain("formatted")` for a set of registered queries in ONE
Spark session (python -m etl_stack_spark explain pays a fresh JVM per
query; this amortizes it over many queries). Dumps are not committed:
regenerate them into a scratch directory when a change needs before and
after plans.

    python tools/dump_plans.py --out /tmp/plans --suffix _after q1 q2 ...
    python tools/dump_plans.py --out /tmp/plans --suffix _before --all-touched

Plans are captured at sf0.01 (the explain CLI's default): plan SHAPE is
what a dump shows; AQE-final shapes at other SFs are recorded by
the bench sidecars instead.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()

    from etl_stack_spark.queries import all_queries
    from etl_stack_spark.session import get_spark

    queries = all_queries()
    unknown = [q for q in args.queries if q not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.queries:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            queries[name](spark, args.sf).explain("formatted")
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
