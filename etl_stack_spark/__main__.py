"""CLI: run any registered query, list the inventory, or run pipelines.

    python -m etl_stack_spark list
    python -m etl_stack_spark run t1_lead_prep_topk [--sf /root/testdata/sf0.01] [--show 20]
    python -m etl_stack_spark explain j6_radius_join [q2 ...] [--sf DIR] [--out DIR]
    python -m etl_stack_spark oracle t1_tiered_topk     # print the DuckDB SQL

``explain`` prints each query's formatted plan, or with ``--out`` writes
it to ``DIR/<query>.txt``; all queries share one Spark session. Plans
are not committed: write them into a scratch directory when a change
needs before and after plans.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser(prog="etl_stack_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list")
    for c in ("run", "explain", "oracle"):
        p = sub.add_parser(c)
        p.add_argument("query", nargs="+" if c == "explain" else None)
        if c == "run":
            p.add_argument("--sf", default="/root/testdata/sf0.01")
            p.add_argument("--show", type=int, default=20)
        if c == "explain":
            p.add_argument("--sf", default="/root/testdata/sf0.01")
            p.add_argument("--out")
    args = ap.parse_args()

    from etl_stack_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()

    if args.cmd == "list":
        for name in sorted(queries):
            print(f"{name:32s} {'oracle' if name in oracles else 'rows-only'}")
        return

    names = args.query if args.cmd == "explain" else [args.query]
    unknown = [q for q in names if q not in queries]
    if unknown:
        sys.exit(f"error: unknown queries {unknown}; see `python -m etl_stack_spark list`")

    if args.cmd == "oracle":
        print(oracles.get(args.query, "-- no oracle (rows-only check)"))
        return

    from etl_stack_spark.session import get_spark

    spark = get_spark("etl-stack-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "run":
        df = queries[args.query](spark, args.sf)
        df.show(args.show, truncate=False)
        print(f"rows: {df.count()}")
        return
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    for name in names:
        df = queries[name](spark, args.sf)
        if not args.out:
            df.explain("formatted")
            continue
        path = os.path.join(args.out, f"{name}.txt")
        with open(path, "w") as f, contextlib.redirect_stdout(f):
            df.explain("formatted")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
