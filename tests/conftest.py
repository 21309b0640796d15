"""Shared fixtures: one SparkSession per test run + the DuckDB oracle."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_stack_spark.session import TABLE_NAMES, get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # local[16] + 8 shuffle partitions + 4-way local-data slicing: test
    # inputs are hand-sized, so every stage should be a handful of tasks,
    # not `cores` of them — the suite runs thousands of Spark actions and
    # per-stage dispatch overhead IS its wall time. Operators that need
    # width at scale take explicit levers; oracle values are
    # partitioning-independent by construction.
    os.environ.setdefault("SPARK_GRAFT_DEFAULT_PARALLELISM", "4")
    s = get_spark("etl-stack-spark-tests", cpus=16)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for sf in {SF_SMOKE, SF_ORACLE}:
        schema = "sf" + os.path.basename(sf).replace("sf", "").replace(".", "_")
        con.execute(f"CREATE SCHEMA IF NOT EXISTS {schema}")
    yield con


def duck_with_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register the test tables as views for one scale factor (driver-style)."""
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def jobs_in(spark, group, fn):
    """Run ``fn`` under a job group; return (its result, the number of
    Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
