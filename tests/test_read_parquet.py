"""``session.read_parquet``: each Parquet input's schema is inferred once
per file identity and inference confs, never again on a repeat read."""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from etl_stack_spark.operators.merge import ParquetMergeTable
from etl_stack_spark.session import TABLE_NAMES, load_table, read_parquet

from .conftest import SF_SMOKE, jobs_in


@pytest.fixture
def conf(spark):
    """Set session confs for one test, restoring the old values after."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        spark.conf.set(key, value)


def test_second_load_launches_no_job(spark, tmp_path):
    shutil.copy(os.path.join(SF_SMOKE, "orders.parquet"), tmp_path)
    first, jobs1 = jobs_in(spark, "rp_first", lambda: load_table(spark, str(tmp_path), "orders"))
    second, jobs2 = jobs_in(spark, "rp_second", lambda: load_table(spark, str(tmp_path), "orders"))
    assert jobs1 >= 1  # the footer-reading inference job
    assert jobs2 == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_repeat_reads_are_fresh_relations(spark):
    """Two reads of one table self-join like two bare reads: column
    references stay bound to their own relation."""
    a = load_table(spark, SF_SMOKE, "orders")
    b = load_table(spark, SF_SMOKE, "orders")
    n = a.count()
    assert a.join(b, a["o_orderkey"] == b["o_orderkey"]).count() == n
    assert a.join(b, a["o_custkey"] < b["o_custkey"]).filter(
        a["o_orderkey"] == b["o_orderkey"]
    ).count() == 0


def test_concurrent_reads_get_the_right_schema(spark, tmp_path):
    """More threads than cores read three files, missing and hitting the
    cache at once; every read gets its own file's columns. Then each file
    is rewritten with one more column, and every read of the next wave
    sees it: no racing writer left a stale entry behind. (A read racing
    the rewrite itself is not tested: Spark's own footer read can see a
    half-replaced file then, with or without the cache.)"""
    paths = [str(tmp_path / f"c{i}.parquet") for i in range(3)]

    def wave(extra):
        with ThreadPoolExecutor(16) as pool:
            futures = [
                (i, pool.submit(read_parquet, spark, paths[i])) for i in [0, 1, 2] * 16
            ]
            for i, f in futures:
                assert f.result(timeout=120).columns == [f"a{i}"] + extra

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for i, p in enumerate(paths):
            pq.write_table(pa.table({f"a{i}": [1]}), p)
        wave([])
        for i, p in enumerate(paths):
            pq.write_table(pa.table({f"a{i}": [1], "b": [2]}), p)
        wave(["b"])
    finally:
        sys.setswitchinterval(old_interval)


def test_rewrite_at_same_path_is_reread(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(r.b for r in df.collect()) == ["x", "y"]


def test_rewritten_directory_is_reread(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).withColumn("x", F.lit(1)).write.mode("overwrite").parquet(path)
    assert read_parquet(spark, path).columns == ["id", "x"]


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_schema_equals_plain_inference(spark, conf, nanos_as_long):
    conf("spark.sql.legacy.parquet.nanosAsLong", nanos_as_long)
    for name in TABLE_NAMES:
        path = os.path.join(SF_SMOKE, f"{name}.parquet")
        plain = spark.read.parquet(path).schema
        read_parquet(spark, path)  # the first read may infer; the second must not
        assert read_parquet(spark, path).schema == plain, name


def test_inference_confs_are_part_of_the_key(spark, conf, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    conf("spark.sql.parquet.binaryAsString", "false")
    assert dict(read_parquet(spark, path).dtypes)["b"] == "binary"
    conf("spark.sql.parquet.binaryAsString", "true")
    assert dict(read_parquet(spark, path).dtypes)["b"] == "string"


def test_nanos_conf_change_raises_like_a_bare_read(spark, conf, tmp_path):
    path = str(tmp_path / "n.parquet")
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("ns"))}), path)
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(AnalysisException) as bare:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as helper:
        read_parquet(spark, path)
    assert helper.value.getCondition() == bare.value.getCondition()


@pytest.mark.parametrize("kind", ["missing", "empty_dir"])
def test_unreadable_path_raises_like_a_bare_read(spark, tmp_path, kind):
    path = str(tmp_path / kind)
    if kind == "empty_dir":
        os.makedirs(path)
    for _ in range(2):  # a failed read caches nothing
        with pytest.raises(AnalysisException) as bare:
            spark.read.parquet(path)
        with pytest.raises(AnalysisException) as helper:
            read_parquet(spark, path)
        assert helper.value.getCondition() == bare.value.getCondition()


def test_merge_table_read_matches_plain_inference(spark, tmp_path):
    table = ParquetMergeTable(spark, str(tmp_path / "m"))

    def plain(version=None):
        v = table.current_version() if version is None else version
        return spark.read.parquet(os.path.join(table.root, v)).schema

    batch = spark.createDataFrame(
        [("c1", "p1", "h1"), ("c1", "p2", "h2")],
        "client_id string not null, external_id string, content_hash string",
    )
    table.overwrite(batch)
    first = table.current_version()
    assert table.read().schema == plain()
    table.merge(
        batch.withColumn("content_hash", F.lit("h9")).withColumn("price", F.lit(1.5)),
        keys=["client_id", "external_id"],
        on_extra_columns="evolve",
    )
    read, jobs = jobs_in(spark, "rp_merge_read", table.read)
    assert jobs == 0  # the schema was recorded at commit
    assert read.schema == plain()
    assert "price" in read.columns
    assert table.read(first).schema == plain(first)
    assert table.read(-2).schema == plain(first)
    assert table.vacuum(keep_last=1) == [first]
    with pytest.raises(AnalysisException):
        table.read(first)
