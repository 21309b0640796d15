"""The session-store registry (etl_stack_spark/queries/stores.py): one
handle per key under concurrent cold calls, no entry left by a failed
build, per-module clearing, path normalization of the key, bench.py's
warmup walking exactly the package's builders — and the rule that no
other query module keys a cache on the Spark session."""

from __future__ import annotations

import os
import pathlib
import sys
import threading

import pytest

from etl_stack_spark.queries import geo, stores, text_dedup
from etl_stack_spark.queries import similarity as sim_q
from tests.conftest import SF_ORACLE, SF_SMOKE


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_bench_warm_walks_every_package_store(spark):
    """bench.warm_stores builds and times every store the package
    registers, under its builder's name, and no builder registered
    outside the package (here, one local to this test)."""
    import bench

    @stores.session_store
    def local_only(spark, sf_dir):
        return spark.range(1)

    out = bench.warm_stores(spark, SF_ORACLE)
    package = [b.__name__ for b in stores.builders()]
    assert sorted(out) == sorted(package)
    assert len(package) == len(set(package)) == 17
    assert {"lm_scored", "_lead_distance_view", "sig_base", "_ivfpq_trained"} <= set(out)
    assert "local_only" not in out


def test_concurrent_cold_calls_get_one_handle(spark):
    """8 threads released together on a cold store all receive the same
    DataFrame, so ``clear`` unpersists exactly what every consumer read."""
    geo.clear_j6_cache()
    n = 8
    barrier = threading.Barrier(n)
    got: list = [None] * n

    def call(i):
        barrier.wait()
        got[i] = geo.j6_base(spark, SF_SMOKE)

    threads = [threading.Thread(target=call, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # widen the check-then-build race window
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert len({id(g) for g in got}) == 1, "concurrent cold calls built distinct stores"
        assert geo.j6_base(spark, SF_SMOKE) is got[0]
    finally:
        sys.setswitchinterval(interval)
        geo.clear_j6_cache()


def test_failed_build_stores_nothing(spark):
    calls = []

    @stores.session_store
    def flaky(spark, sf_dir):
        calls.append(sf_dir)
        if len(calls) == 1:
            raise RuntimeError("first build fails")
        return spark.range(3)

    try:
        with pytest.raises(RuntimeError):
            flaky(spark, SF_SMOKE)
        df = flaky(spark, SF_SMOKE)
        assert flaky(spark, SF_SMOKE) is df
        assert len(calls) == 2
    finally:
        stores.clear(__name__)


def test_clear_drops_only_the_named_module(spark):
    """Clearing geo's stores unpersists the match stream and its rank
    view; the ANN and MinHash stores stay persisted and cached."""
    geo.clear_j6_cache()
    sim_q.clear_ann_cache()
    text_dedup.clear_sig_cache()
    try:
        before = _persisted_rdds(spark)
        geo.j6_base(spark, SF_SMOKE).count()
        geo._lead_rank_view(spark, SF_SMOKE).count()
        after_geo = _persisted_rdds(spark)
        lsh = sim_q._lsh_bucketed(spark, SF_SMOKE)
        sigs = text_dedup.sig_base(spark, SF_SMOKE)
        lsh.count()
        sigs.count()
        after_all = _persisted_rdds(spark)
        geo_rdds, other_rdds = after_geo - before, after_all - after_geo
        assert geo_rdds and other_rdds

        stores.clear(geo.__name__)

        remaining = _persisted_rdds(spark)
        assert not geo_rdds & remaining, "geo stores still persisted"
        assert other_rdds <= remaining, "clearing geo unpersisted another module's store"
        assert sim_q._lsh_bucketed(spark, SF_SMOKE) is lsh
        assert text_dedup.sig_base(spark, SF_SMOKE) is sigs
    finally:
        geo.clear_j6_cache()
        sim_q.clear_ann_cache()
        text_dedup.clear_sig_cache()


def test_sf_dir_spellings_share_one_entry(spark):
    calls = []

    @stores.session_store
    def counted(spark, sf_dir):
        calls.append(sf_dir)
        return spark.range(1)

    parent, base = os.path.split(SF_SMOKE)
    spellings = [
        SF_SMOKE,
        SF_SMOKE + "/",
        os.path.join(parent, ".", base),
        os.path.join(SF_SMOKE, "..", base),
        os.path.relpath(SF_SMOKE),
    ]
    try:
        got = [counted(spark, s) for s in spellings]
        assert all(g is got[0] for g in got)
        assert calls == [SF_SMOKE]
    finally:
        stores.clear(__name__)


def test_no_other_query_module_keys_on_the_session():
    """Session caches go through stores.session_store: a query module that
    reads ``applicationId`` is a hand-rolled store and fails here."""
    root = pathlib.Path(stores.__file__).parent
    offenders = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if p.name != "stores.py" and "applicationId" in p.read_text()
    ]
    assert not offenders, f"hand-rolled session cache in {offenders}; use stores.session_store"

