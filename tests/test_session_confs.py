"""Fixed engine confs that ``get_spark`` sets, pinned by the counters
they exist to move: classes compiled by Spark's codegen, and py4j round
trips spent composing a plan."""

from __future__ import annotations

import threading

import py4j.clientserver

from etl_stack_spark.plans.ingest import clean_and_hash, with_quality_observation
from etl_stack_spark.queries import all_queries
from tests.conftest import SF_SMOKE

# registry queries whose repeat passes generate the same code: not
# m1_hash_gated_merge (a per-run literal), nor rag2_retrieval_pipeline or
# q7_nation_pair_volume, whose repeat passes compiled 0-12 and 0-4
# classes. Together they need more classes than Spark's default
# 100-entry codegen cache holds (~125 at sf0.001).
CODEGEN_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_volume",
    "q10_returned_revenue",
    "stw1_tumbling_window",
    "aj1_asof_join",
    "stw3_session_window",
    "fn1_funnel_conversion",
    "ss1_bruteforce_topk",
)

STAGED_SCHEMA = (
    "client_id string, external_id string, title string, price_raw string, "
    "currency_raw string, sqm_raw string, bedrooms_raw string, "
    "bathrooms_raw string, lat string, lng string, "
    "features map<string,string>, status string"
)


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_repeated_query_set(spark):
    """The second noop pass over a fixed query set compiles nothing: every
    class the first pass generated is still cached. With the default
    100-entry cache the set evicts its own classes and recompiles them
    all on every pass."""
    registry = all_queries()

    def one_pass() -> int:
        before = _compiled(spark)
        for name in CODEGEN_QUERIES:
            registry[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        return _compiled(spark) - before

    first = one_pass()
    assert one_pass() == 0, f"second pass recompiled (first pass compiled {first})"


def test_ingest_plan_composition_round_trip_budget(spark, monkeypatch):
    """Composing the ingest cleaning plan costs at most 800 py4j round
    trips: with PySpark's call-site capture on, every Column call adds
    about four more (2,061 in all; 681 with it off). Only this thread's
    calls count: py4j releases dropped Java objects from whichever
    thread collects them."""
    from pyspark.errors.utils import is_debugging_enabled

    staged = spark.createDataFrame([], STAGED_SCHEMA)
    me = threading.get_ident()
    calls = 0
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
        with_quality_observation(clean_and_hash(staged))
    assert not is_debugging_enabled()
    assert 0 < calls <= 800, calls


def test_default_driver_heap_is_half_the_box_up_to_24g(spark, monkeypatch):
    """``get_spark`` asks for min(24 GiB, half of physical RAM) unless
    ``SPARK_GRAFT_DRIVER_MEM`` sets the heap."""
    import os

    from etl_stack_spark import session

    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{session.default_driver_mem_mib()}m")
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want

    page = 4096
    for ram_gib, heap_mib in ((15, 7680), (16, 8192), (48, 24576), (128, 24576)):
        monkeypatch.setattr(
            session.os,
            "sysconf",
            lambda name, ram=ram_gib: page if name == "SC_PAGE_SIZE" else (ram << 30) // page,
        )
        assert session.default_driver_mem_mib() == heap_mib
