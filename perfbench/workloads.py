"""The three workloads: ``ingest``, ``lead_prep`` and ``query_mix``.

Each workload is driven through the engine's public entry points only.
It gets the generated inputs, builds its state in :meth:`setup`, warms
up in :meth:`warmup`, and hands the runner a stream of
:class:`Op` objects. An op's ``run`` is the timed part; its ``check``
runs outside the timing and raises on a wrong output.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen

LEAD_COLS = ["prop_id", "category", "poi_id", "brand", "tier", "rnk", "distance_km"]

QUERY_MIX = (
    "t1_tiered_topk", "a1_group_stats", "j1_broadcast_lookup", "j9_dedup_check",
    "a2_conditional_counts",
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_volume", "q7_nation_pair_volume",
    "q10_returned_revenue", "q12_priority_counts", "q14_promo_revenue",
    "p4_clean_price", "p9_content_hash", "tx2_quality_score",
    "stw1_tumbling_window", "stw3_session_window", "fn1_funnel_conversion", "aj1_asof_join",
    "m1_hash_gated_merge",
    "ss1_bruteforce_topk", "dd2_minhash_lsh", "rag2_retrieval_pipeline",
    "j6_radius_join", "t1_lead_prep_topk",
)


@dataclass
class Op:
    kind: str  # the op type; the main type of each workload feeds op_p50_s
    items: int
    run: Callable[[], object]
    check: Callable[[object], None] = lambda _res: None
    info: dict = field(default_factory=dict)


def dir_bytes(root: str) -> dict[str, int]:
    """``{path: size}`` of every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Workload:
    name = ""
    main_kind = ""
    item_unit = ""

    def __init__(self, spark, work: str, seed: int, spans):
        self.spark, self.work, self.seed, self.spans = spark, work, seed, spans
        self.gen_s = 0.0  # input generation, never part of setup_s
        self.check_s = 0.0  # output checks, never part of setup_s
        self.extra: dict = {}  # workload-specific report entries

    def generate(self) -> None:
        """Write the inputs that the set-up reads."""

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def next_op(self, n: int) -> Op:
        raise NotImplementedError

    def at_boundary(self) -> bool:
        """Whether the timed phase may stop before the next op."""
        return True

    def table_roots(self) -> list[str]:
        return []

    def current_snapshot_bytes(self) -> int | None:
        return None

    def traced_extras(self, op_id: str, op: Op) -> None:
        """Traced run only: isolated per-layer passes after an op."""

    def _timed_gen(self, fn, *a):
        t0 = time.perf_counter()
        out = fn(*a)
        self.gen_s += time.perf_counter() - t0
        return out

    def _run_checked(self, op: Op) -> None:
        """A set-up or warm-up op: run it, then check it on ``check_s``."""
        res = op.run()
        t0 = time.perf_counter()
        op.check(res)
        self.check_s += time.perf_counter() - t0


# --- ingest ------------------------------------------------------------------


class Ingest(Workload):
    """Per-client snapshot → clean_and_hash → with_quality_observation →
    hash-gated merge with a per-client soft-delete scope. Every 5th op
    (the 3rd, 8th, ...: short runs still see one) is
    ``vacuum(keep_last=2)``."""

    name, main_kind, item_unit = "ingest", "merge", "listings merged"

    def __init__(self, *a, listings: int, clients: int = 2, **kw):
        super().__init__(*a, **kw)
        self.listings, self.clients = listings, clients

    def setup(self) -> None:
        from etl_stack_spark.operators.merge import ParquetMergeTable

        self.root = os.path.join(self.work, "lead_properties")
        shutil.rmtree(self.root, ignore_errors=True)
        self.table = ParquetMergeTable(self.spark, self.root)
        self.plan = gen.IngestPlan(self.seed, self.clients, self.listings)
        self.batch = 0
        self.history = 0
        for _ in range(self.clients):  # each client's first full snapshot
            self._run_checked(self._merge_op())

    def warmup(self) -> None:
        # merges keep getting faster for ~6 ops (JIT): 2 in set-up, 4 here
        for _ in range(4):
            self._run_checked(self._merge_op())

    def _merge_op(self) -> Op:
        from etl_stack_spark.plans.ingest import (
            clean_and_hash, load_to_lead_properties, with_quality_observation,
        )

        snap, expect, observed = self._timed_gen(self.plan.next_batch)
        client = snap.column("client_id")[0].as_py()
        path = os.path.join(self.work, "staging", f"batch_{self.batch:05d}.parquet")
        self.batch += 1
        self._timed_gen(gen.write_parquet, snap, path)
        spark = self.spark
        info = {"path": path}

        def run():
            staged = spark.read.parquet(path)
            # the plan's own driver work: composing the cleaning plan
            with self.spans.span("plans.compose", group=False):
                cleaned, obs = with_quality_observation(clean_and_hash(staged))
            counters = load_to_lead_properties(cleaned, self.table, client)
            return counters, obs.get

        def check(res):
            counters, obs = res
            self.history += 1
            info["counters"] = counters
            if counters != expect:
                raise AssertionError(f"merge counters {counters} != plan {expect}")
            got = {k: obs[k] for k in observed}
            if got != observed:
                raise AssertionError(f"observation {got} != plan {observed}")

        return Op("merge", observed["n_rows"], run, check, info)

    def next_op(self, n: int) -> Op:
        if n % 5 == 2:
            keep = 2
            expect = max(self.history - keep, 0)

            def run():
                return self.table.vacuum(keep_last=keep)

            def check(dropped):
                if len(dropped) != expect:
                    raise AssertionError(f"vacuum removed {len(dropped)} versions, expected {expect}")
                self.history -= len(dropped)

            return Op("vacuum", 0, run, check)
        return self._merge_op()

    def table_roots(self) -> list[str]:
        return [self.root]

    def current_snapshot_bytes(self) -> int:
        cur = self.table.current_version()
        return sum(dir_bytes(os.path.join(self.root, cur)).values())

    def traced_extras(self, op_id: str, op: Op) -> None:
        if op.kind != "merge":
            return
        from etl_stack_spark.plans.ingest import clean_and_hash

        # cleaning is fused into the merge's stages; price it alone
        with self.spans.span("functions.clean_hash", op_id):
            clean_and_hash(self.spark.read.parquet(op.info["path"])) \
                .write.format("noop").mode("overwrite").save()


# --- lead prep ---------------------------------------------------------------


class LeadPrep(Workload):
    """One ``lead_prep_batch_fn(pois, results)`` call per 200-property
    change batch; results checked against a DuckDB brute force of the
    lead-prep top-k SQL."""

    name, main_kind, item_unit = "lead_prep", "batch", "properties enriched"

    def __init__(self, *a, batch: int, **kw):
        super().__init__(*a, **kw)
        self.batch_size = batch
        self.tables = os.path.join(self.work, "tables")

    def generate(self) -> None:
        self._timed_gen(gen.write_tables, self.tables, 0.1, self.seed, ("part",))

    def setup(self) -> None:
        from etl_stack_spark.operators.merge import ParquetMergeTable
        from etl_stack_spark.plans.lead_prep_stream import lead_prep_batch_fn
        from etl_stack_spark.queries import geo

        self.root = os.path.join(self.work, "lead_results")
        shutil.rmtree(self.root, ignore_errors=True)
        self.results = ParquetMergeTable(self.spark, self.root)
        self.pois = geo.pois_df(self.spark, self.tables)
        self.fn = lead_prep_batch_fn(self.pois, self.results)
        self.feed = gen.LeadPrepFeed(self.seed, batch=self.batch_size)
        self.n = 0
        self._run_checked(self._op())  # bootstrap: the first batch creates the table

    def warmup(self) -> None:
        self._run_checked(self._op())

    def _op(self) -> Op:
        batch = self._timed_gen(self.feed.next_batch)
        path = os.path.join(self.work, "feed", f"batch_{self.n:05d}.parquet")
        self._timed_gen(gen.write_parquet, batch, path)
        n = self.n
        self.n += 1
        latest = batch.to_pandas().sort_values("updated_at").drop_duplicates("prop_id", keep="last")
        spark = self.spark
        info = {"path": path}

        def run():
            self.fn(spark.read.parquet(path), n)

        def check(_res):
            info["rows_out"] = self._check(latest)

        return Op("batch", len(latest), run, check, info)

    def next_op(self, n: int) -> Op:
        return self._op()

    def _check(self, latest) -> int:
        import duckdb
        from pyspark.sql import functions as F

        from etl_stack_spark.queries import geo
        from tests.oracle import compare

        ids = [int(x) for x in latest["prop_id"]]
        got = (
            self.results.read()
            .filter((F.col("status") == "active") & F.col("prop_id").isin(ids))
            .select(*LEAD_COLS).toPandas()
        )
        con = duckdb.connect()
        try:
            con.register("batch_latest", latest[["prop_id", "lat", "lon"]])
            part = os.path.join(self.tables, "part.parquet")
            con.execute(f"CREATE VIEW part AS SELECT * FROM read_parquet('{part}')")
            sql = geo._LEAD_TOPK_ORACLE.replace(
                geo._PROPS_SQL, "SELECT prop_id, lat, lon FROM batch_latest"
            )
            want = con.execute(sql).fetchdf()
        finally:
            con.close()
        compare(got, want[LEAD_COLS], "lead_prep batch")
        return len(got)

    def table_roots(self) -> list[str]:
        return [self.root]

    def current_snapshot_bytes(self) -> int:
        cur = self.results.current_version()
        return sum(dir_bytes(os.path.join(self.root, cur)).values())

    def traced_extras(self, op_id: str, op: Op) -> None:
        from pyspark.sql import functions as F

        from etl_stack_spark.operators.rank import top_1_per_group

        # geo_join and rank run fused inside the merge's jobs: price one
        # evaluation of each on its own
        props = top_1_per_group(
            self.spark.read.parquet(op.info["path"]), ["prop_id"],
            [F.col("updated_at").desc()],
        ).drop("updated_at")
        price_geo_join_and_rank(self, op_id, props, self.pois)


def price_geo_join_and_rank(wl: Workload, op_id: str, props, pois) -> None:
    """Traced run only: one ``radius_join_by_category`` → ``noop`` pass
    (persisted) in span ``geo_join``, then one
    ``lead_prep_rank_from_matched`` → ``noop`` pass over it in span
    ``rank``. Records the match count for ``probe_rows_per_match``."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.geo_join import radius_join_by_category
    from etl_stack_spark.queries import geo

    matched = radius_join_by_category(
        props, pois, {k: c["radius_km"] for k, c in geo.CATEGORIES.items()}
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        with wl.spans.span("geo_join", op_id):
            matched.write.format("noop").mode("overwrite").save()
        wl.extra.setdefault("geo_join_matches", []).append(matched.count())
        with wl.spans.span("rank", op_id):
            geo.lead_prep_rank_from_matched(matched).write.format("noop").mode("overwrite").save()
    finally:
        matched.unpersist()


# --- query mix ---------------------------------------------------------------


class QueryMix(Workload):
    """Rounds of the 25 registry queries, each executed in full through
    the ``noop`` sink; the seed shuffles each round's order."""

    name, main_kind, item_unit = "query_mix", "query", "queries completed"

    def __init__(self, *a, sf: float, **kw):
        super().__init__(*a, **kw)
        self.sf = sf
        self.tables = os.path.join(self.work, "tables")
        self.rng = np.random.Generator(np.random.PCG64([self.seed, 3]))
        self.order: list[str] = []
        self.check_errors: dict[str, str] = {}
        self.store_build_s: dict[str, float] = {}

    def generate(self) -> None:
        self._timed_gen(gen.write_tables, self.tables, self.sf, self.seed)

    def _stores(self):
        from etl_stack_spark.queries import geo, text_dedup
        from etl_stack_spark.queries import similarity as sim_q

        s, d = self.spark, self.tables
        return [
            ("j6_match", lambda: geo.j6_base(s, d).count()),
            ("j6_rank", lambda: geo._lead_rank_view(s, d).count()),
            ("ann_normalized", lambda: sim_q._ann_normalized(s, d).count()),
            ("lsh_bucket", lambda: sim_q._lsh_bucketed(s, d).count()),
            ("minhash_sig", lambda: text_dedup.sig_base(s, d).count()),
            ("minhash_pair", lambda: text_dedup.pair_base(s, d).count()),
        ]

    def setup(self) -> None:
        from etl_stack_spark.queries import geo, text_dedup
        from etl_stack_spark.queries import similarity as sim_q

        geo.clear_j6_cache()
        sim_q.clear_ann_cache()
        text_dedup.clear_sig_cache()
        for name, build in self._stores():
            t0 = time.perf_counter()
            with self.spans.span(f"store.{name}", "setup"):
                build()
            self.store_build_s[name] = time.perf_counter() - t0

    def store_cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    def warmup(self) -> None:
        """One collect of every query (the warm-up ops), each compared with
        its DuckDB oracle on ``check_s``."""
        import duckdb

        from etl_stack_spark.queries import all_oracles, all_queries
        from etl_stack_spark.session import TABLE_NAMES
        from tests.oracle import compare

        self.extra["store_cached_bytes"] = self.store_cached_bytes()
        queries, oracles = all_queries(), all_oracles()
        self.queries = {q: queries[q] for q in QUERY_MIX}
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                p = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            for q, fn in self.queries.items():
                t0 = None
                try:
                    got = fn(self.spark, self.tables).toPandas()
                    t0 = time.perf_counter()
                    compare(got, con.execute(oracles[q]).fetchdf(), q)
                except Exception as e:  # noqa: BLE001 — reported, never waived
                    self.check_errors[q] = f"{type(e).__name__}: {str(e)[:300]}"
                if t0 is not None:
                    self.check_s += time.perf_counter() - t0
        finally:
            con.close()

    def at_boundary(self) -> bool:
        return not self.order  # only whole rounds are measured

    def next_op(self, n: int) -> Op:
        if not self.order:
            self.order = list(self.rng.permutation(QUERY_MIX))
        q = str(self.order.pop(0))
        fn, spark, tables = self.queries[q], self.spark, self.tables

        def run():
            fn(spark, tables).write.format("noop").mode("overwrite").save()

        def check(_res):
            if q in self.check_errors:
                raise AssertionError(self.check_errors[q])

        return Op("query", 1, run, check, {"query": q})

    def traced_extras(self, op_id: str, op: Op) -> None:
        if op.info["query"] != "j6_radius_join":
            return
        from etl_stack_spark.queries import geo

        # the timed queries read the persisted j6 stores: price one
        # uncached radius join and one ranking of it on their own
        price_geo_join_and_rank(
            self, op_id, geo.props_df(self.spark, self.tables),
            geo.pois_df(self.spark, self.tables),
        )


WORKLOADS = {w.name: w for w in (Ingest, LeadPrep, QueryMix)}
