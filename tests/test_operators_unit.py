"""Unit tests pinning reference-semantics edge cases that the SQL oracles
can't express (SURVEY §5's implication list): transitive spatial
clustering, difflib parity, accent normalization, cleaner quirks,
order-preserving array union, pipelines end-to-end."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etl_stack_spark.functions.cleaners import clean_price, clean_smallint
from etl_stack_spark.functions.udfs import difflib_ratio, normalize_text
from etl_stack_spark.operators.geo_join import cluster_points, cluster_representatives
from etl_stack_spark.operators.merge import ParquetMergeTable
from etl_stack_spark.plans.documents_flow import embed_changed_chunks, explode_pages, purge_chunks
from etl_stack_spark.plans.ingest import clean_and_hash, incremental_gate, load_to_lead_properties
from etl_stack_spark.sources.rest import fake_transport_factory, paginated_rest_scan
from etl_stack_spark.sources.staging import read_staging_envelope, write_staging_envelope


# --- A4 transitive clustering: a 3-point chain 15 m apart must merge into
# ONE cluster even though the ends are 30 m apart (buffer+dissolve parity).
def test_cluster_points_transitive_chain(spark):
    # ~15 m in latitude ≈ 0.000135°
    pts = spark.createDataFrame(
        [
            (1, "Cafe", 9.900000, -84.0),
            (2, "Cafe Central Grande", 9.900135, -84.0),  # 15 m from 1
            (3, "Cafeteria", 9.900270, -84.0),  # 15 m from 2, 30 m from 1
            (4, "Lejano", 9.910000, -84.0),  # ~1.1 km away
        ],
        "poi_id long, name string, lat double, lon double",
    )
    clustered = cluster_points(pts, radius_m=20.0, category_col=None)
    groups = {r["poi_id"]: r["cluster_id"] for r in clustered.collect()}
    assert groups[1] == groups[2] == groups[3], "chain must merge transitively"
    assert groups[4] != groups[1]

    reps = cluster_representatives(clustered)
    rep_names = {r["name"] for r in reps.collect()}
    # longest name wins the merged cluster
    assert rep_names == {"Cafe Central Grande", "Lejano"}


def test_difflib_ratio_matches_reference_semantics(spark):
    df = spark.createDataFrame(
        [("walmart", "walmart"), ("walmart", "wallmart"), ("ab", "abcdefghij")],
        "a string, b string",
    )
    out = df.select(difflib_ratio("a", "b").alias("r")).collect()
    assert out[0]["r"] == 1.0
    assert abs(out[1]["r"] - 0.9333333333333333) < 1e-12  # SequenceMatcher value
    assert out[2]["r"] == 0.0  # length-delta prefilter short-circuits


def test_normalize_text_accents(spark):
    df = spark.createDataFrame([("Café Ñandú ÜBER",)], "s string")
    assert df.select(normalize_text("s").alias("n")).first()["n"] == "cafe nandu uber"


def test_clean_price_reference_quirks(spark):
    rows = [
        ("285,000", "USD"),      # comma-as-decimal → 285.0 (yes, really)
        ("$1.200.500,75", "usd"),  # thousands dots + comma decimal
        ("", "EUR"),             # falsy → price 0, currency passes RAW
        ("abc", "CRC"),          # unparseable → 0 / USD
        ("2000000", "USD"),      # > 1e6 heuristic → CRC
    ]
    df = spark.createDataFrame(rows, "p string, c string")
    price, currency = clean_price(F.col("p"), F.col("c"))
    got = df.select(price.alias("p2"), currency.alias("c2")).collect()
    assert (got[0]["p2"], got[0]["c2"]) == (285.0, "USD")
    assert (got[1]["p2"], got[1]["c2"]) == (1200500.75, "CRC")
    assert (got[2]["p2"], got[2]["c2"]) == (0.0, "EUR")  # raw passthrough
    assert (got[3]["p2"], got[3]["c2"]) == (0.0, "USD")
    assert (got[4]["p2"], got[4]["c2"]) == (2000000.0, "CRC")


def test_clean_smallint_first_digit_run(spark):
    df = spark.createDataFrame([("3 + den",), ("no digits",), ("500",)], "v string")
    out = [r["n"] for r in df.select(clean_smallint(F.col("v"), 100).alias("n")).collect()]
    assert out == [3, None, None]  # 500 > cap 100


def test_array_union_preserves_first_occurrence_order(spark):
    # U2: normalized ∪ gallery keeps insertion order (reference
    # image_realhomes_provider.py:9-50); array_distinct(concat(...)) does.
    df = spark.createDataFrame([(["b", "a"], ["a", "c", "b", "d"])], "x array<string>, y array<string>")
    merged = df.select(F.array_distinct(F.concat("x", "y")).alias("m")).first()["m"]
    assert merged == ["b", "a", "c", "d"]


# --- sources ----------------------------------------------------------------

def test_rest_source_fake_transport(spark):
    df = paginated_rest_scan(
        spark,
        "https://example.test/wp-json/wp/v2/propiedad",
        total_pages=3,
        per_page=5,
        parallelism=2,
        transport=fake_transport_factory(per_page=5),
    )
    rows = df.collect()
    assert len(rows) == 15
    assert {r["id"] for r in rows} == set(range(15))
    assert all(r["slug"].startswith("prop-") for r in rows)


def test_staging_envelope_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", "Casa A", "100000"), ("2", "Casa B", "200000")],
        "external_id string, title string, price string",
    )
    path = str(tmp_path / "site.json")
    write_staging_envelope(df, path, {"site": "Test", "client_id": "c1", "timestamp": "2026-01-01T00:00:00"})
    back = read_staging_envelope(spark, path)
    assert back.count() == 2
    row = back.orderBy("external_id").first()
    assert row["client_id"] == "c1" and row["title"] == "Casa A"


# --- pipelines end-to-end ---------------------------------------------------

def test_ingest_pipeline_end_to_end(spark, tmp_path):
    staged = spark.createDataFrame(
        [
            ("c1", "1", "Casa A", "285,000", "USD", "180 m2", "3", "2.5", "9.9", "-84.0", {"g": "2"}, "publish"),
            ("c1", "2", "Casa B", "", "CRC", "x", "99 bed", "1", "9.8", "-84.1", {}, "draft"),  # filtered
            ("c1", "3", None, "1500000", None, "300", "2", "2", "0", "0", {}, "active"),
        ],
        "client_id string, external_id string, title string, price_raw string, currency_raw string, "
        "sqm_raw string, bedrooms_raw string, bathrooms_raw string, lat string, lng string, "
        "features map<string,string>, status string",
    )
    cleaned = clean_and_hash(staged)
    rows = {r["external_id"]: r for r in cleaned.collect()}
    assert set(rows) == {"1", "3"}  # draft filtered out
    assert rows["1"]["price"] == 285.0
    assert rows["3"]["title"] == "Sin Título"
    assert rows["3"]["currency"] == "CRC"  # 1.5e6 heuristic

    table = ParquetMergeTable(spark, str(tmp_path / "lead_properties"))
    stats = load_to_lead_properties(cleaned, table, "c1")
    assert stats["inserted"] == 2
    stats2 = load_to_lead_properties(cleaned, table, "c1")
    assert stats2["updated"] == 0 and stats2["unchanged"] == 2  # idempotent


def test_clean_and_hash_matches_single_projection(spark):
    """clean_and_hash projects each parsed number once and hands it to
    the cleaners; its rows must equal the public cleaners applied in one
    select, on every dirty format the cleaners handle. (``collect``, not
    ``exceptAll``: the ``features`` map column is not comparable.)"""
    from etl_stack_spark.functions import clean_area, content_hash
    from etl_stack_spark.functions.cleaners import clean_numeric_small, title_truncate

    dirty = ["$1,234", "1.234,56", "₡ 2.500.000", "85 m2", "", None, "abc", "3 1/2", " 12 "]
    currencies = ["USD", "crc", "₡", "", None]
    n = len(dirty)
    rows = [
        ("c1", str(i), "T", dirty[i], currencies[i % 5], dirty[-1 - i],
         dirty[(i + 3) % n], dirty[(i + 5) % n], "9.9", "-84.1", {"k": "v"}, "active")
        for i in range(n)
    ]
    staged = spark.createDataFrame(
        rows,
        "client_id string, external_id string, title string, price_raw string, currency_raw string, "
        "sqm_raw string, bedrooms_raw string, bathrooms_raw string, lat string, lng string, "
        "features map<string,string>, status string",
    )
    price, currency = clean_price(F.col("price_raw"), F.col("currency_raw"))
    single = staged.select(
        "client_id",
        "external_id",
        title_truncate(F.col("title")).alias("title"),
        price.alias("price"),
        currency.alias("currency"),
        clean_area(F.col("sqm_raw")).alias("area_sqm"),
        clean_smallint(F.col("bedrooms_raw"), 100).alias("bedrooms"),
        clean_numeric_small(F.col("bathrooms_raw"), 99).alias("bathrooms"),
        F.col("lat").cast("double").alias("location_lat"),
        F.col("lng").cast("double").alias("location_lng"),
        F.col("features").alias("features"),
        content_hash(
            F.col("title"), F.col("price_raw"), F.col("currency_raw"), F.col("sqm_raw"),
            F.col("lat"), F.col("lng"), F.col("features"),
        ).alias("content_hash"),
        F.lit("active").alias("status"),
    )
    got = clean_and_hash(staged)
    assert got.columns == single.columns
    key = lambda r: r["external_id"]  # noqa: E731
    got_rows = sorted(got.collect(), key=key)
    assert len(got_rows) == n
    assert got_rows == sorted(single.collect(), key=key)


def test_incremental_gate_60s_tolerance(spark):
    links = spark.createDataFrame(
        [
            ("1", "2026-01-01 00:02:00"),  # 120 s newer → extract
            ("2", "2026-01-01 00:00:30"),  # 30 s newer → skip (tolerance)
            ("3", None),                    # known, no source date → skip
            ("4", "2026-01-01 00:00:00"),  # unknown → extract
        ],
        "external_id string, modified_gmt string",
    ).withColumn("modified_gmt", F.col("modified_gmt").cast("timestamp"))
    known = spark.createDataFrame(
        [("1", "2026-01-01 00:00:00"), ("2", "2026-01-01 00:00:00"), ("3", "2026-01-01 00:00:00")],
        "external_id string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    got = {r["external_id"] for r in incremental_gate(links, known).collect()}
    assert got == {"1", "4"}


def test_document_flow_hash_gate_skips_unchanged(spark, tmp_path):
    docs = spark.createDataFrame(
        [("d1", "page one text here\n\npage two text here"), ("d2", "another doc body text")],
        "content_id string, text string",
    )
    chunks = explode_pages(docs)
    assert chunks.count() == 3
    vectors = ParquetMergeTable(spark, str(tmp_path / "vectors"))
    embedded, stats = embed_changed_chunks(chunks, vectors)
    assert stats["inserted"] == 3
    # second run: nothing changed → embedding UDF sees ZERO rows
    embedded2, stats2 = embed_changed_chunks(chunks, vectors)
    assert embedded2.count() == 0 and stats2["inserted"] == 0
    # purge + re-run restores
    assert purge_chunks(vectors, "d1") == 2
    _, stats3 = embed_changed_chunks(chunks, vectors)
    assert stats3["inserted"] == 2


def test_geojson_feature_collection(spark, tmp_path):
    from etl_stack_spark.sources.geojson import feature_column, write_feature_collection

    df = spark.createDataFrame(
        [(9.9, -84.0, "Escuela Central", "Education"), (9.8, -84.1, "Mini Super", "Convenience")],
        "lat double, lon double, name string, category string",
    )
    feat = feature_column(F.col("lat"), F.col("lon"), F.col("name"), F.col("category"))
    out = df.withColumn("feature", feat)
    path = str(tmp_path / "out.geojson")
    n = write_feature_collection(out, "feature", path)
    assert n == 2
    import json

    fc = json.load(open(path))
    assert fc["type"] == "FeatureCollection"
    by_name = {f["properties"]["name"]: f for f in fc["features"]}
    assert by_name["Escuela Central"]["properties"]["marker-color"] == "#2ca02c"
    assert by_name["Mini Super"]["geometry"]["coordinates"] == [-84.1, 9.8]


def test_watermark_bump_scoped(spark, tmp_path):
    from etl_stack_spark.operators.merge import ParquetMergeTable
    from etl_stack_spark.plans.ingest import bump_watermark

    cfg = ParquetMergeTable(spark, str(tmp_path / "sources_config"))
    cfg.overwrite(
        spark.createDataFrame(
            [("c1", "SiteA", None), ("c2", "SiteB", None)],
            "client_id string, name string, last_run_at timestamp",
        )
    )
    bump_watermark(cfg, "c1")
    rows = {r["client_id"]: r["last_run_at"] for r in cfg.read().collect()}
    assert rows["c1"] is not None and rows["c2"] is None


def test_lead_prep_package_assembly(spark):
    import json

    from etl_stack_spark.plans.lead_prep import lead_prep_packages
    from etl_stack_spark.queries.geo import CATEGORIES, pois_df, props_df

    props = props_df(spark, "/root/testdata/sf0.001").limit(50)
    pois = pois_df(spark, "/root/testdata/sf0.001")
    pkg = lead_prep_packages(props, pois, CATEGORIES)
    rows = pkg.collect()
    assert 0 < len(rows) <= 50
    payload = json.loads(rows[0]["poi_data"])
    assert set(payload) == {"categories", "n_walkable", "walk_score", "talking_point"}
    some_cat = next(iter(payload["categories"].values()))
    assert [e["rnk"] for e in some_cat] == sorted(e["rnk"] for e in some_cat)
    assert 0 <= payload["walk_score"] <= 10


def test_lead_prep_packages_plan_has_partial_window_group_limit(spark):
    """The production lead-prep plan must rank through the concrete-k path
    (operators/rank.py lead_prep_tiered_rank): Catalyst's partial
    WindowGroupLimit before the rank exchange is the whole point — with
    k=10**9 (the round-5 defect) the exchange carries the FULL match
    stream, billions of rows at 100 TB."""
    from etl_stack_spark.plans.lead_prep import lead_prep_packages
    from etl_stack_spark.queries.geo import CATEGORIES, pois_df, props_df

    props = props_df(spark, "/root/testdata/sf0.001").limit(20)
    pois = pois_df(spark, "/root/testdata/sf0.001")
    pkg = lead_prep_packages(props, pois, CATEGORIES)
    plan = pkg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan  # partial + final


def test_canonical_json_matches_python_dumps(spark):
    """P9 hash canonicalization: the expression must reproduce
    json.dumps(d, sort_keys=True) byte-for-byte for flat string dicts."""
    import json
    import random

    from etl_stack_spark.functions import canonical_json_from_map

    rng = random.Random(42)
    dicts = []
    for _ in range(60):
        d = {
            f"k{rng.randint(0, 30)}": rng.choice(["v", "", "x y", "ñé", "123", None])
            for _ in range(rng.randint(0, 6))
        }
        dicts.append(d)
    df = spark.createDataFrame([(i, d) for i, d in enumerate(dicts)], "i int, m map<string,string>")
    got = {r["i"]: r["j"] for r in df.select("i", canonical_json_from_map(F.col("m")).alias("j")).collect()}
    for i, d in enumerate(dicts):
        assert got[i] == json.dumps(d, sort_keys=True, ensure_ascii=False), f"dict {i}: {d}"


def test_detail_fetch_flattens_wp_nesting(spark):
    from etl_stack_spark.sources.rest import detail_fetch, fake_detail_transport

    links = spark.createDataFrame(
        [(f"prop-{i}",) for i in range(1, 8)], "slug string"
    )
    out = detail_fetch(
        links, "https://example.test/wp-json/wp/v2/propiedad",
        parallelism=2, transport=fake_detail_transport,
    )
    rows = {r["external_id"]: r for r in out.collect()}
    assert len(rows) == 7
    r3 = rows["3"]
    assert r3["title"] == "Propiedad 3"
    assert r3["price"] == "100039"          # list-unwrapped
    assert r3["lat"].startswith("9.503")    # "lat,lng" split
    assert rows["5"]["status"] == "draft"   # n % 5 == 0


def test_multiprobe_improves_recall(spark):
    """Multi-probe LSH recall vs brute-force ground truth must be at least
    single-bucket recall, on the real embeddings table."""
    from etl_stack_spark.operators.similarity import brute_force_topk, lsh_bucketed_topk
    from etl_stack_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=10).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_single = recall(lsh_bucketed_topk(emb, queries, k=10))
    r_multi = recall(lsh_bucketed_topk(emb, queries, k=10, multi_probe=True))
    assert r_multi >= r_single
    # the synthetic embeddings are near-uniform (worst case for LSH); even
    # so, probing 9/256 buckets must beat the 9/256 ≈ 3.5% random baseline
    assert r_multi > 0.1


def test_geohash_encode_public_vectors(spark):
    """Pure-expr geohash vs published test vectors (geohash.org example
    57.64911,10.40744 → u4pruydqqvj) + prefix-nesting property."""
    from etl_stack_spark.functions.geo import geohash_encode

    df = spark.createDataFrame(
        [(57.64911, 10.40744), (0.0, 0.0), (-25.382708, -49.265506)],
        "lat double, lon double",
    )
    g11 = df.select(geohash_encode(F.col("lat"), F.col("lon"), 11).alias("g")).collect()
    assert g11[0]["g"] == "u4pruydqqvj"
    assert g11[1]["g"] == "s0000000000"
    assert g11[2]["g"] == "6gkzwgjzn82"  # Curitiba (public geohash example)
    g5 = df.select(geohash_encode(F.col("lat"), F.col("lon"), 5).alias("g")).collect()
    assert all(long["g"].startswith(short["g"]) for long, short in zip(g11, g5))


def test_tiered_topk_concrete_k_gets_partial_window_group_limit(spark):
    """A concrete small k must produce a map-side partial WindowGroupLimit
    BEFORE the rank exchange (the built-in prune that replaced the old
    hand-rolled pandas local_topk_prune operator). If this shape ever
    disappears — e.g. a caller reverts to k=10**9-then-filter — the rank
    shuffle carries the full match stream again (569 MB at sf0.1 on the
    lead-prep rank, a measured 2.4x slowdown)."""
    from etl_stack_spark.operators.rank import tiered_top_k

    df = spark.createDataFrame(
        [(g, i, float((i * 37) % 100)) for g in range(20) for i in range(50)],
        "g int, i int, score double",
    ).repartition(8)
    topk = tiered_top_k(df, ["g"], [F.col("score").desc(), F.col("i")], k=3)
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan  # partial + final


def test_classify_poi_two_strategy_with_veto(spark):
    """Reference two-strategy classification over the real config shape:
    name keywords win, tags back up, exclusion vetoes (process_pois.py)."""
    from etl_stack_spark.config.poi_rules import POI_CATEGORIES, exclusions, rules_for_classifier, tag_rules
    from etl_stack_spark.operators.classify import classify_poi

    rows = [
        ("Escuela Central", {}),                              # keyword → Education
        ("Punto X", {"amenity": "pharmacy"}),                 # tag → Health
        ("Autoescuela Rapida", {"amenity": "school"}),        # veto → Other
        ("Gimnasio Fuerte", {"shop": "mall"}),                # keyword beats tag
        ("Sin Señas", {}),                                    # nothing → Other
    ]
    df = spark.createDataFrame(rows, "name string, tags map<string,string>")
    out = [
        r["cat"]
        for r in df.select(
            classify_poi(
                F.col("name"), F.col("tags"),
                rules_for_classifier(), tag_rules(), exclusions(),
            ).alias("cat")
        ).collect()
    ]
    assert out == ["Education", "Health", "Other", "Sport_Leisure", "Other"]
    assert len(POI_CATEGORIES) == 9  # full reference category set


def test_triangle_count_known_graphs(spark):
    from etl_stack_spark.operators.graph import triangle_count

    def tc(pairs):
        df = spark.createDataFrame(pairs, "src long, dst long")
        return triangle_count(df).collect()[0]["n_triangles"]

    # K4: 4 triangles — given with duplicate/reversed/self-loop noise
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    assert tc(k4 + [(0, 0), (1, 2), (2, 1)]) == 4
    # path 0-1-2-3: no triangles
    assert tc([(0, 1), (1, 2), (2, 3)]) == 0
    # star hub (celebrity node): no triangles despite max degree
    assert tc([(9, i) for i in range(6)]) == 0
    # two triangles sharing an edge: {0,1,2} and {0,1,3}
    assert tc([(0, 1), (1, 2), (0, 2), (1, 3), (0, 3)]) == 2


def test_ewm1_halving_weights_known_sequence(spark, tmp_path):
    """Trailing-8 halving EWMA on a hand-checkable series: constant input
    smooths to itself; a step input decays toward the new level with
    weight 2^7/(2^8-1) on the newest point."""
    import pyspark.sql.functions as F
    from etl_stack_spark.queries import all_queries

    rows = []
    # 10 hours of 'a' at 4 events/hour, then 2 hours at 8/hour
    for h in range(10):
        rows += [(f"e{h}_{i}", 1, "a", h * 3600 + 60 * i, 0.0) for i in range(4)]
    for h in (10, 11):
        rows += [(f"e{h}_{i}", 1, "a", h * 3600 + 60 * i, 0.0) for i in range(8)]
    df = spark.createDataFrame(
        rows, "event_id string, user_id long, event_type string, sec long, value double"
    ).select(
        "event_id", "user_id", "event_type",
        F.col("sec").cast("timestamp").alias("ts"), "value",
    )
    out = tmp_path / "ev"
    df.write.parquet(str(out / "events.parquet"))
    got = {
        r["hour"]: (r["cnt"], r["ewma_milli"])
        for r in all_queries()["ewm1_halving_ewma"](spark, str(out)).collect()
    }
    assert got[9] == (4, 4000)              # steady state: EWMA == level
    # hour 10: newest=8 with weight 128, seven 4s with weights 127 -> 
    # (8*128 + 4*127)*1000 div 255 = 6007
    assert got[10] == (8, (8 * 128 + 4 * 127) * 1000 // 255)
    # hour 0: only itself present -> denominator adapts
    assert got[0] == (4, 4000)


def test_bfs_levels_known_graph(spark):
    """Path + branch + unreachable: 0->1->2->3, 0->4; node 9 isolated."""
    from etl_stack_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 4), (9, 9)], "src long, dst long"
    )
    src = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["level"] for r in bfs_levels(edges, src).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1}  # 9 unreachable -> absent
    # multi-source: min level wins
    src2 = spark.createDataFrame([(0,), (2,)], "node long")
    got2 = {r["node"]: r["level"] for r in bfs_levels(edges, src2).collect()}
    assert got2 == {0: 0, 2: 0, 1: 1, 3: 1, 4: 1}


def test_global_row_number_matches_single_partition_window(spark):
    """The distributed rank (range repartition + local sorts + broadcast
    offsets) must equal row_number() OVER (ORDER BY ...) exactly,
    including descending orders and ties broken by the trailing key."""
    from pyspark.sql import Window

    from etl_stack_spark.operators.rank import global_row_number

    rows = [(i, (i * 37) % 50) for i in range(501)]  # heavy value ties
    df = spark.createDataFrame(rows, "id long, v long").repartition(7)
    got = {
        r.id: r.rnk
        for r in global_row_number(
            df, [F.col("v").desc(), F.col("id")], num_partitions=5
        ).collect()
    }
    w = Window.orderBy(F.col("v").desc(), F.col("id"))
    want = {r.id: r.rnk for r in df.withColumn("rnk", F.row_number().over(w)).collect()}
    assert got == want


def test_ntile_from_rank_matches_spark_ntile(spark):
    """Closed-form bucket == ntile(k) for n not divisible by k (the
    extra-row-to-first-buckets rule) and for n < k."""
    from pyspark.sql import Window

    from etl_stack_spark.operators.rank import global_row_number, ntile_from_rank

    for n, k in ((23, 5), (3, 5), (25, 5), (7, 3)):
        df = spark.createDataFrame([(i,) for i in range(n)], "id long")
        ranked = global_row_number(df, [F.col("id")], rank_col="r")
        got = {
            row.id: row.b
            for row in ranked.withColumn("b", ntile_from_rank("r", n, k)).collect()
        }
        w = Window.orderBy("id")
        want = {
            row.id: row.b
            for row in df.withColumn("b", F.ntile(k).over(w)).collect()
        }
        assert got == want, (n, k)


def test_global_row_number_empty_frame(spark):
    from etl_stack_spark.operators.rank import global_row_number

    df = spark.createDataFrame([], "id long, v long")
    assert global_row_number(df, [F.col("v"), F.col("id")]).count() == 0


def test_nb_lang_id_learns_planted_signal(spark):
    """lang2's mechanics: on a corpus where classes DO have disjoint
    vocabulary (unlike the signal-free synthetic documents table), the
    single-pass NB train/apply must recover the labels near-perfectly
    on the held-out odd half."""
    from etl_stack_spark.operators.text import nb_lang_train_apply

    rows = []
    vocab = {
        "aa": ["alpha", "apple", "anchor", "arrow"],
        "bb": ["bravo", "berry", "basket", "bridge"],
        "cc": ["charlie", "cherry", "candle", "copper"],
    }
    for i in range(300):
        lang = ["aa", "bb", "cc"][i % 3]
        words = [vocab[lang][(i * 7 + k) % 4] for k in range(12)]
        # one shared token everywhere: smoothing must shrug it off
        words.append("common")
        rows.append((i, lang, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = nb_lang_train_apply(docs).toPandas()
    assert len(out) == 150  # the odd half
    acc = (out["true_lang"] == out["pred_lang"]).mean()
    assert acc == 1.0, f"planted disjoint vocab must be fully recovered, got {acc}"
    # scores are integer milli-nats
    assert str(out["score_millinats"].dtype) == "int64"


def test_chunk_corpus_enforces_chunk_idx_bound(spark):
    """rag chunk_key packs doc_id*1000+chunk_idx; the idx<1000 bound is
    a raise, not an assumption (round-7 advisor): a ~48k-token document
    must fail loudly instead of colliding into the next doc_id's key
    space."""
    import pytest

    from etl_stack_spark.plans.rag import chunk_corpus

    ok = spark.createDataFrame(
        [(1, "one two three four five")], "doc_id long, text string"
    )
    rows = chunk_corpus(ok).collect()
    assert [r.chunk_key for r in rows] == [1000 * 1 + 0]

    # 1000 windows at stride 48 = first overflowing doc: 48*1000+1 tokens
    big = spark.createDataFrame(
        [(7, " ".join(["tok"] * (48 * 1000 + 1)))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="chunk_idx overflow"):
        chunk_corpus(big).collect()


def test_interval_concurrency_half_open_semantics(spark):
    """Sweep-line pin: back-to-back intervals ([1,3) then [3,5)) never
    overlap; a zero-length interval [t,t) contributes nothing; peak_at
    is the FIRST instant the max is reached."""
    import datetime as _dt

    from etl_stack_spark.operators.temporal import interval_concurrency

    T = lambda s: _dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # group a: [1,4) [2,6) [3,5) -> peak 3 at t=3; [6,8) back to 1
        ("a", T(1), T(4)),
        ("a", T(2), T(6)),
        ("a", T(3), T(5)),
        ("a", T(6), T(8)),
        # group b: [1,3) then [3,5): half-open -> never concurrent
        ("b", T(1), T(3)),
        ("b", T(3), T(5)),
        # group c: zero-length [2,2) alongside [1,4): peak stays 1,
        # reached at t=1 (the degenerate interval never counts)
        ("c", T(1), T(4)),
        ("c", T(2), T(2)),
    ]
    df = spark.createDataFrame(rows, "g string, start_ts timestamp, end_ts timestamp")
    out = {
        r["g"]: r
        for r in interval_concurrency(df, group_cols=("g",)).collect()
    }
    assert out["a"]["max_concurrent"] == 3 and out["a"]["peak_at"] == T(3)
    assert out["a"]["n_intervals"] == 4
    assert out["b"]["max_concurrent"] == 1 and out["b"]["peak_at"] == T(1)
    assert out["c"]["max_concurrent"] == 1 and out["c"]["peak_at"] == T(1)


def test_global_running_sum_matches_single_partition_window(spark):
    """The scalable prefix sum must equal SUM() OVER (ORDER BY ...) on a
    single-partition window, including duplicate order-key values
    (doc_id tie-break makes the order total) and an empty input."""
    from etl_stack_spark.operators.rank import global_running_sum

    rows = [(i, (i * 7) % 5, ((i * 13) % 11) + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id int, q int, tok int")
    got = {
        r["id"]: r["run"]
        for r in global_running_sum(
            df,
            order_by=[F.col("q").desc(), F.col("id").asc()],
            value_col="tok",
            sum_col="run",
            num_partitions=8,
        ).collect()
    }
    from pyspark.sql import Window

    w = (
        Window.orderBy(F.col("q").desc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["id"]: r["run"]
        for r in df.withColumn("run", F.sum("tok").over(w)).collect()
    }
    assert got == want

    empty = df.limit(0)
    assert (
        global_running_sum(
            empty, [F.col("id")], "tok", num_partitions=4
        ).count()
        == 0
    )


def test_global_running_sum_preserves_fractional_type(spark):
    """Double value columns must stay double (no silent truncation to
    long), and an all-NULL range partition contributes 0 to offsets."""
    from etl_stack_spark.operators.rank import global_running_sum

    rows = [(i, 0.25 if i % 3 else None) for i in range(40)]
    df = spark.createDataFrame(rows, "id int, w double")
    out = global_running_sum(
        df, order_by=[F.col("id")], value_col="w", sum_col="run", num_partitions=6
    )
    assert dict(out.dtypes)["run"] == "double"
    last = out.orderBy(F.col("id").desc()).limit(1).collect()[0]["run"]
    n_nonnull = sum(1 for _, w in rows if w is not None)
    assert abs(last - 0.25 * n_nonnull) < 1e-9


def test_seasonal_decompose_separates_planted_components(spark):
    """Planted daily pattern + linear trend: the hour-of-day component
    must recover the pattern's shape (relative offsets) and the
    residual must be an order of magnitude smaller than the signal."""
    import datetime as _dt

    from etl_stack_spark.operators.temporal import seasonal_decompose

    pattern = [((h * 7) % 24) * 1000 for h in range(24)]  # milli-units
    rows = []
    t0 = _dt.datetime(2024, 1, 1)
    for i in range(24 * 10):  # 10 full days
        rows.append(("a", t0 + _dt.timedelta(hours=i), pattern[i % 24] + 50 * i))
    df = spark.createDataFrame(rows, "g string, hr timestamp, y_milli long")
    out = seasonal_decompose(df, group_cols=("g",), hour_col="hr").collect()
    by_hod = {}
    resid_max = 0
    for r in out:
        by_hod.setdefault(r["hr"].hour, []).append(r["seasonal_milli"])
        resid_max = max(resid_max, abs(r["resid_milli"]))
    # seasonal is constant per hour-of-day by construction
    assert all(len(set(v)) == 1 for v in by_hod.values())
    # relative seasonal offsets track the planted pattern (up to a
    # common additive constant absorbed by the trend)
    base = by_hod[0][0] - pattern[0]
    for hod in range(24):
        assert abs(by_hod[hod][0] - pattern[hod] - base) < 1500, hod
    assert resid_max < max(pattern) / 10


def test_ingest_observation_rides_the_same_action(spark):
    """df.observe: quality counters must equal a direct recompute while
    costing ZERO extra scans (the metrics arrive with the action's
    result, not from a second query)."""
    from etl_stack_spark.plans.ingest import clean_and_hash, with_quality_observation

    staged = spark.createDataFrame(
        [
            ("c1", "e1", "Nice flat", "100,000", "EUR", "55", "2", "1.5",
             "40.1", "-3.7", {"pool": "1"}, "active"),
            ("c1", "e2", "No price", None, None, "60", "3", "1",
             None, None, {"gym": "1"}, "publish"),
            ("c1", "e3", "Dropped", "1", "EUR", "10", "1", "1",
             "1", "1", {"x": "1"}, "draft"),
        ],
        "client_id string, external_id string, title string, price_raw string, "
        "currency_raw string, sqm_raw string, bedrooms_raw string, "
        "bathrooms_raw string, lat string, lng string, "
        "features map<string,string>, status string",
    )
    cleaned = clean_and_hash(staged)
    observed, obs = with_quality_observation(cleaned)
    rows = observed.collect()  # ONE action: data + metrics together
    m = obs.get
    assert m["n_rows"] == len(rows) == 2  # draft filtered
    assert m["null_price"] == sum(1 for r in rows if r["price"] is None)
    assert m["null_coords"] == sum(
        1 for r in rows if r["location_lat"] is None or r["location_lng"] is None
    )
    assert m["approx_hashes"] >= 1


def test_lsh_bucket_frame_matches_inline_paths(spark):
    """The shared LSH staging frame (lsh_bucket_frame, passed where raw
    embeddings go) must be a pure refactor: top-k (single and multi-probe)
    and near-dup pairs are row-identical to the operators' inline
    projections."""
    from etl_stack_spark.operators.dedup import embedding_near_duplicates_lsh
    from etl_stack_spark.operators.similarity import lsh_bucket_frame, lsh_bucketed_topk
    from etl_stack_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    frame = lsh_bucket_frame(emb)
    q_frame = frame.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")

    for multi in (False, True):
        inline = lsh_bucketed_topk(emb, queries, k=10, multi_probe=multi)
        stored = lsh_bucketed_topk(frame, q_frame, k=10, multi_probe=multi)
        key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
        assert sorted(inline.collect(), key=key) == sorted(stored.collect(), key=key)

    inline_dd = embedding_near_duplicates_lsh(emb, threshold=0.42)
    stored_dd = embedding_near_duplicates_lsh(frame, threshold=0.42)
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    assert sorted(inline_dd.collect(), key=key) == sorted(stored_dd.collect(), key=key)

    from etl_stack_spark.operators.similarity import brute_force_topk

    inline_bf = brute_force_topk(emb, queries, k=10)
    stored_bf = brute_force_topk(frame, q_frame, k=10)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(inline_bf.collect(), key=key) == sorted(stored_bf.collect(), key=key)

    from etl_stack_spark.operators.similarity import hard_negatives

    lframe = lsh_bucket_frame(emb, keep_cols=("label",))
    lq = lframe.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    inline_hn = hard_negatives(
        emb, emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "label", "embedding"
        ), k=5,
    )
    stored_hn = hard_negatives(lframe, lq, k=5)
    assert sorted(inline_hn.collect(), key=key) == sorted(stored_hn.collect(), key=key)
