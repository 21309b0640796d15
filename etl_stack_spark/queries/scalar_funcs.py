"""P-class scalar-function queries with DuckDB oracles.

Pattern: synthesize deterministic "dirty" inputs from the TPC-H tables
*identically in both engines* (integer-keyed CASE + printf-style
formatting, which Spark's format_string and DuckDB's printf render the
same), then apply the engine function on the Spark side and the same
logic in SQL on the oracle side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.functions import (
    clean_area,
    clean_numeric_small,
    clean_price,
    clean_smallint,
    content_hash,
    hstore_parse,
    luma_text_color,
    map_prune_empty,
    poi_stable_hash,
    split_latlng,
    title_truncate,
)
from etl_stack_spark.functions.cleaners import first_int, price_number, scrubbed_number
from etl_stack_spark.functions.misc import case_contains, name_rescue
from etl_stack_spark.functions.udfs import normalize_text
from etl_stack_spark.queries import register
from etl_stack_spark.session import load_table


# ---------------------------------------------------------------------------
# P4 — clean_price + currency heuristic (loader_v2.py:16-39)
# ---------------------------------------------------------------------------
_P4_ORACLE = """
WITH dirty AS (
  SELECT o_orderkey,
    CASE o_orderkey % 5
      WHEN 0 THEN '$' || printf('%.2f', o_totalprice)
      WHEN 1 THEN replace(printf('%.2f', o_totalprice), '.', ',')
      WHEN 2 THEN printf('%.2f', o_totalprice) || ' USD'
      WHEN 3 THEN ''
      ELSE '1.' || printf('%.2f', o_totalprice)
    END AS price_raw,
    CASE o_orderkey % 4 WHEN 0 THEN 'usd' WHEN 1 THEN 'CRC' WHEN 2 THEN 'EUR' END AS currency_raw
  FROM orders
),
scrub AS (
  SELECT *, regexp_replace(replace(trim(price_raw), ',', '.'), '[^0-9.]', '', 'g') AS s
  FROM dirty
),
collapsed AS (
  SELECT *, CASE WHEN len(string_split(s, '.')) > 2
    THEN array_to_string(list_slice(string_split(s, '.'), 1, len(string_split(s, '.')) - 1), '')
         || '.' || string_split(s, '.')[-1]
    ELSE s END AS s2
  FROM scrub
),
parsed AS (SELECT *, TRY_CAST(s2 AS DOUBLE) AS num FROM collapsed)
SELECT o_orderkey,
  CASE WHEN price_raw IS NULL OR price_raw = '' THEN 0.0
       WHEN num IS NULL OR num > 9999999999999.99 THEN 0.0
       ELSE num END AS price,
  CASE WHEN price_raw IS NULL OR price_raw = '' THEN currency_raw
       WHEN num IS NULL OR num > 9999999999999.99 THEN 'USD'
       WHEN num > 1000000 THEN 'CRC'
       WHEN currency_raw IS NULL THEN 'USD'
       WHEN upper(substr(trim(currency_raw), 1, 3)) IN ('USD', 'CRC')
         THEN upper(substr(trim(currency_raw), 1, 3))
       ELSE 'USD' END AS currency
FROM parsed
"""


@register("p4_clean_price", _P4_ORACLE)
def p4_clean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = F.format_string("%.2f", F.col("o_totalprice"))
    k = F.col("o_orderkey") % 5
    dirty = (
        F.when(k == 0, F.concat(F.lit("$"), base))
        .when(k == 1, F.regexp_replace(base, r"\.", ","))
        .when(k == 2, F.concat(base, F.lit(" USD")))
        .when(k == 3, F.lit(""))
        .otherwise(F.concat(F.lit("1."), base))
    )
    c = F.col("o_orderkey") % 4
    cur_raw = F.when(c == 0, "usd").when(c == 1, "CRC").when(c == 2, "EUR")
    df = orders.select("o_orderkey", dirty.alias("price_raw"), cur_raw.alias("currency_raw"))
    # the parsed number gets its own projection, so its regexp scrub
    # runs once per row, not once per CASE branch that references it
    df = df.select("*", price_number(F.col("price_raw")).alias("num"))
    price, currency = clean_price(F.col("price_raw"), F.col("currency_raw"), num=F.col("num"))
    return df.select("o_orderkey", price.alias("price"), currency.alias("currency"))


# ---------------------------------------------------------------------------
# P5 — clean_area: null outside (0, 9 999 999.99] (loader_v2.py:41-50)
# ---------------------------------------------------------------------------
_P5_ORACLE = """
WITH dirty AS (
  SELECT p_partkey,
    CASE p_partkey % 5
      WHEN 0 THEN printf('%.2f', p_retailprice) || ' m2'
      WHEN 1 THEN replace(printf('%.2f', p_retailprice), '.', ',')
      WHEN 2 THEN '-'
      WHEN 3 THEN '99999999.99'
      ELSE printf('%d', p_size)
    END AS area_raw
  FROM part
),
parsed AS (
  SELECT *, TRY_CAST(regexp_replace(replace(trim(area_raw), ',', '.'), '[^0-9.]', '', 'g') AS DOUBLE) AS num
  FROM dirty
)
SELECT p_partkey,
  CASE WHEN area_raw IS NULL OR area_raw = '' THEN NULL
       WHEN num IS NULL OR num <= 0 OR num > 9999999.99 THEN NULL
       ELSE num END AS area
FROM parsed
"""


@register("p5_clean_area", _P5_ORACLE)
def p5_clean_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey") % 5
    price2 = F.format_string("%.2f", F.col("p_retailprice"))
    dirty = (
        F.when(k == 0, F.concat(price2, F.lit(" m2")))
        .when(k == 1, F.regexp_replace(price2, r"\.", ","))
        .when(k == 2, F.lit("-"))
        .when(k == 3, F.lit("99999999.99"))
        .otherwise(F.format_string("%d", F.col("p_size")))
    )
    df = part.select("p_partkey", dirty.alias("area_raw"))
    df = df.select("*", scrubbed_number(F.col("area_raw")).alias("num"))
    return df.select("p_partkey", clean_area(F.col("area_raw"), num=F.col("num")).alias("area"))


# ---------------------------------------------------------------------------
# P6 — clean_smallint: first digit-run, cap 100 (loader_v2.py:52-60)
# ---------------------------------------------------------------------------
_P6_ORACLE = """
WITH dirty AS (
  SELECT p_partkey,
    CASE p_partkey % 4
      WHEN 0 THEN printf('%d', p_size) || ' + den'
      WHEN 1 THEN 'about ' || printf('%d', p_size)
      WHEN 2 THEN 'n/a'
      ELSE printf('%d', p_size * 10)
    END AS beds_raw
  FROM part
),
parsed AS (
  SELECT *, TRY_CAST(regexp_extract(beds_raw, '([0-9]+)', 1) AS INT) AS num FROM dirty
)
SELECT p_partkey,
  CASE WHEN beds_raw IS NULL OR beds_raw = '' THEN NULL
       WHEN num IS NULL OR num > 100 THEN NULL
       ELSE num END AS bedrooms
FROM parsed
"""


@register("p6_clean_smallint", _P6_ORACLE)
def p6_clean_smallint(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey") % 4
    size_s = F.format_string("%d", F.col("p_size"))
    dirty = (
        F.when(k == 0, F.concat(size_s, F.lit(" + den")))
        .when(k == 1, F.concat(F.lit("about "), size_s))
        .when(k == 2, F.lit("n/a"))
        .otherwise(F.format_string("%d", F.col("p_size") * 10))
    )
    df = part.select("p_partkey", dirty.alias("beds_raw"))
    df = df.select("*", first_int(F.col("beds_raw")).alias("num"))
    return df.select(
        "p_partkey", clean_smallint(F.col("beds_raw"), 100, num=F.col("num")).alias("bedrooms")
    )


# ---------------------------------------------------------------------------
# P7 — clean_numeric_small: cap 99.9 (loader_v2.py:62-70)
# ---------------------------------------------------------------------------
_P7_ORACLE = """
WITH dirty AS (
  SELECT p_partkey,
    CASE p_partkey % 4
      WHEN 0 THEN replace(printf('%.1f', p_size / 2.0), '.', ',')
      WHEN 1 THEN printf('%.1f', p_size / 2.0) || ' baños'
      WHEN 2 THEN '1.2.3'
      ELSE printf('%.2f', p_retailprice)
    END AS baths_raw
  FROM part
),
parsed AS (
  SELECT *, TRY_CAST(regexp_replace(replace(trim(baths_raw), ',', '.'), '[^0-9.]', '', 'g') AS DOUBLE) AS num
  FROM dirty
)
SELECT p_partkey,
  CASE WHEN baths_raw IS NULL OR baths_raw = '' THEN NULL
       WHEN num IS NULL OR num > 99.9 THEN NULL
       ELSE num END AS bathrooms
FROM parsed
"""


@register("p7_clean_numeric_small", _P7_ORACLE)
def p7_clean_numeric_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey") % 4
    half = F.format_string("%.1f", F.col("p_size") / 2.0)
    dirty = (
        F.when(k == 0, F.regexp_replace(half, r"\.", ","))
        .when(k == 1, F.concat(half, F.lit(" baños")))
        .when(k == 2, F.lit("1.2.3"))
        .otherwise(F.format_string("%.2f", F.col("p_retailprice")))
    )
    df = part.select("p_partkey", dirty.alias("baths_raw"))
    df = df.select("*", scrubbed_number(F.col("baths_raw")).alias("num"))
    return df.select(
        "p_partkey",
        clean_numeric_small(F.col("baths_raw"), 99.9, num=F.col("num")).alias("bathrooms"),
    )


# ---------------------------------------------------------------------------
# P8 — title truncate + default (loader_v2.py:131)
# ---------------------------------------------------------------------------
_P8_ORACLE = """
SELECT doc_id,
  substr(CASE WHEN doc_id % 7 = 0 OR text IS NULL THEN 'Sin Título' ELSE text END, 1, 250) AS title
FROM documents
"""


@register("p8_title_truncate", _P8_ORACLE)
def p8_title_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(F.col("text"))
    return docs.select("doc_id", title_truncate(raw).alias("title"))


# ---------------------------------------------------------------------------
# P9 — content hash with canonical sorted-key JSON (loader_v2.py:84-88)
# ---------------------------------------------------------------------------
_P9_ORACLE = """
SELECT p_partkey,
  sha256(
    p_name || '|' || printf('%.2f', p_retailprice) || '|USD|' || printf('%d', p_size)
    || '|None|None|'
    || '{"brand": "' || p_brand || '", "size": "' || printf('%d', p_size)
    || '", "type": "' || p_type || '"}'
  ) AS content_hash
FROM part
"""


@register("p9_content_hash", _P9_ORACLE)
def p9_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    features = F.create_map(
        F.lit("size"), F.format_string("%d", F.col("p_size")),
        F.lit("type"), F.col("p_type"),
        F.lit("brand"), F.col("p_brand"),
    )
    h = content_hash(
        title=F.col("p_name"),
        price=F.format_string("%.2f", F.col("p_retailprice")),
        currency=F.lit("USD"),
        sqm=F.format_string("%d", F.col("p_size")),
        lat=F.lit(None).cast("string"),
        lng=F.lit(None).cast("string"),
        features=features,
    )
    return part.select("p_partkey", h.alias("content_hash"))


# ---------------------------------------------------------------------------
# P10 — POI stable hash: category|lat:.6f|lon:.6f (process_pois.py:151-157)
# ---------------------------------------------------------------------------
_P10_ORACLE = """
SELECT s_suppkey,
  sha256(
    (CASE s_suppkey % 3 WHEN 0 THEN 'Education' WHEN 1 THEN 'Health' ELSE 'Shopping' END)
    || '|' || printf('%.6f', 9.0 + (s_suppkey % 1000) * 0.001)
    || '|' || printf('%.6f', -84.0 - (s_suppkey % 1000) * 0.001)
  ) AS poi_hash
FROM supplier
"""


@register("p10_poi_hash", _P10_ORACLE)
def p10_poi_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey") % 3
    cat = F.when(k == 0, "Education").when(k == 1, "Health").otherwise(F.lit("Shopping"))
    lat = F.lit(9.0) + (F.col("s_suppkey") % 1000) * 0.001
    lon = F.lit(-84.0) - (F.col("s_suppkey") % 1000) * 0.001
    return supplier.select(
        "s_suppkey", poi_stable_hash(cat, lat, lon).alias("poi_hash")
    )


# ---------------------------------------------------------------------------
# P12 — accent-strip normalize (UDF surface; process_pois.py:159-165)
# ---------------------------------------------------------------------------
_P12_ORACLE = """
SELECT n_nationkey,
  lower(strip_accents(
    n_name || CASE n_nationkey % 4 WHEN 0 THEN ' café' WHEN 1 THEN ' Ñandú'
              WHEN 2 THEN ' Über' ELSE '' END
  )) AS norm_name
FROM nation
"""


@register("p12_accent_normalize", _P12_ORACLE)
def p12_accent_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey") % 4
    suffix = (
        F.when(k == 0, " café").when(k == 1, " Ñandú").when(k == 2, " Über").otherwise(F.lit(""))
    )
    raw = F.concat(F.col("n_name"), suffix)
    return nation.select("n_nationkey", normalize_text(raw).alias("norm_name"))


# ---------------------------------------------------------------------------
# P13 — hstore-ish tag parse (process_pois.py:167-183). The oracle derives
# the expected values straight from the source columns the string was
# built from — it checks parse semantics, not string plumbing.
# ---------------------------------------------------------------------------
_P13_ORACLE = """
SELECT p_partkey, lower(p_type) AS tag_cat, lower(p_brand) AS tag_brand
FROM part
"""


@register("p13_tag_parse", _P13_ORACLE)
def p13_tag_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    hstore = F.concat(
        F.lit('"cat"=>"'), F.col("p_type"), F.lit('","brand"=>"'), F.col("p_brand"), F.lit('"')
    )
    m = hstore_parse(hstore)
    return part.select(
        "p_partkey",
        F.element_at(m, "cat").alias("tag_cat"),
        F.element_at(m, "brand").alias("tag_brand"),
    )


# ---------------------------------------------------------------------------
# P15 — name-rescue coalesce cascade (process_pois.py:315-341)
# ---------------------------------------------------------------------------
_P15_ORACLE = """
SELECT s_suppkey,
  COALESCE(
    NULLIF(trim(CASE WHEN s_suppkey % 5 = 0 THEN 'CuratedBrand' ELSE '' END), ''),
    NULLIF(trim(CASE WHEN s_suppkey % 3 = 0 THEN s_name ELSE '  ' END), ''),
    'Punto de Interés (S/N)'
  ) AS final_name
FROM supplier
"""


@register("p15_name_rescue", _P15_ORACLE)
def p15_name_rescue(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    curated = F.when(F.col("s_suppkey") % 5 == 0, "CuratedBrand").otherwise(F.lit(""))
    osm_name = F.when(F.col("s_suppkey") % 3 == 0, F.col("s_name")).otherwise(F.lit("  "))
    final = name_rescue(curated, osm_name, generic_label=F.lit("Punto de Interés (S/N)"))
    return supplier.select("s_suppkey", final.alias("final_name"))


# ---------------------------------------------------------------------------
# P17 — fuzzy similarity, native tier: 1 - levenshtein/greatest(len)
# (engine also ships exact difflib parity as a pandas UDF; see functions.udfs)
# ---------------------------------------------------------------------------
_P17_ORACLE = """
SELECT p_partkey,
  round(1.0 - levenshtein(lower(p_name), lower(p_type))
        / greatest(len(p_name), len(p_type)), 6) AS sim
FROM part
"""


@register("p17_fuzzy_similarity", _P17_ORACLE)
def p17_fuzzy_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    a, b = F.lower(F.col("p_name")), F.lower(F.col("p_type"))
    sim = F.round(
        F.lit(1.0) - F.levenshtein(a, b) / F.greatest(F.length("p_name"), F.length("p_type")),
        6,
    )
    return part.select("p_partkey", sim.alias("sim"))


# ---------------------------------------------------------------------------
# P19 — property-type CASE via substring match (loader_v2.py:181-185)
# ---------------------------------------------------------------------------
_P19_ORACLE = """
SELECT p_partkey,
  CASE WHEN instr(lower(p_name), 'bolt') > 0 THEN 3
       WHEN instr(lower(p_name), 'widget') > 0 THEN 2
       ELSE 1 END AS ptype_id
FROM part
"""


@register("p19_type_case", _P19_ORACLE)
def p19_type_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    expr = case_contains(F.col("p_name"), [("bolt", 3), ("widget", 2)], default=1)
    return part.select("p_partkey", expr.alias("ptype_id"))


# ---------------------------------------------------------------------------
# P2 — empty-value map pruning (base_provider.py:40), output = canonical JSON
# ---------------------------------------------------------------------------
_P2_ORACLE = """
SELECT p_partkey,
  '{' ||
    CASE WHEN p_partkey % 3 = 0 THEN '' ELSE '"brand": "' || p_brand || '"' END
    || CASE WHEN p_partkey % 3 = 0 OR p_partkey % 2 = 0 THEN '' ELSE ', ' END
    || CASE WHEN p_partkey % 2 = 0 THEN '' ELSE '"type": "' || p_type || '"' END
  || '}' AS features_json
FROM part
"""


@register("p2_map_prune", _P2_ORACLE)
def p2_map_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.functions import canonical_json_from_map

    part = load_table(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"),
        F.when(F.col("p_partkey") % 3 == 0, F.lit("")).otherwise(F.col("p_brand")),
        F.lit("type"),
        F.when(F.col("p_partkey") % 2 == 0, F.lit("")).otherwise(F.col("p_type")),
    )
    pruned = map_prune_empty(m)
    return part.select("p_partkey", canonical_json_from_map(pruned).alias("features_json"))


# ---------------------------------------------------------------------------
# P3 — publish-status filter (loader_v2.py:104-108)
# ---------------------------------------------------------------------------
_P3_ORACLE = """
WITH st AS (
  SELECT o_orderkey,
    CASE o_orderkey % 6 WHEN 0 THEN 'publish' WHEN 1 THEN 'Active' WHEN 2 THEN 'published'
         WHEN 3 THEN 'draft' WHEN 4 THEN 'trash' END AS status
  FROM orders
)
SELECT o_orderkey, lower(COALESCE(status, 'active')) AS status
FROM st
WHERE lower(COALESCE(status, 'active')) IN ('publish', 'active', 'published')
"""


@register("p3_status_filter", _P3_ORACLE)
def p3_status_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 6
    status = (
        F.when(k == 0, "publish").when(k == 1, "Active").when(k == 2, "published")
        .when(k == 3, "draft").when(k == 4, "trash")
    )
    df = orders.select("o_orderkey", status.alias("status_raw"))
    eff = F.lower(F.coalesce(F.col("status_raw"), F.lit("active")))
    return df.filter(eff.isin("publish", "active", "published")).select(
        "o_orderkey", eff.alias("status")
    )


# ---------------------------------------------------------------------------
# P27 — luma text-contrast (BRAND_CONFIG/utils.py:1-25). The oracle computes
# r/g/b arithmetically from the same synthesized int — checks the hex
# parse + luma semantics.
# ---------------------------------------------------------------------------
_P27_ORACLE = """
WITH v AS (SELECT c_custkey, (c_custkey * 9973) % 16777216 AS rgb FROM customer)
SELECT c_custkey,
  CASE WHEN 0.2126 * (rgb // 65536) + 0.7152 * ((rgb // 256) % 256) + 0.0722 * (rgb % 256) < 128
       THEN '#FFFFFF' ELSE '#111111' END AS text_color
FROM v
"""


@register("p27_luma_contrast", _P27_ORACLE)
def p27_luma_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    rgb = (F.col("c_custkey") * 9973) % 16777216
    hex_color = F.format_string("#%06x", rgb)
    return customer.select("c_custkey", luma_text_color(hex_color).alias("text_color"))


# ---------------------------------------------------------------------------
# P28 — "lat,lng" split with zero-nulling (houzez/wp_residence providers)
# ---------------------------------------------------------------------------
_P28_ORACLE = """
WITH s AS (
  SELECT s_suppkey,
    CASE s_suppkey % 4
      WHEN 0 THEN printf('%.6f', 9.0 + s_suppkey * 0.001) || ',' || printf('%.6f', -84.0 - s_suppkey * 0.001)
      WHEN 1 THEN '0,0'
      WHEN 2 THEN 'garbage'
      ELSE printf('%.6f', 10.0 + s_suppkey * 0.0005) || ', ' || printf('%.6f', -83.5)
    END AS coord
  FROM supplier
),
split AS (
  SELECT s_suppkey,
    TRY_CAST(trim(string_split(coord, ',')[1]) AS DOUBLE) AS lat0,
    TRY_CAST(trim(string_split(coord, ',')[2]) AS DOUBLE) AS lng0
  FROM s
)
SELECT s_suppkey,
  CASE WHEN lat0 = 0.0 THEN NULL ELSE lat0 END AS lat,
  CASE WHEN lng0 = 0.0 THEN NULL ELSE lng0 END AS lng
FROM split
"""


@register("p28_latlng_split", _P28_ORACLE)
def p28_latlng_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey") % 4
    coord = (
        F.when(k == 0, F.concat(
            F.format_string("%.6f", F.lit(9.0) + F.col("s_suppkey") * 0.001),
            F.lit(","),
            F.format_string("%.6f", F.lit(-84.0) - F.col("s_suppkey") * 0.001),
        ))
        .when(k == 1, F.lit("0,0"))
        .when(k == 2, F.lit("garbage"))
        .otherwise(F.concat(
            F.format_string("%.6f", F.lit(10.0) + F.col("s_suppkey") * 0.0005),
            F.lit(", "),
            F.format_string("%.6f", F.lit(-83.5)),
        ))
    )
    df = supplier.select("s_suppkey", coord.alias("coord"))
    lat, lng = split_latlng(F.col("coord"))
    return df.select("s_suppkey", lat.alias("lat"), lng.alias("lng"))


# ---------------------------------------------------------------------------
# P26 — incremental modified-since gate with 60 s tolerance
# (base_provider.py:120-160): extract iff never seen, or source is newer
# than known by > 60 s; a missing source date on a known row ⇒ skip.
# ---------------------------------------------------------------------------
_P26_ORACLE = """
WITH src AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
         ELSE o_orderdate + INTERVAL (o_orderkey % 180) SECOND END AS src_ts
  FROM orders
),
known AS (
  SELECT o_orderkey, o_orderdate AS known_ts FROM orders WHERE o_orderkey % 3 <> 0
)
SELECT s.o_orderkey
FROM src s LEFT JOIN known k ON s.o_orderkey = k.o_orderkey
WHERE k.known_ts IS NULL
   OR (s.src_ts IS NOT NULL AND floor(epoch(s.src_ts)) > floor(epoch(k.known_ts)) + 60)
"""


@register("p26_incremental_gate", _P26_ORACLE)
def p26_incremental_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("timestamp"))
        .otherwise(
            F.timestamp_add("SECOND", (F.col("o_orderkey") % 180).cast("int"), F.col("o_orderdate"))
        )
        .alias("src_ts"),
    )
    known = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k_orderkey"), F.col("o_orderdate").alias("known_ts")
    )
    joined = src.join(known, src.o_orderkey == known.k_orderkey, "left")
    needs = F.col("known_ts").isNull() | (
        F.col("src_ts").isNotNull()
        & (F.unix_timestamp("src_ts") > F.unix_timestamp("known_ts") + 60)
    )
    return joined.filter(needs).select("o_orderkey")
