"""HLL1 — the portable HyperLogLog over lineitem order keys, estimate
AND ground truth in one row, oracle-exact (see operators/sketch.py for
why the built-in approx_count_distinct can never be oracle-checked and
this one can)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.sketch import (
    hll_estimate,
    hll_oracle_sql,
    hll_sketch,
    quantile_estimate,
    quantile_sketch,
    quantile_sketch_oracle_cte,
)
from etl_stack_spark.queries import register
from etl_stack_spark.session import load_table

_HLL1_ORACLE = f"""
WITH est AS ({hll_oracle_sql("CAST(l_orderkey AS VARCHAR)", "FROM lineitem")}),
tru AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS true_distinct FROM lineitem)
SELECT est_distinct, true_distinct,
       round(abs(est_distinct - true_distinct) / true_distinct, 4) AS rel_err
FROM est, tru
"""


@register("hll1_portable_distinct", _HLL1_ORACLE)
def hll1_portable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    est = hll_estimate(hll_sketch(li, F.col("l_orderkey").cast("string")))
    tru = li.agg(F.count_distinct("l_orderkey").alias("true_distinct"))
    return est.crossJoin(F.broadcast(tru)).select(
        "est_distinct",
        "true_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("true_distinct"))
            / F.col("true_distinct"),
            4,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# BF1 — portable Bloom join-pruning: build over big-spender custkeys,
# probe the customer table, report pass/true/false-positive counts.
# ---------------------------------------------------------------------------
from etl_stack_spark.operators.sketch import (  # noqa: E402
    bloom_build,
    bloom_oracle_cte,
    bloom_probe,
    bloom_probe_oracle_pred,
)

_BF1_ORACLE = f"""
WITH bloom AS MATERIALIZED (
  {bloom_oracle_cte("CAST(o_custkey AS VARCHAR)",
                    "FROM orders WHERE o_totalprice > 400000")}
),
pass AS MATERIALIZED (
  SELECT c_custkey FROM customer
  WHERE {bloom_probe_oracle_pred("CAST(c_custkey AS VARCHAR)", "bloom")}
),
tru AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
)
SELECT CAST((SELECT COUNT(*) FROM pass) AS BIGINT) AS n_bloom_pass,
       CAST((SELECT COUNT(*) FROM tru) AS BIGINT) AS n_true_members,
       CAST((SELECT COUNT(*) FROM pass) - (SELECT COUNT(*) FROM tru) AS BIGINT)
         AS n_false_positive
"""


@register("bf1_bloom_prune", _BF1_ORACLE)
def bf1_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    bloom = bloom_build(orders, F.col("o_custkey").cast("string"))
    cust = load_table(spark, sf_dir, "customer")
    passed = bloom_probe(cust, F.col("c_custkey").cast("string"), bloom)
    n_pass = passed.agg(F.count(F.lit(1)).alias("n_bloom_pass"))
    n_true = orders.select("o_custkey").distinct().agg(
        F.count(F.lit(1)).alias("n_true_members")
    )
    return (
        n_pass.crossJoin(F.broadcast(n_true))
        .select(
            "n_bloom_pass",
            "n_true_members",
            (F.col("n_bloom_pass") - F.col("n_true_members")).alias("n_false_positive"),
        )
    )


# ---------------------------------------------------------------------------
# CM1 — portable count-min: per-customer order-count estimates for a
# deterministic probe set, alongside the true counts (estimates can only
# overcount; both engines agree exactly).
# ---------------------------------------------------------------------------
from etl_stack_spark.operators.sketch import cm_build, cm_estimate, cm_oracle_sql  # noqa: E402

_CM1_ORACLE = cm_oracle_sql(
    key_sql="CAST(o_custkey AS VARCHAR)",
    from_sql="FROM orders",
    query_key_sql="CAST(c_custkey AS VARCHAR)",
    query_from_sql="""FROM (
  SELECT c.c_custkey, CAST(coalesce(t.true_cnt, 0) AS BIGINT) AS true_cnt
  FROM customer c
  LEFT JOIN (SELECT o_custkey, COUNT(*) AS true_cnt FROM orders GROUP BY o_custkey) t
    ON t.o_custkey = c.c_custkey
  WHERE c.c_custkey % 100 = 0
)""",
)


@register("cm1_countmin_freq", _CM1_ORACLE)
def cm1_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sketch = cm_build(orders, F.col("o_custkey").cast("string"))
    # true counts are only read for probe keys (c_custkey % 100 = 0), so
    # filter orders to those keys BEFORE the groupBy: per-key counts are
    # untouched by dropping other keys, the count shuffle carries 1% of
    # the fact table, and the broadcast below is size-safe at scale
    # (the sketch build above still consumes every order row — that is
    # the sketch's job).
    true_cnt = (
        orders.filter(F.col("o_custkey") % 100 == 0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    probe = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 == 0)
        .select("c_custkey")
        .join(F.broadcast(true_cnt), F.col("c_custkey") == F.col("o_custkey"), "left")
        .select("c_custkey", F.coalesce("true_cnt", F.lit(0)).alias("true_cnt"))
    )
    return cm_estimate(probe, F.col("c_custkey").cast("string"), sketch).select(
        "c_custkey", "true_cnt", "cm_est"
    )


# ---------------------------------------------------------------------------
# HLL2 — grouped portable HLL: estimated distinct users per event_type,
# side-by-side with the exact count and relative error. The per-group
# sketch (m rows per group after one partial-agg shuffle) is the 100 TB
# refresh shape — see operators/sketch.py.
# ---------------------------------------------------------------------------
from etl_stack_spark.operators.sketch import (  # noqa: E402
    hll_estimate_grouped,
    hll_grouped_oracle_sql,
    hll_sketch_grouped,
)

_HLL2_ORACLE = f"""
WITH est AS ({hll_grouped_oracle_sql(
    "event_type", "CAST(user_id AS VARCHAR)", "FROM events"
)}),
tru AS (
  SELECT event_type AS grp,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
  FROM events GROUP BY event_type
)
SELECT est.grp AS event_type, est.est_distinct, tru.true_distinct,
       round(abs(est.est_distinct - tru.true_distinct) / tru.true_distinct, 4)
         AS rel_err
FROM est JOIN tru ON est.grp = tru.grp
"""


@register("hll2_grouped_distinct", _HLL2_ORACLE)
def hll2_grouped_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = hll_sketch_grouped(ev, "event_type", F.col("user_id").cast("string"))
    est = hll_estimate_grouped(sk, "event_type")
    tru = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("true_distinct")
    )
    return est.join(F.broadcast(tru), "event_type").select(
        "event_type",
        "est_distinct",
        "true_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("true_distinct"))
            / F.col("true_distinct"),
            4,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# KMV1 — distinct-count SET ALGEBRA via the portable KMV/theta sketch:
# estimated |A|, |B|, |A∪B| (a valid KMV merge) and |A∩B|
# (inclusion-exclusion), with the exact intersection alongside — the
# "users active on A and B days" question HLL cannot answer without a
# full distinct shuffle. Sets are (user, day) activity keys with the
# day as a pure integer epoch-us DIV (never a timezone-dependent date
# cast). At 100 TB each sketch build is one hash-distinct + TakeOrdered
# and the sketches would be persisted once and reused; here the ≤k-row
# sketch tables simply recompute per consumer.
# ---------------------------------------------------------------------------
from etl_stack_spark.operators.sketch import (  # noqa: E402
    KMV_K,
    kmv_estimate,
    kmv_estimate_oracle_sql,
    kmv_merge,
    kmv_sketch,
    kmv_sketch_oracle_sql,
)

_KMV1_KEY_SQL = (
    "CAST(user_id AS VARCHAR) || '#' || CAST(epoch_us(ts) // 86400000000 AS VARCHAR)"
)

_KMV1_ORACLE = f"""
WITH ka AS MATERIALIZED ({kmv_sketch_oracle_sql(_KMV1_KEY_SQL, "FROM events WHERE event_type = 'click'")}),
kb AS MATERIALIZED ({kmv_sketch_oracle_sql(_KMV1_KEY_SQL, "FROM events WHERE event_type = 'purchase'")}),
ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT {KMV_K}),
ea AS ({kmv_estimate_oracle_sql("ka")}),
eb AS ({kmv_estimate_oracle_sql("kb")}),
eu AS ({kmv_estimate_oracle_sql("ku")}),
ti AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS true_intersect FROM (
    SELECT DISTINCT {_KMV1_KEY_SQL} AS k FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT {_KMV1_KEY_SQL} AS k FROM events WHERE event_type = 'purchase'
  )
)
SELECT ea.est_distinct AS est_a, eb.est_distinct AS est_b,
       eu.est_distinct AS est_union,
       greatest(0, ea.est_distinct + eb.est_distinct - eu.est_distinct) AS est_intersect,
       true_intersect
FROM ea, eb, eu, ti
"""


@register("kmv1_distinct_set_algebra", _KMV1_ORACLE)
def kmv1_distinct_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) DIV 86400000000")
    keyed = events.select(
        "event_type",
        F.concat(
            F.col("user_id").cast("string"), F.lit("#"), day.cast("string")
        ).alias("k"),
    )
    clicks = keyed.filter(F.col("event_type") == "click")
    purch = keyed.filter(F.col("event_type") == "purchase")
    ka = kmv_sketch(clicks, F.col("k"))
    kb = kmv_sketch(purch, F.col("k"))
    est_a = kmv_estimate(ka).select(F.col("est_distinct").alias("est_a"))
    est_b = kmv_estimate(kb).select(F.col("est_distinct").alias("est_b"))
    est_u = kmv_estimate(kmv_merge(ka, kb)).select(
        F.col("est_distinct").alias("est_union")
    )
    ti = (
        clicks.select("k")
        .distinct()
        .intersect(purch.select("k").distinct())
        .agg(F.count(F.lit(1)).cast("long").alias("true_intersect"))
    )
    return (
        est_a.crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .crossJoin(F.broadcast(ti))
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.greatest(
                F.lit(0).cast("long"),
                (F.col("est_a") + F.col("est_b") - F.col("est_union")).cast("long"),
            ).alias("est_intersect"),
            "true_intersect",
        )
    )


# ---------------------------------------------------------------------------
# QSK1 — bottom-k quantile sketch per event_type: p50/p90/p99 of value
# from the deterministic k=256 hash-sample, with exact n_rows alongside
# so the sample ratio is visible. The sketch arithmetic is oracle-exact;
# accuracy vs true quantiles is pinned in tests/test_sketch.py (rank
# error ~ sqrt(q(1-q)/k)).
# ---------------------------------------------------------------------------

_QSK1_ORACLE = f"""
WITH s AS ({quantile_sketch_oracle_cte(
    "event_type", "CAST(event_id AS VARCHAR)", "value", "FROM events")}),
samp AS (
  SELECT grp AS event_type, list_sort(list(v)) AS vals,
         CAST(COUNT(*) AS BIGINT) AS n_sample
  FROM s GROUP BY 1
),
tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows FROM events GROUP BY 1)
SELECT tot.event_type, n_rows, n_sample,
  round(vals[CAST(ceil(0.5 * n_sample) AS BIGINT)], 6) AS p50,
  round(vals[CAST(ceil(0.9 * n_sample) AS BIGINT)], 6) AS p90,
  round(vals[CAST(ceil(0.99 * n_sample) AS BIGINT)], 6) AS p99
FROM tot JOIN samp USING (event_type)
"""


@register("qsk1_quantile_sketch", _QSK1_ORACLE)
def qsk1_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = quantile_sketch(
        ev,
        key=F.col("event_id").cast("string"),
        value=F.col("value"),
        group_cols=("event_type",),
    )
    est = quantile_estimate(sk, qs=(0.5, 0.9, 0.99), group_cols=("event_type",))
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    # both sides are group-cardinality (a handful of rows) — broadcast
    return tot.join(F.broadcast(est), "event_type").select(
        "event_type", "n_rows", "n_sample", "p50", "p90", "p99"
    )
