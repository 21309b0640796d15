"""Portable HyperLogLog: a cardinality sketch whose ESTIMATE is
bit-reproducible across engines — unlike the built-in
``approx_count_distinct`` (HLL++ with engine-private hashing, whose
estimates can never be oracle-checked), every step here is deterministic
integer/decimal arithmetic shared with the DuckDB oracle generator:

* hash: the engine-wide sha256-derived 60-bit ``portable_hash60``;
* register = hash % m, suffix = hash / m (54 bits);
* rank = 1 + count-trailing-zeros(suffix) via the exact power-of-two
  identity ``lowbit = suffix & -suffix`` mapped through a generated CASE
  (suffix 0 ⇒ max rank) — no floating log anywhere;
* per-register max rank, empty registers rank 0 (the classic zero
  register) via a dense 0..m-1 spine;
* the harmonic sum uses EXACT DECIMAL(38,18) literals (2^-rank quantized
  once in Python and emitted into both engines) — float summation order
  can differ between engines, decimal addition cannot;
* estimate = alpha_m * m^2 / sum as the only double op, rounded.

With m=64 the standard error is ~1.04/sqrt(64) ≈ 13% — the point is not
precision, it is a CHECKABLE sketch: the dd2/ss recall curves calibrate
accuracy, the oracle pins the arithmetic. At 100 TB the register array
(m rows after one partial-agg shuffle) is bytes — merging shards =
elementwise max, expressible as the same groupBy.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_stack_spark.operators.text import portable_hash60

M_REGISTERS = 64
_SUFFIX_BITS = 54  # 60-bit hash minus log2(m)=6 register bits
MAX_RANK = _SUFFIX_BITS + 1  # suffix == 0
# alpha for m=64 (Flajolet et al.): 0.7213 / (1 + 1.079/m)
ALPHA = 0.7213 / (1 + 1.079 / M_REGISTERS)

# 2^-rank as exact decimal-literal strings, quantized to scale 18 ONCE so
# both engines add identical decimals (rank 0 = empty register = 1.0)
_CONTRIB = {
    r: str((Decimal(2) ** -r).quantize(Decimal("1e-18")))
    for r in range(0, MAX_RANK + 1)
}


def _rank_expr(suffix: Column) -> Column:
    """1 + trailing zeros of suffix; suffix 0 ⇒ MAX_RANK. ``suffix &
    -suffix`` isolates the lowest set bit exactly; the CASE maps the
    power of two to its index."""
    lowbit = suffix.bitwiseAND(-suffix)
    out = F.lit(MAX_RANK)
    for j in range(_SUFFIX_BITS - 1, -1, -1):
        out = F.when(lowbit == F.lit(1 << j), F.lit(j + 1)).otherwise(out)
    return out


def hll_sketch(df: DataFrame, key: Column) -> DataFrame:
    """(register, max_rank) — m rows after one partial-agg shuffle.
    Shard sketches merge by the same groupBy-max."""
    h = portable_hash60(key)
    reg = (h % M_REGISTERS).alias("register")
    rank = _rank_expr(F.shiftright(h, 6)).alias("rank")  # h >> log2(m), exact
    return df.select(reg, rank).groupBy("register").agg(F.max("rank").alias("max_rank"))


def _contrib_expr() -> Column:
    """2^-rank as an exact decimal CASE over the ``rank`` column."""
    out = F.lit(_CONTRIB[0]).cast("decimal(38,18)")
    for r in range(MAX_RANK, 0, -1):
        out = F.when(F.col("rank") == r, F.lit(_CONTRIB[r]).cast("decimal(38,18)")).otherwise(out)
    return out


def _estimate_expr() -> Column:
    """alpha_m * m^2 / harmonic-sum ``s`` — the only double op, rounded."""
    return F.round(
        F.lit(ALPHA) * F.lit(M_REGISTERS) * F.lit(M_REGISTERS) / F.col("s").cast("double"), 4
    )


def hll_estimate(sketch: DataFrame) -> DataFrame:
    """One row: (est_distinct,) — raw HLL harmonic estimate, no
    small/large-range corrections (they need ln(), whose last-ulp
    behavior differs across libm builds; the oracle contract beats the
    marginal accuracy). Empty registers enter the sum as 2^0 = 1.
    ALWAYS one row, even for a 0-row sketch (empty input): the spine is
    unconditional — delegating to the grouped form would derive groups
    from the sketch and return zero rows. The arithmetic (contrib CASE,
    estimate expr) is shared with the grouped form."""
    spark = sketch.sparkSession
    spine = spark.range(M_REGISTERS).select(F.col("id").alias("register"))
    dense = spine.join(F.broadcast(sketch), "register", "left").select(
        F.coalesce("max_rank", F.lit(0)).alias("rank")
    )
    harmonic = dense.agg(F.sum(_contrib_expr()).alias("s"))
    return harmonic.select(_estimate_expr().alias("est_distinct"))


def hll_sketch_grouped(df: DataFrame, group_col: str, key: Column) -> DataFrame:
    """(group, register, max_rank) — the per-KEY sketch family ("distinct
    users per day/event type"), m rows per group after ONE partial-agg
    shuffle on (group, register). Shards/late data merge by re-running
    the same groupBy-max — the mergeability that makes this the 100 TB
    shape where countDistinct per group would need a full re-shuffle of
    raw keys per refresh."""
    h = portable_hash60(key)
    return (
        df.select(
            F.col(group_col),
            (h % M_REGISTERS).alias("register"),
            _rank_expr(F.shiftright(h, 6)).alias("rank"),
        )
        .groupBy(group_col, "register")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_estimate_grouped(sketch: DataFrame, group_col: str) -> DataFrame:
    """(group, est_distinct) — the hll_estimate arithmetic applied per
    group over a (groups × m) dense spine. The spine is group-cardinality
    × 64 rows: broadcast-sized by construction for any real grouping
    column."""
    groups = sketch.select(group_col).distinct()
    spine = groups.crossJoin(
        F.broadcast(
            sketch.sparkSession.range(M_REGISTERS).select(F.col("id").alias("register"))
        )
    )
    dense = spine.join(F.broadcast(sketch), [group_col, "register"], "left").select(
        F.col(group_col), F.coalesce("max_rank", F.lit(0)).alias("rank")
    )
    harmonic = dense.groupBy(group_col).agg(F.sum(_contrib_expr()).alias("s"))
    return harmonic.select(F.col(group_col), _estimate_expr().alias("est_distinct"))


def _lowbit_cases_sql() -> str:
    return " ".join(f"WHEN {1 << j} THEN {j + 1}" for j in range(_SUFFIX_BITS))


def _contrib_cases_sql() -> str:
    return " ".join(
        f"WHEN {r} THEN CAST('{_CONTRIB[r]}' AS DECIMAL(38,18))"
        for r in range(1, MAX_RANK + 1)
    )


def hll_grouped_oracle_sql(group_sql: str, key_sql: str, from_sql: str) -> str:
    """DuckDB rendering of the identical grouped sketch + estimate."""
    lowbit_cases = _lowbit_cases_sql()
    contrib_cases = _contrib_cases_sql()
    h = f"(('0x' || substr(sha256({key_sql}), 1, 15))::BIGINT)"
    return f"""
WITH hashed AS (
  SELECT {group_sql} AS grp,
         {h} % {M_REGISTERS} AS register,
         {h} >> 6 AS suffix
  {from_sql}
),
ranked AS (
  SELECT grp, register,
         CASE WHEN suffix = 0 THEN {MAX_RANK}
              ELSE CASE suffix & -suffix {lowbit_cases} ELSE {MAX_RANK} END
         END AS rank
  FROM hashed
),
sketch AS MATERIALIZED (
  SELECT grp, register, MAX(rank) AS max_rank FROM ranked GROUP BY grp, register
),
dense AS (
  SELECT g.grp, coalesce(s.max_rank, 0) AS rank
  FROM (SELECT DISTINCT grp FROM sketch) g
  CROSS JOIN range({M_REGISTERS}) r(register)
  LEFT JOIN sketch s ON s.grp = g.grp AND s.register = r.register
),
s AS (
  SELECT grp,
         SUM(CASE rank {contrib_cases}
             ELSE CAST('{_CONTRIB[0]}' AS DECIMAL(38,18)) END) AS s
  FROM dense GROUP BY grp
)
SELECT grp, round(CAST({ALPHA!r} AS DOUBLE) * {M_REGISTERS} * {M_REGISTERS}
                  / CAST(s AS DOUBLE), 4) AS est_distinct
FROM s
"""


def hll_oracle_sql(key_sql: str, from_sql: str) -> str:
    """DuckDB rendering of the identical sketch + estimate. The dense
    spine is unconditional range(m) (one row out even on empty input —
    the grouped rendering derives its groups from the data and would
    return zero rows); the generated CASE chains are shared with the
    grouped form."""
    lowbit_cases = _lowbit_cases_sql()
    contrib_cases = _contrib_cases_sql()
    h = f"(('0x' || substr(sha256({key_sql}), 1, 15))::BIGINT)"
    return f"""
WITH hashed AS (
  SELECT {h} % {M_REGISTERS} AS register,
         {h} >> 6 AS suffix
  {from_sql}
),
ranked AS (
  SELECT register,
         CASE WHEN suffix = 0 THEN {MAX_RANK}
              ELSE CASE suffix & -suffix {lowbit_cases} ELSE {MAX_RANK} END
         END AS rank
  FROM hashed
),
sketch AS (SELECT register, MAX(rank) AS max_rank FROM ranked GROUP BY register),
dense AS (
  SELECT coalesce(max_rank, 0) AS rank
  FROM range({M_REGISTERS}) r(register) LEFT JOIN sketch USING (register)
),
s AS (
  SELECT SUM(CASE rank {contrib_cases}
             ELSE CAST('{_CONTRIB[0]}' AS DECIMAL(38,18)) END) AS s
  FROM dense
)
SELECT round(CAST({ALPHA!r} AS DOUBLE) * {M_REGISTERS} * {M_REGISTERS}
             / CAST(s AS DOUBLE), 4) AS est_distinct
FROM s
"""


# ---------------------------------------------------------------------------
# Portable Bloom filter — the runtime join-pruning primitive (Spark's own
# InSubqueryExec/bloom runtime filters are engine-private; this one is
# cross-engine-exact so the pruning decision itself is oracle-checkable).
# The "bitmap" is a TABLE of set bit positions (≤ m rows): at scale it
# broadcasts to the probe side and the membership test is an equi-join —
# the same mechanics Spark uses for dynamic partition pruning.
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 16  # m
BLOOM_HASHES = 4  # k


def _bloom_position(key: Column, i: int) -> Column:
    from etl_stack_spark.operators.text import portable_hash60 as _h60

    return _h60(F.concat(key, F.lit(f"#bloom{i}"))) % BLOOM_BITS


def bloom_build(df: DataFrame, key: Column) -> DataFrame:
    """Distinct set bit positions (one column ``pos``) for the key set —
    ≤ m rows regardless of input size; shard blooms merge by UNION."""
    pos = [df.select(_bloom_position(key, i).alias("pos")) for i in range(BLOOM_HASHES)]
    out = pos[0]
    for p in pos[1:]:
        out = out.union(p)
    return out.distinct()


def bloom_probe(df: DataFrame, key: Column, bloom: DataFrame) -> DataFrame:
    """Input rows that PASS the bloom (all k positions set) — a superset
    of the true members, never a miss. ``bloom`` is broadcast."""
    probed = df.withColumn("_bloom_key", key)
    for i in range(BLOOM_HASHES):
        probed = probed.withColumn(f"_p{i}", _bloom_position(F.col("_bloom_key"), i))
    b = F.broadcast(bloom)
    for i in range(BLOOM_HASHES):
        probed = (
            probed.join(b.withColumnRenamed("pos", f"_p{i}"), f"_p{i}", "left_semi")
        )
    return probed.drop("_bloom_key", *[f"_p{i}" for i in range(BLOOM_HASHES)])


def bloom_oracle_cte(key_sql: str, from_sql: str) -> str:
    """DuckDB CTE body producing the same distinct position set as
    ``bloom_build`` (name it in the caller's WITH clause)."""
    h = "(('0x' || substr(sha256({expr}), 1, 15))::BIGINT)"
    selects = " UNION ".join(
        "SELECT " + h.format(expr=f"{key_sql} || '#bloom{i}'") + f" % {BLOOM_BITS} AS pos {from_sql}"
        for i in range(BLOOM_HASHES)
    )
    return selects


def bloom_probe_oracle_pred(key_sql: str, bloom_cte: str) -> str:
    """DuckDB predicate: all k positions of ``key_sql`` present in the
    named bloom CTE."""
    h = "(('0x' || substr(sha256({expr}), 1, 15))::BIGINT)"
    return " AND ".join(
        h.format(expr=f"{key_sql} || '#bloom{i}'") + f" % {BLOOM_BITS} IN (SELECT pos FROM {bloom_cte})"
        for i in range(BLOOM_HASHES)
    )


# ---------------------------------------------------------------------------
# Portable count-min sketch — frequency estimation over a keyed stream
# with the same cross-engine-exact discipline: d rows of w counters,
# stored as a (row, col, cnt) TABLE (≤ d × distinct-keys entries, ≤ d × w
# bounded); point estimate = MIN over the d counters a key hashes to.
# Merging shards = same groupBy-sum. Overestimates only, never under.
# ---------------------------------------------------------------------------

CM_DEPTH = 4  # d — independent hash rows
CM_WIDTH = 8192  # w — counters per row


def _cm_col(key: Column, row: int) -> Column:
    from etl_stack_spark.operators.text import portable_hash60 as _h60

    return _h60(F.concat(key, F.lit(f"#cm{row}"))) % CM_WIDTH


def cm_build(df: DataFrame, key: Column) -> DataFrame:
    """(row, col, cnt) counter table for the keyed stream."""
    parts = [
        df.select(F.lit(r).alias("row"), _cm_col(key, r).alias("col"))
        for r in range(CM_DEPTH)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out.groupBy("row", "col").agg(F.count(F.lit(1)).alias("cnt"))


def cm_estimate(queries: DataFrame, key: Column, sketch: DataFrame) -> DataFrame:
    """Input rows + ``cm_est`` = min over the d counters (0 when a row's
    counter is absent — the key was never seen). ``sketch`` broadcasts."""
    q = queries.withColumn("_cm_key", key)
    b = F.broadcast(sketch)
    for r in range(CM_DEPTH):
        side = b.filter(F.col("row") == r).select(
            F.col("col").alias(f"_c{r}"), F.col("cnt").alias(f"_cnt{r}")
        )
        q = q.withColumn(f"_c{r}", _cm_col(F.col("_cm_key"), r)).join(
            F.broadcast(side), f"_c{r}", "left"
        )
    est = F.least(*[F.coalesce(F.col(f"_cnt{r}"), F.lit(0)) for r in range(CM_DEPTH)])
    drop = ["_cm_key"] + [f"_c{r}" for r in range(CM_DEPTH)] + [
        f"_cnt{r}" for r in range(CM_DEPTH)
    ]
    return q.withColumn("cm_est", est).drop(*drop)


def cm_oracle_sql(key_sql: str, from_sql: str, query_key_sql: str, query_from_sql: str) -> str:
    """DuckDB rendering: counter table CTE + per-query-row min estimate."""
    h = "(('0x' || substr(sha256({expr}), 1, 15))::BIGINT)"
    build = " UNION ALL ".join(
        f"SELECT {r} AS row, " + h.format(expr=f"{key_sql} || '#cm{r}'") + f" % {CM_WIDTH} AS col {from_sql}"
        for r in range(CM_DEPTH)
    )
    # the least() expression: one scalar-subquery counter lookup per row
    lookups = [
        "coalesce((SELECT cnt FROM cm WHERE row = "
        + str(r)
        + " AND col = "
        + h.format(expr=f"{query_key_sql} || '#cm{r}'")
        + f" % {CM_WIDTH}), 0)"
        for r in range(CM_DEPTH)
    ]
    return f"""
WITH raw AS ({build}),
cm AS MATERIALIZED (SELECT row, col, CAST(COUNT(*) AS BIGINT) AS cnt FROM raw GROUP BY row, col)
SELECT *, least({", ".join(lookups)}) AS cm_est
{query_from_sql}
"""


# ---------------------------------------------------------------------------
# Portable KMV (k-minimum-values / bottom-k theta) sketch — distinct-count
# SET ALGEBRA, the capability HLL structurally lacks: two KMV sketches
# support union (merge hash lists, keep k smallest — itself a valid KMV)
# and intersection (inclusion-exclusion over the three estimates), so
# "distinct users who did A AND B" never needs a full distinct shuffle of
# either side. The sketch is a TABLE of ≤ k hash values: building it is a
# TakeOrdered (per-partition bottom-k, never a global sort), merging
# shards is union + bottom-k again, and at 100 TB the k rows broadcast
# anywhere. Deterministic by construction (the engine-wide
# portable_hash60, no RNG), so estimates are bit-identical cross-engine:
# est = floor((k-1) * 2^60 / theta) with theta = the k-th smallest hash —
# both the product (63 * 2^60: 6-bit mantissa times a power of two) and
# the correctly-rounded IEEE division are exact in any engine. Below k
# distinct values the sketch IS the set and the estimate is exact.
# ---------------------------------------------------------------------------

KMV_K = 64
_HASH_SPAN_DOUBLE = "CAST(1152921504606846976 AS DOUBLE)"  # 2^60, exact


def kmv_sketch(df: DataFrame, key: Column, k: int = KMV_K) -> DataFrame:
    """The k smallest distinct ``portable_hash60(key)`` values — one
    column ``h``. Plan shape: distinct (one shuffle of hashes, not
    rows) then TakeOrdered. NULL keys are excluded (COUNT DISTINCT
    semantics) — also a cross-engine necessity: Spark's ascending sort
    puts NULL first, DuckDB's puts it last, so a NULL hash would evict
    the true k-th smallest on one engine only."""
    return (
        df.select(portable_hash60(key).alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """Union sketch: merged hash lists, k smallest kept — a valid KMV
    sketch of the UNION of the underlying sets (also the shard-merge
    operation)."""
    return a.union(b).distinct().orderBy("h").limit(k)


def kmv_estimate(sketch: DataFrame, k: int = KMV_K) -> DataFrame:
    """One row (est_distinct BIGINT). Exact when the set had < k
    distinct values (the sketch is the whole set); otherwise the
    classic (k-1)/theta estimator in exact-IEEE double."""
    agg = sketch.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.max("h").alias("theta")
    )
    est = F.when(F.col("n") < k, F.col("n")).otherwise(
        F.floor(
            F.expr(f"CAST({k - 1} AS DOUBLE) * {_HASH_SPAN_DOUBLE} / CAST(theta AS DOUBLE)")
        ).cast("long")
    )
    return agg.select(est.alias("est_distinct"))


def kmv_sketch_oracle_sql(key_sql: str, from_sql: str, k: int = KMV_K) -> str:
    """DuckDB CTE body producing the identical ≤k-row hash table
    (NULL keys excluded, matching kmv_sketch)."""
    h = f"(('0x' || substr(sha256({key_sql}), 1, 15))::BIGINT)"
    return (
        f"SELECT h FROM (SELECT DISTINCT {h} AS h {from_sql}) "
        f"WHERE h IS NOT NULL ORDER BY h LIMIT {k}"
    )


def kmv_estimate_oracle_sql(sketch_cte: str, k: int = KMV_K) -> str:
    """DuckDB scalar select of the identical estimate over a named
    sketch CTE."""
    return (
        f"SELECT CASE WHEN COUNT(*) < {k} THEN COUNT(*) "
        f"ELSE CAST(floor(CAST({k - 1} AS DOUBLE) * {_HASH_SPAN_DOUBLE} "
        f"/ CAST(MAX(h) AS DOUBLE)) AS BIGINT) END AS est_distinct "
        f"FROM {sketch_cte}"
    )


# ---------------------------------------------------------------------------
# Bottom-k quantile sketch: a deterministic uniform sample (the k rows
# with the smallest portable_hash60 per group) from which any quantile
# reads off as the ceil(q*m)-th smallest sampled value. Same philosophy
# as the HLL above — the built-in approx_percentile (GK) has
# engine-private internals that can never be oracle-checked, while the
# bottom-k selection is pure deterministic arithmetic both engines
# reproduce bit-for-bit; accuracy is calibrated by tests (rank error
# ~ sqrt(q(1-q)/k), ≈3% at the median for k=256), the oracle pins the
# arithmetic. Mergeable: shard sketches union then re-take bottom-k —
# the bottom-k of a union IS the union's bottom-k, so shards compose
# associatively (the KMV property, carried to (hash, value) pairs).
# At 100 TB: the per-group sketch is ≤k rows after one partial
# WindowGroupLimit pass (Catalyst inserts the per-partition limit
# before the shuffle for a LITERAL k — the rank.py t1 plan shape), so
# the shuffle carries ≤ k·partitions rows, never the data.
# ---------------------------------------------------------------------------

QSK_K = 256


def quantile_sketch(
    df: DataFrame,
    key: Column,
    value: Column,
    group_cols: tuple[str, ...] = (),
    k: int = QSK_K,
) -> DataFrame:
    """≤k (h, v) rows per group: the k smallest hashes and their values.
    NULL keys/values are excluded (NULL sorts first in Spark but last in
    DuckDB — a NULL would evict the true k-th on one engine only, the
    kmv_sketch rule)."""
    from pyspark.sql import Window

    base = df.select(
        *group_cols, portable_hash60(key).alias("h"), value.alias("v")
    ).filter(F.col("h").isNotNull() & F.col("v").isNotNull())
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col("h").asc(), F.col("v").asc()
    )
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(k))
        .drop("_rn")
    )


def quantile_sketch_merge(
    a: DataFrame, b: DataFrame, group_cols: tuple[str, ...] = (), k: int = QSK_K
) -> DataFrame:
    """Shard composition: union, re-take bottom-k per group. Equal to
    sketching the concatenated input (pinned by unit test)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col("h").asc(), F.col("v").asc()
    )
    return (
        a.unionByName(b)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(k))
        .drop("_rn")
    )


def quantile_estimate(
    sketch: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quantiles from the sketch: the ceil(q*m)-th smallest sampled value
    (1-based, percentile_disc semantics over the sample). The per-group
    array is ≤k elements — driver-safe by construction."""
    agg = sketch.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list("v")).alias("_vals")
    )
    m = F.size("_vals")
    cols: list[Column] = [F.col(c) for c in group_cols] + [
        m.cast("long").alias("n_sample")
    ]
    for q in qs:
        idx = F.ceil(F.lit(q) * m).cast("int")
        cols.append(
            F.round(F.element_at("_vals", idx), 6).alias(f"p{int(round(q * 100)):02d}")
        )
    return agg.select(*cols)


def quantile_sketch_oracle_cte(
    group_sql: str, key_sql: str, value_sql: str, from_sql: str, k: int = QSK_K
) -> str:
    """DuckDB CTE body producing the identical ≤k-row (group, v) sample."""
    h = f"(('0x' || substr(sha256({key_sql}), 1, 15))::BIGINT)"
    return (
        f"SELECT {group_sql} AS grp, v FROM ("
        f"SELECT {group_sql}, {h} AS h, {value_sql} AS v, "
        f"row_number() OVER (PARTITION BY {group_sql} ORDER BY {h} ASC, {value_sql} ASC) AS rn "
        f"{from_sql} WHERE {h} IS NOT NULL AND {value_sql} IS NOT NULL"
        f") WHERE rn <= {k}"
    )
