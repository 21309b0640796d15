"""Training-data sampling + blocked fuzzy join + IVF ANN variant.

- Hash sampling: ``portable_hash60(key) % 100 < rate`` — deterministic,
  reproducible across runs/engines (never ``rand()`` in a data pipeline
  that must be auditable), and stable under repartitioning.
- Stratified sampling: fixed quota per stratum via ranked window.
- Blocked fuzzy join: first-token blocking then levenshtein refine — the
  scale shape for P17-style matching (block ≈ O(n), never n²).
- IVF-style ANN: coarse partition (here the corpus' cluster label) limits
  candidates; exact cosine re-rank inside the cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_stack_spark.operators.text import portable_hash60
from etl_stack_spark.queries import register
from etl_stack_spark.queries.text_dedup import _TOKS
from etl_stack_spark.session import load_table

# ---------------------------------------------------------------------------
# SP1 — deterministic 10% hash sample of documents
# ---------------------------------------------------------------------------
_SP1_ORACLE = """
SELECT doc_id FROM documents
WHERE (('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 100 < 10
"""


@register("sp1_hash_sample", _SP1_ORACLE)
def sp1_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = portable_hash60(F.col("doc_id").cast("string")) % 100
    return docs.filter(bucket < 10).select("doc_id")


# ---------------------------------------------------------------------------
# SP2 — stratified sample: 20 docs per language, deterministic rank order
# ---------------------------------------------------------------------------
_SP2_ORACLE = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, ROW_NUMBER() OVER (
    PARTITION BY lang
    ORDER BY ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id
  ) AS rn
  FROM documents
) WHERE rn <= 20
"""


@register("sp2_stratified_sample", _SP2_ORACLE)
def sp2_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash60(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# SP4 — weighted sampling without replacement (priority sampling,
# Duffield/Lund/Thorup): key = hash/weight, keep the k smallest keys —
# longer documents are proportionally likelier to be drawn, yet the
# draw is deterministic, engine-portable, and repartition-stable
# (everything sp1 demands, plus weights). Integer-exact: priority is
# BIGINT floor division of the 60-bit hash by the weight; the k-smallest
# slice is a TakeOrdered (never a global sort).
# ---------------------------------------------------------------------------
_SP4_ORACLE = """
SELECT doc_id, n_chars,
  CAST((('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
       // greatest(n_chars, 1) AS BIGINT) AS priority
FROM documents
ORDER BY priority, doc_id
LIMIT 50
"""


@register("sp4_weighted_sample", _SP4_ORACLE)
def sp4_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # one hash definition engine-wide: build on portable_hash60, don't
    # re-type its sha2/conv expansion here
    h = portable_hash60(F.col("doc_id").cast("string"))
    return (
        docs.select("doc_id", "n_chars", h.cast("long").alias("_h"))
        .select(
            "doc_id",
            "n_chars",
            F.expr("_h DIV greatest(n_chars, 1L)").cast("long").alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# SP3 — domain-mixture sampling to target token shares
# ---------------------------------------------------------------------------
_TOP_SOURCES = ("src0", "src1", "src2", "src3", "src4")
_SP3_SHARE_SQL = (
    "CASE WHEN source IN ('" + "','".join(_TOP_SOURCES) + "') THEN 1e-1 ELSE 0.5/15 END"
)

_SP3_ORACLE = f"""
WITH tok AS MATERIALIZED (SELECT source, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents),
dt AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS d_tokens FROM tok GROUP BY source),
sh AS MATERIALIZED (SELECT source, d_tokens, {_SP3_SHARE_SQL} AS share FROM dt),
sc AS (SELECT MIN(d_tokens / share) AS scale FROM sh),
rates AS (
  SELECT source, least(1e0, (SELECT scale FROM sc) * share / d_tokens) AS rate FROM sh
),
kept AS (
  SELECT t.source, t.doc_id, t.n_tok, r.rate
  FROM tok t JOIN rates r USING (source)
  WHERE (('0x' || substr(sha256(t.doc_id::VARCHAR), 1, 15))::BIGINT % 1000000)
        < r.rate * 1000000
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS kept_tokens,
       round(MAX(rate), 6) AS rate
FROM kept GROUP BY source
"""


@register("sp3_domain_mix", _SP3_ORACLE)
def sp3_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-share mixture: the five 'premium' sources target 10% each,
    the remaining fifteen split the rest — the binding domain keeps
    rate 1.0, everything else downsamples deterministically."""
    from etl_stack_spark.operators.curation import mix_domains
    from etl_stack_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    share = F.when(F.col("source").isin(list(_TOP_SOURCES)), F.lit(0.1)).otherwise(
        F.lit(0.5 / 15)
    )
    mixed = mix_domains(t, share, "source", "n_tok", "doc_id")
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("kept_tokens"),
        F.round(F.max("rate"), 6).alias("rate"),
    )


# ---------------------------------------------------------------------------
# FZ1 — blocked fuzzy join: similarity = 1 - lev/maxlen inside first-token
# blocks (blocking first: the P17 scale shape — candidates ∝ block size,
# not |A|×|B|).
# Distinct part-name variants blocked on the first word — the P17 shape
# (fuzzy-match name variants inside a candidate block). The earlier form
# joined part names against supplier names, whose blocks NEVER collide in
# this corpus ("small ring" vs "Supplier#…") — a structurally-0-row anchor
# whose hash could not catch anything.
_FZ1_ORACLE = """
WITH names AS MATERIALIZED (
  SELECT DISTINCT lower(p_name) AS nm,
         split_part(lower(p_name), ' ', 1) AS blk
  FROM part
)
SELECT a.nm AS name_a, b.nm AS name_b,
  ROUND(1e0 - levenshtein(a.nm, b.nm) / greatest(len(a.nm), len(b.nm)), 6) AS sim
FROM names a JOIN names b ON a.blk = b.blk AND a.nm < b.nm
WHERE 1e0 - levenshtein(a.nm, b.nm) / greatest(len(a.nm), len(b.nm)) >= 0.5
"""


@register("fz1_fuzzy_blocked_join", _FZ1_ORACLE)
def fz1_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.lower("p_name").alias("nm"))
        .distinct()
        .withColumn("blk", F.get(F.split(F.col("nm"), " "), 0))
    )
    a = names.select(F.col("nm").alias("name_a"), "blk")
    b = names.select(F.col("nm").alias("name_b"), "blk")
    sim = F.lit(1.0) - F.levenshtein("name_a", "name_b") / F.greatest(
        F.length("name_a"), F.length("name_b")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("sim", F.round(sim, 6))
        .filter(F.col("sim") >= 0.5)
        .select("name_a", "name_b", "sim")
    )


# ---------------------------------------------------------------------------
# SS3 — IVF-style ANN: candidates limited to the query's coarse cell (the
# embeddings table's cluster label stands in for learned IVF centroids);
# exact cosine re-rank within the cell.
# ---------------------------------------------------------------------------
_SS3_ORACLE = """
WITH corpus AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS q_label, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT query_id, vec_id,
    round(list_dot_product(qv, cv)
      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
  FROM corpus JOIN q ON corpus.label = q.q_label AND vec_id <> query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
"""


@register("ss3_ivf_topk", _SS3_ORACLE)
def ss3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.similarity import _cosine, _top_k, _vectors
    from etl_stack_spark.queries.similarity import _lsh_bucketed

    # both sides read the shared LSH staging store's v/n/label: the
    # values _vectors would compute from the raw embeddings, stored once
    b = _lsh_bucketed(spark, sf_dir)
    corpus = _vectors(b, ["vec_id", "label"], v="cv", n="cn")
    q = _vectors(
        b.filter(F.col("vec_id") < 10),
        [F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")],
        v="qv",
        n="qn",
    )
    scored = (
        corpus.join(F.broadcast(q), corpus.label == q.q_label)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", _cosine("qv", "qn", "cv", "cn"))
    )
    return _top_k(scored, "query_id", "vec_id", 10)


# ---------------------------------------------------------------------------
# MIX2 — TEMPERATURE-scaled domain sampling (the mT5/XLM-R recipe):
# target shares ∝ p_s^α with α = 0.5, so low-resource domains are
# upweighted relative to their natural frequency. Because mix_domains'
# rate formula is scale-invariant in the share column (a common factor
# cancels between `scale = min(d/share)` and `rate = scale·share/d`),
# the UNNORMALIZED share sqrt(d_tokens) expresses p^0.5 exactly — no
# cross-engine Σ-of-doubles normalization needed; sqrt is IEEE-exact.
# ---------------------------------------------------------------------------
_MIX2_ORACLE = f"""
WITH tok AS MATERIALIZED (SELECT source, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents),
dt AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS d_tokens FROM tok GROUP BY source),
sh AS MATERIALIZED (SELECT source, d_tokens, sqrt(CAST(d_tokens AS DOUBLE)) AS share FROM dt),
sc AS (SELECT MIN(d_tokens / share) AS scale FROM sh),
rates AS (
  SELECT source, least(1e0, (SELECT scale FROM sc) * share / d_tokens) AS rate FROM sh
),
kept AS (
  SELECT t.source, t.doc_id, t.n_tok, r.rate
  FROM tok t JOIN rates r USING (source)
  WHERE (('0x' || substr(sha256(t.doc_id::VARCHAR), 1, 15))::BIGINT % 1000000)
        < r.rate * 1000000
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS kept_tokens,
       round(MAX(rate), 6) AS rate
FROM kept GROUP BY source
"""


@register("mix2_temperature_sampling", _MIX2_ORACLE)
def mix2_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.curation import mix_domains
    from etl_stack_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    mixed = mix_domains(t, F.sqrt(F.col("_d_tokens")), "source", "n_tok", "doc_id")
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("kept_tokens"),
        F.round(F.max("rate"), 6).alias("rate"),
    )


# ---------------------------------------------------------------------------
# SEL2 — domain-budgeted quality selection (the FineWeb/Dolma recipe
# mix2 samples and sel1 globalizes): per-domain token budgets follow
# temperature-scaled shares (α=0.5), then each domain keeps its BEST
# docs (quality-density rank) until its budget fills — deterministic
# greedy selection, not rate sampling. Cross-engine float hygiene: the
# share sum is over DECIMAL(38,6)-rounded sqrt terms (decimal addition
# is order-exact; a raw double sum's order could flip a budget floor),
# and the final ratio divides the two identical decimals as doubles.
# Per-domain cumulative sums are domain-partitioned windows
# (dimension-cardinality); one monster domain routes through
# global_running_sum on its slice (the sel1 path).
# ---------------------------------------------------------------------------

_SEL2_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT source, doc_id, n_chars, CAST(len({_TOKS}) AS BIGINT) AS n_tok
  FROM documents
),
q AS (SELECT source, doc_id, n_tok,
             round(n_chars / greatest(n_tok, 1), 6) AS q FROM tok),
dt AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS d_tokens FROM tok GROUP BY source),
sh AS MATERIALIZED (SELECT source, d_tokens,
              CAST(round(sqrt(CAST(d_tokens AS DOUBLE)), 6) AS DECIMAL(38,6)) AS share
       FROM dt),
tot AS (SELECT CAST(SUM(d_tokens) AS BIGINT) AS all_tokens,
               SUM(share) AS sum_share FROM sh),
b AS MATERIALIZED (
  SELECT source, d_tokens,
    CAST(floor(0.5 * all_tokens *
               (CAST(share AS DOUBLE) / CAST(sum_share AS DOUBLE))) AS BIGINT) AS budget
  FROM sh, tot
),
c AS (
  SELECT source, doc_id, n_tok,
    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY q DESC, doc_id ASC
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_tok
  FROM q
),
k AS (
  SELECT c.source, c.n_tok FROM c JOIN b USING (source) WHERE run_tok <= budget
),
agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(n_tok) AS BIGINT) AS kept_tokens FROM k GROUP BY source)
SELECT b.source, d_tokens, budget,
  coalesce(n_kept, 0) AS n_kept,
  coalesce(kept_tokens, 0) AS kept_tokens,
  round(coalesce(kept_tokens, 0) / greatest(budget, 1), 6) AS utilization
FROM b LEFT JOIN agg USING (source)
"""


@register("sel2_domain_budget_selection", _SEL2_ORACLE)
def sel2_domain_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        "doc_id",
        "n_chars",
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    q = tok.withColumn(
        "q", F.round(F.col("n_chars") / F.greatest(F.col("n_tok"), F.lit(1)), 6)
    )
    dt = tok.groupBy("source").agg(F.sum("n_tok").cast("long").alias("d_tokens"))
    sh = dt.withColumn(
        "share", F.round(F.sqrt(F.col("d_tokens").cast("double")), 6).cast("decimal(38,6)")
    )
    tot = sh.agg(
        F.sum("d_tokens").cast("long").alias("all_tokens"),
        F.sum("share").alias("sum_share"),
    )
    b = sh.crossJoin(F.broadcast(tot)).select(
        "source",
        "d_tokens",
        F.floor(
            F.lit(0.5)
            * F.col("all_tokens")
            * (F.col("share").cast("double") / F.col("sum_share").cast("double"))
        )
        .cast("long")
        .alias("budget"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("q").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = q.withColumn("run_tok", F.sum("n_tok").over(w).cast("long"))
    kept = c.join(F.broadcast(b), "source").filter(F.col("run_tok") <= F.col("budget"))
    agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_tok").cast("long").alias("kept_tokens"),
    )
    return (
        b.join(agg, "source", "left")
        .fillna(0, ["n_kept", "kept_tokens"])
        .select(
            "source",
            "d_tokens",
            "budget",
            "n_kept",
            "kept_tokens",
            F.round(
                F.col("kept_tokens") / F.greatest(F.col("budget"), F.lit(1)), 6
            ).alias("utilization"),
        )
    )
