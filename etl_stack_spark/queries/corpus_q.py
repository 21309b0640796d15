"""LLM corpus-cleaning pipelines as oracle-checked queries, each one call
of ``plans/corpus_clean.py::clean_corpus``: llm1 is the quality →
language → exact-dedup → near-dup chain; llm2 adds the curation gates
(repetition filter + benchmark decontamination) between the scalar
gates and the dedup shuffles; llm3 adds the cross-document n-gram gate
and a final SemDeDup stage. Each is expressed in SQL on the DuckDB side
too (CTE per stage, same constants)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.plans.corpus_clean import clean_corpus
from etl_stack_spark.queries import register, stores
from etl_stack_spark.queries.curation_q import (
    _DC1_CTES,
    _DC1_OVERLAP,
    _REP1_CTES,
    _REP1_KEEP,
    _REP2_CTES,
    _REP2_DUP_FRAC,
)
from etl_stack_spark.queries.text_dedup import (
    _FP_EXPR,
    _H60,
    _QUALITY_EXPR,
    _SEM_LOSERS,
    _TOKS,
    _lang_pieces,
    _minhash_ctes,
    pair_base,
    sem_pair_base,
)
from etl_stack_spark.session import load_table

# The llm1/llm2/llm3 washes share their front half: the 6-regex scoring
# scan (over ALL documents — llm1 scores src0 too) and the v2 curation
# gate set (over the non-src0 slice). Each wash used to recompute both
# (VERDICT r5 task 2: llm3 14.0s + llm2 10.3s + llm1 4.0s of the sweep);
# they are now computed once per (session, sf_dir), persisted
# MEMORY_AND_DISK, and injected into the plans. On a cluster the same
# role is played by a checkpointed signals table the washes all read —
# exactly the j6_base precedent (queries/geo.py, queries/stores.py).


@stores.session_store
def corpus_base(spark: SparkSession, sf_dir: str) -> dict:
    """Persisted shared intermediates: ``scored`` = score_documents over
    ALL documents (+ source column so each wash slices its own corpus),
    ``gate_ids`` = the v2 repetition∩decontamination id set over the
    non-src0 slice at the registry constants."""
    from pyspark import StorageLevel

    from etl_stack_spark.plans.corpus_clean import (
        KEEP_LANGS,
        MIN_QUALITY,
        gate_ids_v2,
        quality_lang_filter,
        score_documents,
    )

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    scored = score_documents(docs, extra_cols=("source",)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    kept_ns = quality_lang_filter(
        scored.filter(F.col("source") != "src0"), MIN_QUALITY, KEEP_LANGS
    )
    bench = docs.filter((F.col("source") == "src0") & (F.col("doc_id") < 500))
    gate_ids = gate_ids_v2(kept_ns, bench).persist(StorageLevel.MEMORY_AND_DISK)
    return {"scored": scored, "gate_ids": gate_ids}


@stores.session_store
def xdoc_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted v3-only corpus-level intermediate: the ids passing the
    cross-document 5-gram gate (rep2 constants) over the non-src0 slice.
    Like gate_ids it is a function of (docs, constants) alone, but only
    llm3 consumes it — so it is its own store, built lazily on the first
    llm3 call instead of charging llm1/llm2's first call for it."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.curation import cross_doc_dup_ngrams

    docs_ns = load_table(spark, sf_dir, "documents").filter(
        F.col("source") != "src0"
    )
    return (
        cross_doc_dup_ngrams(
            docs_ns.select("doc_id", "text"), n=5, max_dup_frac=0.30
        )
        .filter(F.col("keep_cross_doc"))
        .select("doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


# The washes' oracles: one CTE per stage, each stage spelled once below
# and spliced into llm1, llm2 and llm3.
_NON_SRC0 = "WHERE source <> 'src0'"


def _kept_ctes(where: str = "") -> str:
    """``scored`` (quality, marker counts, fingerprint over ``documents
    {where}``) and ``kept``: quality ≥ 0.4 and a kept language."""
    count_cols, lang_case = _lang_pieces()
    return f"""scored AS (
  SELECT doc_id, text, {_QUALITY_EXPR} AS quality, {count_cols}, {_FP_EXPR} AS fp
  FROM documents {where}
),
kept AS (
  SELECT doc_id, text, quality, {lang_case} AS pred_lang, fp FROM scored
  WHERE quality >= 0.4 AND ({lang_case}) IN ('en', 'es', 'de', 'fr')
)"""


# llm2's curation gates over the non-src0 slice: ``rep_ok`` (rep1's
# repetition rule) and ``dec_ok`` (dc1's decontamination against the src0
# benchmark slice, threshold 0.08)
_CURATION_GATES = f"""t AS MATERIALIZED (SELECT doc_id, {_TOKS} AS toks FROM documents {_NON_SRC0}),
{_REP1_CTES},
rep_ok AS (SELECT t.doc_id FROM t LEFT JOIN p USING (doc_id) WHERE {_REP1_KEEP}),
{_DC1_CTES},
dec_ok AS (SELECT doc_id FROM sz LEFT JOIN hits USING (doc_id) WHERE {_DC1_OVERLAP} < 0.08)"""


def _dedup_ctes(*gates: str) -> str:
    """``exact`` (the min doc_id per fingerprint among the ``kept`` docs
    that pass every gate CTE), the MinHash chain over it, and ``losers``
    (the doc_b of every confirmed pair)."""
    joins = "".join(f" JOIN {g} USING (doc_id)" for g in gates)
    return f"""exact AS MATERIALIZED (
  SELECT doc_id, text, quality, pred_lang FROM (
    SELECT k.*, MIN(doc_id) OVER (PARTITION BY fp) AS canon FROM kept k{joins}
  ) WHERE doc_id = canon
),
{_minhash_ctes("exact")},
losers AS (SELECT DISTINCT doc_b AS doc_id FROM mh)"""


_SURVIVORS = """SELECT e.doc_id, e.quality, e.pred_lang
FROM exact e LEFT JOIN losers l ON e.doc_id = l.doc_id
WHERE l.doc_id IS NULL"""

_CORPUS_ORACLE = f"""
WITH {_kept_ctes()},
{_dedup_ctes()}
{_SURVIVORS}
"""


@register("llm1_corpus_clean", _CORPUS_ORACLE)
def llm1_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clean_corpus(
        corpus_base(spark, sf_dir)["scored"], pairs=pair_base(spark, sf_dir)
    )


# llm2: llm1's chain with the curation gates spliced in; the corpus is
# every non-src0 document, the benchmark the src0 slice
_CORPUS_V2_ORACLE = f"""
WITH {_kept_ctes(_NON_SRC0)},
{_CURATION_GATES},
{_dedup_ctes("rep_ok", "dec_ok")}
{_SURVIVORS}
"""


@register("llm2_corpus_clean_v2", _CORPUS_V2_ORACLE)
def llm2_corpus_clean_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = corpus_base(spark, sf_dir)
    return clean_corpus(
        base["scored"].filter(F.col("source") != "src0"),
        [base["gate_ids"]],
        pairs=pair_base(spark, sf_dir),
    )


# llm3: llm2's chain + cross-doc 5-gram gating (rep2 constants, computed
# on the whole non-src0 corpus, applied before the dedup stages) + a final
# SemDeDup pass (sd1's rule) over the survivors' embeddings. Docs without
# an embedding row pass the semantic stage.
_CORPUS_V3_ORACLE = f"""
WITH {_kept_ctes(_NON_SRC0)},
{_CURATION_GATES},
{_REP2_CTES},
xd_ok AS (SELECT w.doc_id FROM w LEFT JOIN dup USING (doc_id) WHERE {_REP2_DUP_FRAC} <= 0.30),
{_dedup_ctes("rep_ok", "dec_ok", "xd_ok")},
fin AS MATERIALIZED ({_SURVIVORS}),
v AS MATERIALIZED (
  SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
  WHERE vec_id IN (SELECT doc_id FROM fin)
),
semlosers AS ({_SEM_LOSERS})
SELECT f.doc_id, f.quality, f.pred_lang
FROM fin f LEFT JOIN semlosers s ON f.doc_id = s.vec_id
WHERE s.vec_id IS NULL
"""


@register("llm3_corpus_clean_v3", _CORPUS_V3_ORACLE)
def llm3_corpus_clean_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = corpus_base(spark, sf_dir)
    return clean_corpus(
        base["scored"].filter(F.col("source") != "src0"),
        [base["gate_ids"], xdoc_base(spark, sf_dir)],
        pairs=pair_base(spark, sf_dir),
        sem_pairs=sem_pair_base(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# PMI1 — collocation mining: top-50 bigrams by pointwise mutual
# information, milli-nat quantized (the lm1 portability discipline; the
# PMI argument is an exact BIGINT ratio). min_count=5 kills hapax noise.
# ---------------------------------------------------------------------------
_PMI1_ORACLE = """
WITH t AS MATERIALIZED (
  SELECT list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
p AS MATERIALIZED (
  SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
  FROM t WHERE len(toks) >= 2
),
big AS MATERIALIZED (
  SELECT z[1] AS gram_a, z[2] AS gram_b, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM p GROUP BY 1, 2
),
uni AS MATERIALIZED (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok FROM (
    SELECT gram_a AS tok FROM (SELECT z[1] AS gram_a FROM p)
    UNION ALL SELECT z[2] FROM p
  ) GROUP BY tok
),
tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_total FROM big)
SELECT gram_a, gram_b, n_pair,
  CAST(floor(ln((n_pair * n_total) / (1e0 * ua.n_tok * ub.n_tok)) * 1000 + 0.5)
       AS BIGINT) AS pmi_milli
FROM big JOIN uni ua ON ua.tok = gram_a JOIN uni ub ON ub.tok = gram_b, tot
WHERE n_pair >= 5
ORDER BY pmi_milli DESC, gram_a, gram_b
LIMIT 50
"""


@register("pmi1_collocations", _PMI1_ORACLE)
def pmi1_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs)


# ---------------------------------------------------------------------------
# DS1 — corpus DATASHEET: the per-source summary every training corpus
# ships with (Gebru et al.'s datasheets, the HF dataset-card stats
# block): document and token volumes, language mix, quality, and exact-
# duplicate rate per source. Composes the engine's existing signals into
# ONE aggregate; all ratios are exact integer ppm / integer-division
# milli so the oracle matches bit-for-bit (doubles are quantized PER DOC
# before any sum — the lm1 discipline).
# ---------------------------------------------------------------------------
def _ds1_oracle() -> str:
    count_cols, lang_case = _lang_pieces()
    return f"""
WITH scored AS (
  SELECT source, doc_id,
    CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
    CAST(floor({_QUALITY_EXPR} * 1000 + 0.5) AS BIGINT) AS q_milli,
    {count_cols},
    {_FP_EXPR} AS fp
  FROM documents
),
lang AS MATERIALIZED (SELECT source, doc_id, n_tokens, q_milli, fp, {lang_case} AS pred_lang FROM scored),
fpc AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS fpn FROM lang GROUP BY fp)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST((SUM(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS en_ppm,
  CAST(SUM(q_milli) // COUNT(*) AS BIGINT) AS mean_quality_milli,
  CAST((SUM(CASE WHEN fpn > 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS exact_dup_ppm
FROM lang JOIN fpc USING (fp)
GROUP BY source
"""


@register("ds1_corpus_datasheet", _ds1_oracle())
def ds1_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import fingerprint, lang_id, quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.floor(quality_score(F.col("text")) * 1000 + 0.5)
        .cast("long")
        .alias("q_milli"),
        lang_id(F.col("text")).alias("pred_lang"),
        fingerprint(F.col("text")).alias("fp"),
    )
    fpc = scored.groupBy("fp").agg(F.count(F.lit(1)).alias("fpn"))
    return (
        scored.join(fpc, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.expr(
                "CAST(SUM(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("en_ppm"),
            F.expr("CAST(SUM(q_milli) DIV COUNT(*) AS BIGINT)").alias(
                "mean_quality_milli"
            ),
            F.expr(
                "CAST(SUM(CASE WHEN fpn > 1 THEN 1 ELSE 0 END) * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("exact_dup_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# RAG1 — sliding-window token chunking (the RAG / long-context prep
# step): 64-token chunks at stride 48 (16-token overlap), per chunk the
# token count and the portable content hash. The explode is
# sequence-gated for empty docs (the descending-sequence trap); chunk
# boundaries are pure integer arithmetic, so both engines agree exactly.
# ---------------------------------------------------------------------------
def _rag1_oracle() -> str:
    h = _H60.format(expr="array_to_string(chunk, ' ')")
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
starts AS (
  SELECT doc_id, toks, n, unnest(range(1, n + 1, 48)) AS start FROM nz
),
chunks AS (
  SELECT doc_id, CAST((start - 1) // 48 AS INT) AS chunk_idx,
         toks[start : least(start + 63, n)] AS chunk
  FROM starts
)
SELECT doc_id, chunk_idx, CAST(len(chunk) AS INT) AS n_tokens, {h} AS chunk_hash
FROM chunks
"""


@register("rag1_chunk_overlap", _rag1_oracle())
def rag1_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import portable_hash60, tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks")).withColumn(
        "n", F.size("toks")
    ).filter(F.col("n") >= 1)
    starts = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(48))).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), F.lit(64))
    return starts.select(
        "doc_id",
        F.expr("CAST((start - 1) DIV 48 AS INT)").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_tokens"),
        portable_hash60(F.array_join(chunk, " ")).alias("chunk_hash"),
    )
