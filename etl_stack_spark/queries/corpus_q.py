"""LLM corpus-cleaning pipelines as oracle-checked queries: llm1 is the
quality → language → exact-dedup → near-dup chain; llm2 adds the
curation family (repetition filter + benchmark decontamination) between
the scalar gates and the dedup shuffles. Both expressed in SQL on the
DuckDB side (CTE per stage, same constants)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.plans.corpus_clean import clean_corpus, clean_corpus_v2
from etl_stack_spark.queries import register, stores
from etl_stack_spark.queries.text_dedup import (
    _minhash_oracle,
    _SHINGLES,
    _TOKS,
    _marker_count,
)
from etl_stack_spark.operators.text import LANG_MARKERS
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
        scored.filter(F.col("source") != "src0"), 0.4, ("en", "es", "de", "fr")
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


def _lang_pieces() -> tuple[str, str]:
    """(count_cols, lang_case) SQL fragments shared by llm1/llm2."""
    langs = [lang for lang, _ in LANG_MARKERS]
    count_cols = ", ".join(f"{_marker_count(ws)} AS c_{lang}" for lang, ws in LANG_MARKERS)
    cases = []
    for i, lang in enumerate(langs):
        geq = " AND ".join(f"c_{lang} >= c_{other}" for other in langs[i + 1:])
        cond = (geq + " AND " if geq else "") + f"c_{lang} > 0"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    return count_cols, "CASE " + " ".join(cases) + " ELSE 'unknown' END"


def _corpus_oracle() -> str:
    # quality + lang stage (reuse the tx1/tx2 logic inline)
    all_markers = [w for _, ws in LANG_MARKERS for w in ws]
    count_cols, lang_case = _lang_pieces()

    minhash_pairs = _minhash_oracle().replace("FROM documents", "FROM exact")
    return f"""
WITH scored AS (
  SELECT doc_id, text,
    round(4e-1 * (CASE WHEN length(text) >= 50 AND length(text) <= 5000 THEN 1e0 ELSE 0e0 END)
        + 4e-1 * least(1e0, {_marker_count(all_markers)} * 5e0 / greatest(len({_TOKS}), 1))
        + 2e-1 * (CASE WHEN len(regexp_extract_all(text, '[^\\w\\s]')) / greatest(length(text), 1) <= 2e-1
                  THEN 1e0 ELSE 0e0 END), 6) AS quality,
    {count_cols},
    sha256(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
kept AS (
  SELECT doc_id, text, quality, {lang_case} AS pred_lang, fp FROM scored
  WHERE quality >= 0.4 AND ({lang_case}) IN ('en', 'es', 'de', 'fr')
),
exact AS (
  SELECT doc_id, text, quality, pred_lang FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canon FROM kept
  ) WHERE doc_id = canon
),
pairs AS ({minhash_pairs}),
losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
SELECT e.doc_id, e.quality, e.pred_lang
FROM exact e LEFT JOIN losers l ON e.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""


@register("llm1_corpus_clean", _corpus_oracle())
def llm1_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.queries.text_dedup import pair_base

    docs = load_table(spark, sf_dir, "documents")
    return clean_corpus(
        docs,
        scored=corpus_base(spark, sf_dir)["scored"],
        pairs=pair_base(spark, sf_dir),
    )


def _corpus_v2_oracle() -> str:
    """llm2: llm1's chain with the curation stages spliced in — corpus is
    every non-src0 document, benchmark is the src0 slice, repetition
    thresholds 0.05/0.10 and contamination threshold 0.08 (the rep1/dc1
    constants)."""
    all_markers = [w for _, ws in LANG_MARKERS for w in ws]
    count_cols, lang_case = _lang_pieces()
    minhash_pairs = _minhash_oracle().replace("FROM documents", "FROM exact")
    return f"""
WITH scored AS (
  SELECT doc_id, text,
    round(4e-1 * (CASE WHEN length(text) >= 50 AND length(text) <= 5000 THEN 1e0 ELSE 0e0 END)
        + 4e-1 * least(1e0, {_marker_count(all_markers)} * 5e0 / greatest(len({_TOKS}), 1))
        + 2e-1 * (CASE WHEN len(regexp_extract_all(text, '[^\\w\\s]')) / greatest(length(text), 1) <= 2e-1
                  THEN 1e0 ELSE 0e0 END), 6) AS quality,
    {count_cols},
    sha256(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE source <> 'src0'
),
kept AS (
  SELECT doc_id, text, quality, {lang_case} AS pred_lang, fp FROM scored
  WHERE quality >= 0.4 AND ({lang_case}) IN ('en', 'es', 'de', 'fr')
),
rt AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE source <> 'src0'),
rg AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                          i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM rt
),
rc AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM rg GROUP BY doc_id, gram),
rp AS (
  SELECT doc_id, SUM(cnt) AS n_grams, MAX(cnt) AS top_cnt,
    SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup_cnt
  FROM rc GROUP BY doc_id
),
rep_ok AS (
  SELECT rt.doc_id FROM rt LEFT JOIN rp USING (doc_id)
  WHERE coalesce(top_cnt, 0) / greatest(coalesce(n_grams, 0), 1) <= 0.05
    AND coalesce(dup_cnt, 0) / greatest(coalesce(n_grams, 0), 1) <= 0.10
),
bench AS (
  SELECT DISTINCT unnest({_SHINGLES}) AS shingle FROM documents
  WHERE source = 'src0' AND doc_id < 500
),
dcand AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents WHERE source <> 'src0'),
dsz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles FROM dcand),
dcs AS (SELECT doc_id, unnest(sh) AS shingle FROM dcand),
dhits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM dcs JOIN bench USING (shingle) GROUP BY doc_id
),
dec_ok AS (
  SELECT s.doc_id FROM dsz s LEFT JOIN dhits USING (doc_id)
  WHERE coalesce(n_hits, 0) / greatest(n_shingles, 1) < 0.08
),
kept2 AS (
  SELECT k.* FROM kept k
  JOIN rep_ok USING (doc_id) JOIN dec_ok USING (doc_id)
),
exact AS (
  SELECT doc_id, text, quality, pred_lang FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canon FROM kept2
  ) WHERE doc_id = canon
),
pairs AS ({minhash_pairs}),
losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
SELECT e.doc_id, e.quality, e.pred_lang
FROM exact e LEFT JOIN losers l ON e.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""


@register("llm2_corpus_clean_v2", _corpus_v2_oracle())
def llm2_corpus_clean_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = corpus_base(spark, sf_dir)
    # fixed-size benchmark slice (= all of src0 at sf0.01) — see _DC1's
    # rationale in curation_q.py: eval benchmarks don't grow with the corpus
    from etl_stack_spark.queries.text_dedup import pair_base

    return clean_corpus_v2(
        docs.filter(F.col("source") != "src0"),
        docs.filter((F.col("source") == "src0") & (F.col("doc_id") < 500)),
        scored=base["scored"].filter(F.col("source") != "src0"),
        gate_ids=base["gate_ids"],
        pairs=pair_base(spark, sf_dir),
    )


def _corpus_v3_oracle() -> str:
    """llm3: llm2's chain + cross-doc 5-gram gating (rep2 constants,
    computed on the whole non-src0 corpus, applied before the dedup
    stages) + a final SemDeDup pass (sd1 constants: within-``label``
    cosine >= 0.3 drops the higher vec_id) over the survivors'
    embeddings. Docs without an embedding row pass the semantic stage."""
    all_markers = [w for _, ws in LANG_MARKERS for w in ws]
    count_cols, lang_case = _lang_pieces()
    minhash_pairs = _minhash_oracle().replace("FROM documents", "FROM exact")
    return f"""
WITH scored AS (
  SELECT doc_id, text,
    round(4e-1 * (CASE WHEN length(text) >= 50 AND length(text) <= 5000 THEN 1e0 ELSE 0e0 END)
        + 4e-1 * least(1e0, {_marker_count(all_markers)} * 5e0 / greatest(len({_TOKS}), 1))
        + 2e-1 * (CASE WHEN len(regexp_extract_all(text, '[^\\w\\s]')) / greatest(length(text), 1) <= 2e-1
                  THEN 1e0 ELSE 0e0 END), 6) AS quality,
    {count_cols},
    sha256(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE source <> 'src0'
),
kept AS (
  SELECT doc_id, text, quality, {lang_case} AS pred_lang, fp FROM scored
  WHERE quality >= 0.4 AND ({lang_case}) IN ('en', 'es', 'de', 'fr')
),
rt AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE source <> 'src0'),
rg AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                          i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM rt
),
rc AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM rg GROUP BY doc_id, gram),
rp AS (
  SELECT doc_id, SUM(cnt) AS n_grams, MAX(cnt) AS top_cnt,
    SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup_cnt
  FROM rc GROUP BY doc_id
),
rep_ok AS (
  SELECT rt.doc_id FROM rt LEFT JOIN rp USING (doc_id)
  WHERE coalesce(top_cnt, 0) / greatest(coalesce(n_grams, 0), 1) <= 0.05
    AND coalesce(dup_cnt, 0) / greatest(coalesce(n_grams, 0), 1) <= 0.10
),
bench AS (
  SELECT DISTINCT unnest({_SHINGLES}) AS shingle FROM documents
  WHERE source = 'src0' AND doc_id < 500
),
dcand AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents WHERE source <> 'src0'),
dsz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles FROM dcand),
dcs AS (SELECT doc_id, unnest(sh) AS shingle FROM dcand),
dhits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM dcs JOIN bench USING (shingle) GROUP BY doc_id
),
dec_ok AS (
  SELECT s.doc_id FROM dsz s LEFT JOIN dhits USING (doc_id)
  WHERE coalesce(n_hits, 0) / greatest(n_shingles, 1) < 0.08
),
xo AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                          i -> array_to_string(toks[i:i+4], ' '))) AS gram
  FROM rt
),
xh AS (SELECT doc_id, ('0x' || substr(sha256(gram), 1, 15))::BIGINT AS gh FROM xo),
xpd AS (SELECT doc_id, gh, CAST(COUNT(*) AS BIGINT) AS c FROM xh GROUP BY doc_id, gh),
xgd AS (SELECT gh, COUNT(*) AS n_docs FROM xpd GROUP BY gh),
xdup AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_occ
  FROM xpd JOIN xgd USING (gh) WHERE n_docs >= 2 GROUP BY doc_id
),
xw AS (SELECT doc_id, CAST(greatest(len(toks) - 4, 0) AS BIGINT) AS n_windows FROM rt),
xd_ok AS (
  SELECT xw.doc_id FROM xw LEFT JOIN xdup USING (doc_id)
  WHERE coalesce(dup_occ, 0) / greatest(n_windows, 1) <= 0.30
),
kept2 AS (
  SELECT k.* FROM kept k
  JOIN rep_ok USING (doc_id) JOIN dec_ok USING (doc_id) JOIN xd_ok USING (doc_id)
),
exact AS (
  SELECT doc_id, text, quality, pred_lang FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canon FROM kept2
  ) WHERE doc_id = canon
),
pairs AS ({minhash_pairs}),
losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
fin AS (
  SELECT e.doc_id, e.quality, e.pred_lang
  FROM exact e LEFT JOIN losers l ON e.doc_id = l.doc_id
  WHERE l.doc_id IS NULL
),
sememb AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings
  WHERE vec_id IN (SELECT doc_id FROM fin)
),
semlosers AS (
  SELECT DISTINCT b.vec_id
  FROM sememb a JOIN sememb b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.vec, b.vec)
        / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))), 6)
        >= 0.3
)
SELECT f.doc_id, f.quality, f.pred_lang
FROM fin f LEFT JOIN semlosers s ON f.doc_id = s.vec_id
WHERE s.vec_id IS NULL
"""


@register("llm3_corpus_clean_v3", _corpus_v3_oracle())
def llm3_corpus_clean_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.plans.corpus_clean import clean_corpus_v3

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    base = corpus_base(spark, sf_dir)
    from etl_stack_spark.queries.text_dedup import pair_base, sem_pair_base

    return clean_corpus_v3(
        docs.filter(F.col("source") != "src0"),
        docs.filter((F.col("source") == "src0") & (F.col("doc_id") < 500)),
        emb,
        scored=base["scored"].filter(F.col("source") != "src0"),
        gate_ids=base["gate_ids"],
        pairs=pair_base(spark, sf_dir),
        xdoc_ids=xdoc_base(spark, sf_dir),
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
    from etl_stack_spark.queries.text_dedup import _TOKS, _marker_count
    from etl_stack_spark.operators.text import LANG_MARKERS

    all_markers = [w for _, ws in LANG_MARKERS for w in ws]
    count_cols, lang_case = _lang_pieces()
    return f"""
WITH scored AS (
  SELECT source, doc_id,
    CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
    CAST(floor(round(4e-1 * (CASE WHEN length(text) >= 50 AND length(text) <= 5000 THEN 1e0 ELSE 0e0 END)
        + 4e-1 * least(1e0, {_marker_count(all_markers)} * 5e0 / greatest(len({_TOKS}), 1))
        + 2e-1 * (CASE WHEN len(regexp_extract_all(text, '[^\\w\\s]')) / greatest(length(text), 1) <= 2e-1
                  THEN 1e0 ELSE 0e0 END), 6) * 1000 + 0.5) AS BIGINT) AS q_milli,
    {count_cols},
    sha256(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
lang AS (SELECT source, doc_id, n_tokens, q_milli, fp, {lang_case} AS pred_lang FROM scored),
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
    from etl_stack_spark.queries.text_dedup import _H60, _TOKS

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
