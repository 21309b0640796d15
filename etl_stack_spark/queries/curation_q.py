"""Corpus-curation queries with DuckDB oracles: PII redaction (pii1),
repetition filtering (rep1), benchmark decontamination (dc1), and
sequence packing (pk1) over ``documents``.

The synthetic corpus contains no PII, so pii1 INJECTS deterministic
fake emails/phones/IPs (keyed on doc_id, built identically in both
engines) before redacting — the oracle checks both that PII is removed
and that clean text passes through byte-identical.

Thresholds are picked from the measured sf0.01 distributions so every
boolean output column is non-vacuous (both values occur): bigram
top-frac p50≈0.033/p90≈0.069 → 0.05; dup-frac p90≈0.129 → 0.10;
benchmark shingle overlap p75≈0.069/p95≈0.125 → 0.08.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.curation import (
    EMAIL_PATTERN,
    remove_boilerplate_lines,
    IPV4_PATTERN,
    PHONE_PATTERN,
    cross_doc_dup_ngrams,
    decontaminate,
    pack_sequences,
    pii_counts,
    redact_pii,
    repetition_metrics,
)
from etl_stack_spark.operators.text import token_count, tokens
from etl_stack_spark.queries import register, stores
from etl_stack_spark.queries.text_dedup import _H60, _SHINGLES, _TOKS
from etl_stack_spark.session import load_table

# ---------------------------------------------------------------------------
# PII1 — inject deterministic fake PII, then redact it
# ---------------------------------------------------------------------------

_PII_TEXT_SQL = """text
  || CASE WHEN doc_id % 2 = 0
       THEN ' mail ' || source || '.' || doc_id || '@example.com' ELSE '' END
  || CASE WHEN doc_id % 3 = 0
       THEN ' call 202-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
  || CASE WHEN doc_id % 5 = 0
       THEN ' host 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ELSE '' END"""

_PII1_ORACLE = f"""
WITH pii AS (SELECT doc_id, {_PII_TEXT_SQL} AS pii_text FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(pii_text,
    '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
    '{IPV4_PATTERN}', '<IP>', 'g'),
    '{PHONE_PATTERN}', '<PHONE>', 'g') AS redacted,
  CAST(len(regexp_extract_all(pii_text, '{EMAIL_PATTERN}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(pii_text, '{IPV4_PATTERN}')) AS INT) AS n_ips,
  CAST(len(regexp_extract_all(pii_text, '{PHONE_PATTERN}')) AS INT) AS n_phones
FROM pii
"""


def _injected_pii_text() -> F.Column:
    did = F.col("doc_id")
    email = F.when(
        did % 2 == 0,
        F.concat(
            F.lit(" mail "), F.col("source"), F.lit("."),
            did.cast("string"), F.lit("@example.com"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 3 == 0,
        F.concat(
            F.lit(" call 202-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" host 10.0."), (did % 256).cast("string"),
            F.lit("."), ((did * 7) % 256).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone, ip)


@register("pii1_redact", _PII1_ORACLE)
def pii1_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pii = docs.select("doc_id", _injected_pii_text().alias("pii_text"))
    counts = pii_counts(F.col("pii_text"))
    return pii.select(
        "doc_id",
        redact_pii(F.col("pii_text")).alias("redacted"),
        counts["n_emails"].cast("int").alias("n_emails"),
        counts["n_ips"].cast("int").alias("n_ips"),
        counts["n_phones"].cast("int").alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# REP1 — Gopher-style bigram repetition metrics + keep flag
# ---------------------------------------------------------------------------

_REP1_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                          i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM t
),
c AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY doc_id, gram),
p AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams, MAX(cnt) AS top_gram_count,
    CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_gram_count
  FROM c GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(n_grams, 0) AS n_grams,
  coalesce(top_gram_count, 0) AS top_gram_count,
  coalesce(dup_gram_count, 0) AS dup_gram_count,
  round(coalesce(top_gram_count, 0) / greatest(coalesce(n_grams, 0), 1), 6) AS top_gram_frac,
  round(coalesce(dup_gram_count, 0) / greatest(coalesce(n_grams, 0), 1), 6) AS dup_gram_frac,
  (coalesce(top_gram_count, 0) / greatest(coalesce(n_grams, 0), 1) <= 0.05
   AND coalesce(dup_gram_count, 0) / greatest(coalesce(n_grams, 0), 1) <= 0.10)
  AS keep_repetition
FROM documents d LEFT JOIN p USING (doc_id)
"""


@register("rep1_repetition_filter", _REP1_ORACLE)
def rep1_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs, max_top_frac=0.05, max_dup_frac=0.10)


# ---------------------------------------------------------------------------
# DC1 — decontaminate the corpus against the src0 "benchmark" slice
# ---------------------------------------------------------------------------

# The benchmark is the FIXED slice src0 ∧ doc_id < 500 — identical to
# "all of src0" at sf0.01, but constant-size as the corpus scales (a real
# eval benchmark does not grow with the corpus; an SF-proportional slice
# saturates the synthetic shingle space and flags everything at sf0.1).
_DC1_ORACLE = f"""
WITH bench AS (
  SELECT DISTINCT unnest({_SHINGLES}) AS shingle FROM documents
  WHERE source = 'src0' AND doc_id < 500
),
cand AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents WHERE source <> 'src0'),
sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles FROM cand),
cs AS (SELECT doc_id, unnest(sh) AS shingle FROM cand),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM cs JOIN bench USING (shingle) GROUP BY doc_id
)
SELECT s.doc_id, n_shingles, coalesce(n_hits, 0) AS n_hits,
  round(coalesce(n_hits, 0) / greatest(n_shingles, 1), 6) AS overlap_frac,
  (coalesce(n_hits, 0) / greatest(n_shingles, 1) >= 0.08) AS contaminated
FROM sz s LEFT JOIN hits USING (doc_id)
"""


@register("dc1_decontaminate", _DC1_ORACLE)
def dc1_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter((F.col("source") == "src0") & (F.col("doc_id") < 500)),
        threshold=0.08,
    )


# ---------------------------------------------------------------------------
# PK1 — 256-token sequence packing per source shard
# ---------------------------------------------------------------------------

_PK1_ORACLE = f"""
WITH t AS (
  SELECT source, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents
),
c AS (
  SELECT source, doc_id, n_tok,
    CAST(coalesce(SUM(n_tok) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM t
)
SELECT source, CAST(floor(cum_before / 256) AS BIGINT) AS pack_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM c GROUP BY source, CAST(floor(cum_before / 256) AS BIGINT)
"""


# pk2: first-fit-decreasing packing — inherently sequential per shard, so
# NO SQL oracle (the documented rows-only tier for non-SQL-expressible
# ops); its packing contract is pinned by property tests in
# tests/test_curation.py instead.
@register("pk2_sequence_pack_ffd")
def pk2_sequence_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.curation import pack_sequences_ffd

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    packed = pack_sequences_ffd(
        t, token_col="n_tok", budget=256, partition_col="source", order_col="doc_id"
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register("pk1_sequence_pack", _PK1_ORACLE)
def pk1_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    packed = pack_sequences(
        t, token_col="n_tok", budget=256, partition_col="source", order_col="doc_id"
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# LM1 — character-trigram LM scoring (the CCNet quality signal) against a
# reference corpus (source 'src0'). Integer milli-nat quantization makes
# the log-prob sums exact cross-engine (see trigram_lm_score docstring).
#
# The scored frame is a session store (queries/stores.py) shared by
# lm1/lm2/lm2b: the ~2.4s train+score subtree ran three times per sweep
# before round 8.
# ---------------------------------------------------------------------------


@stores.session_store
def lm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, n_trigrams, nll_millinats) over ALL documents,
    scored against the src0-trained trigram LM — the shared input of the
    lm family. On a cluster this is the checkpointed signals table every
    pruner reads; here it is MEMORY_AND_DISK per (session, sf_dir)."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.curation import trigram_lm_score

    docs = load_table(spark, sf_dir, "documents")
    return trigram_lm_score(
        docs, docs.filter(F.col("source") == "src0")
    ).persist(StorageLevel.MEMORY_AND_DISK)


_LM1_ORACLE = """
WITH ref_tri AS (
  SELECT substr(text, CAST(i AS INT), 3) AS tri
  FROM documents, unnest(generate_series(1, greatest(length(text) - 2, 0))) t(i)
  WHERE source = 'src0'
),
cnts AS (SELECT tri, CAST(COUNT(*) AS BIGINT) AS c FROM ref_tri GROUP BY tri),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_total,
                 CAST(COUNT(DISTINCT tri) AS BIGINT) AS v_size FROM ref_tri),
doc_tri AS (
  SELECT doc_id, substr(text, CAST(i AS INT), 3) AS tri
  FROM documents, unnest(generate_series(1, greatest(length(text) - 2, 0))) t(i)
),
scored AS (
  SELECT doc_id,
         CAST(floor(-ln((COALESCE(c, 0) + 1) / (t_total + v_size)) * 1000 + 0.5) AS BIGINT) AS mn
  FROM doc_tri LEFT JOIN cnts USING (tri), stats
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(mn) AS BIGINT) AS nll_millinats
FROM scored GROUP BY doc_id
"""


@register("lm1_trigram_lm_score", _LM1_ORACLE)
def lm1_trigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_scored(spark, sf_dir)


# ---------------------------------------------------------------------------
# REP2 — CROSS-document duplicate 5-gram fraction (rep1 is within-doc).
# n=5 picked from the measured sf0.01 distribution: 71/500 docs share a
# 5-gram window with another doc (3-grams: all docs, vacuous; 8-grams:
# only the injected near-dups), so both keep values occur.
# ---------------------------------------------------------------------------

_REP2_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
occ AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                          i -> array_to_string(toks[i:i+4], ' '))) AS gram
  FROM t
),
h AS (SELECT doc_id, ('0x' || substr(sha256(gram), 1, 15))::BIGINT AS gh FROM occ),
pd AS (SELECT doc_id, gh, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY doc_id, gh),
gd AS (SELECT gh, COUNT(*) AS n_docs FROM pd GROUP BY gh),
dup AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup_occ
  FROM pd JOIN gd USING (gh) WHERE n_docs >= 2 GROUP BY doc_id
),
w AS (SELECT doc_id, CAST(greatest(len(toks) - 4, 0) AS BIGINT) AS n_windows FROM t)
SELECT w.doc_id, n_windows, coalesce(dup_occ, 0) AS dup_occ,
  round(coalesce(dup_occ, 0) / greatest(n_windows, 1), 6) AS cross_dup_frac,
  (coalesce(dup_occ, 0) / greatest(n_windows, 1) <= 0.30) AS keep_cross_doc
FROM w LEFT JOIN dup USING (doc_id)
"""


@register("rep2_cross_doc_ngrams", _REP2_ORACLE)
def rep2_cross_doc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return cross_doc_dup_ngrams(docs, n=5, max_dup_frac=0.30)


# ---------------------------------------------------------------------------
# URL1 — URL canonicalization + canonical-URL dedup. The corpus has no
# URL column, so deterministic URLs are INJECTED (the pii1 pattern) with
# every canonicalization rule exercised: upper-case scheme/host, www,
# default :443 port, trailing slash, utm_* tracking params (dropped),
# a real ?page= param (kept — different page IS a different document),
# and fragments. doc_id % 200 path slots over 20 sources give ~2-3 docs
# per canonical key, so the dedup is non-vacuous.
# ---------------------------------------------------------------------------

_URL_TEXT_SQL = """'HTTPS://' || CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END
  || source || '.Example.com'
  || CASE WHEN doc_id % 6 = 0 THEN ':443' ELSE '' END
  || '/P/' || (doc_id % 200)
  || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
  || CASE WHEN doc_id % 3 = 0 AND doc_id % 11 = 0 THEN '?utm_source=feed&page=' || (doc_id % 4)
          WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_campaign=' || (doc_id % 7)
          WHEN doc_id % 11 = 0 THEN '?page=' || (doc_id % 4)
          ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN '#sec-' || (doc_id % 9) ELSE '' END"""

_URL1_ORACLE = f"""
WITH u AS (SELECT doc_id, {_URL_TEXT_SQL} AS url FROM documents),
p1 AS (
  -- DuckDB regexp_extract yields NULL on no match where Spark yields
  -- ''; coalesce each extract to keep the concat non-null
  SELECT doc_id,
    lower(coalesce(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS scheme,
    regexp_replace(lower(coalesce(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')),
                   '^www\\.', '') AS auth1,
    regexp_replace(coalesce(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), ''),
                   '/+$', '') AS path1,
    coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS qs
  FROM u
),
p2 AS (
  SELECT doc_id, scheme,
    CASE WHEN scheme = 'https' THEN regexp_replace(auth1, ':443$', '')
         WHEN scheme = 'http' THEN regexp_replace(auth1, ':80$', '')
         ELSE auth1 END AS auth,
    CASE WHEN path1 = '' THEN '/' ELSE path1 END AS path,
    -- array_to_string([]) is NULL in DuckDB (Spark's array_join gives '')
    coalesce(array_to_string(list_filter(string_split(qs, '&'),
                    p -> NOT regexp_matches(p, '^utm_') AND p <> ''), '&'), '') AS kept
  FROM p1
),
c AS (
  SELECT doc_id,
    scheme || '://' || auth || path ||
      CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canon_url
  FROM p2
)
SELECT doc_id, canon_url,
  MIN(doc_id) OVER (PARTITION BY canon_url) AS canonical_id,
  (doc_id <> MIN(doc_id) OVER (PARTITION BY canon_url)) AS is_duplicate
FROM c
"""


def _injected_url() -> F.Column:
    did = F.col("doc_id")
    q = (
        F.when(
            (did % 3 == 0) & (did % 11 == 0),
            F.concat(F.lit("?utm_source=feed&page="), (did % 4).cast("string")),
        )
        .when(
            did % 3 == 0,
            F.concat(F.lit("?utm_source=feed&utm_campaign="), (did % 7).cast("string")),
        )
        .when(did % 11 == 0, F.concat(F.lit("?page="), (did % 4).cast("string")))
        .otherwise(F.lit(""))
    )
    frag = F.when(
        did % 5 == 0, F.concat(F.lit("#sec-"), (did % 9).cast("string"))
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit("HTTPS://"),
        F.when(did % 4 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.com"),
        F.when(did % 6 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/P/"),
        (did % 200).cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        q,
        frag,
    )


@register("url1_canonical_dedup", _URL1_ORACLE)
def url1_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.curation import url_dedup

    docs = load_table(spark, sf_dir, "documents")
    with_url = docs.select("doc_id", _injected_url().alias("url"))
    return url_dedup(with_url)


# ---------------------------------------------------------------------------
# DSIR1 — importance weights vs the src0 target slice (Xie et al. 2023).
# Hashed-bigram LLR in quantized milli-nats (the lm1 portability trick);
# keep threshold -280 sits between the measured median (-296) and p75
# (-259) of the mean-LLR distribution at sf0.01, so both keep values
# occur with real mass (not a 4-doc sliver at 0).
# ---------------------------------------------------------------------------

_DSIR1_ORACLE = f"""
WITH tgt AS (SELECT {_TOKS} AS toks FROM documents WHERE source = 'src0' AND doc_id < 500),
cand AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE source <> 'src0'),
tg AS (
  SELECT ('0x' || substr(sha256(unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                         i -> toks[i] || ' ' || toks[i + 1]))), 1, 15))::BIGINT % 1024 AS b
  FROM tgt
),
cg AS (
  SELECT doc_id,
    ('0x' || substr(sha256(unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                    i -> toks[i] || ' ' || toks[i + 1]))), 1, 15))::BIGINT % 1024 AS b
  FROM cand
),
ct AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tg GROUP BY b),
cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM cg GROUP BY b),
tot AS (SELECT (SELECT SUM(cr) FROM cr) AS R, (SELECT SUM(ct) FROM ct) AS T),
terms AS (
  SELECT cg.doc_id,
    CAST(floor(ln(((coalesce(ct.ct, 0) + 1) * (tot.R + 1024))
             / ((coalesce(cr.cr, 0) + 1) * (tot.T + 1024))) * 1000 + 0.5) AS BIGINT) AS mn
  FROM cg LEFT JOIN ct USING (b) LEFT JOIN cr USING (b) CROSS JOIN tot
),
sc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
    CAST(SUM(mn) AS BIGINT) AS llr_millinats
  FROM terms GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(n_feats, 0) AS n_feats,
  coalesce(llr_millinats, 0) AS llr_millinats,
  CAST(floor(coalesce(llr_millinats, 0) / greatest(coalesce(n_feats, 0), 1)) AS BIGINT)
    AS mean_millinats,
  (floor(coalesce(llr_millinats, 0) / greatest(coalesce(n_feats, 0), 1)) >= -280)
    AS keep_dsir
FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d LEFT JOIN sc USING (doc_id)
"""


@register("dsir1_importance_weights", _DSIR1_ORACLE)
def dsir1_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.curation import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(
        docs.filter(F.col("source") != "src0"),
        docs.filter((F.col("source") == "src0") & (F.col("doc_id") < 500)),
        keep_millinats=-280,
    )


# ---------------------------------------------------------------------------
# BPE1 — learned-subword tokenization. Training is iterative and
# data-dependent (the ivf/pk2 class: driver-looped, not SQL-oracle-
# expressible), so this is a rows-only registry entry; the algorithm is
# unit-pinned against the Sennrich et al. worked example in
# tests/test_bpe.py. 20 merges learned on the src0 slice, applied to
# the rest of the corpus; output is integer counts only (stable).
# ---------------------------------------------------------------------------

# Session-shared trained artifacts (the r10 ANN-cache rule applied to the
# other train-per-call entries): bpe1's merge list and ql2's weights are
# deterministic driver-side artifacts a production pipeline trains once
# and reuses — retraining per registry call was pure sweep cost (bpe1
# 4.3s, ql2 4.0s in the r10 record). Deterministic training keeps the
# committed golden hashes byte-identical cached or fresh.


@stores.session_store
def _bpe1_merges(spark: SparkSession, sf_dir: str):
    """bpe1's merge list, trained once per session on the src0 corpus."""
    from etl_stack_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs.filter(F.col("source") == "src0"), n_merges=20)


@register("bpe1_subword_tokenize")
def bpe1_subword_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.bpe import bpe_tokenize

    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe1_merges(spark, sf_dir)
    return (
        bpe_tokenize(docs.filter(F.col("source") != "src0"), merges)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.size("subwords")).cast("long").alias("n_subwords"),
        )
    )


# ---------------------------------------------------------------------------
# ESD1 — exact-substring span dedup: duplicated k-token spans are CUT
# from higher-id documents (lowest id owns each gram), the remainder of
# the document survives. k=4 here (sandbox docs are ~50 tokens; the
# operator default is the paper's 50) so both branches are exercised:
# at sf0.01, 233/500 docs lose at least one span.
# ---------------------------------------------------------------------------

_ESD1_K = 4

_ESD1_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
    unnest(range(1, greatest(len(toks) - ({_ESD1_K} - 1), 0) + 1)) AS pos, toks
  FROM t
),
g2 AS (
  SELECT doc_id, pos,
    {_H60.format(expr=f"array_to_string(toks[pos:pos+{_ESD1_K}-1], ' ')")} AS gh
  FROM g
),
o AS (SELECT gh, MIN(doc_id) AS owner FROM g2 GROUP BY gh),
d AS (
  SELECT g2.doc_id, list(DISTINCT g2.pos ORDER BY g2.pos) AS dups
  FROM g2 JOIN o USING (gh) WHERE g2.doc_id > o.owner GROUP BY g2.doc_id
),
r AS (
  SELECT t.doc_id, toks, coalesce(d.dups, []) AS ds
  FROM t LEFT JOIN d USING (doc_id)
),
f AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
    list_filter(range(1, len(toks) + 1),
      j -> len(list_filter(ds, p -> j >= p AND j <= p + ({_ESD1_K} - 1))) = 0
    ) AS keep_idx
  FROM r
)
SELECT doc_id,
  coalesce(array_to_string(list_transform(keep_idx, j -> toks[j]), ' '), '')
    AS deduped_text,
  CAST(n_tokens AS INT) AS n_tokens,
  CAST(n_tokens - len(keep_idx) AS INT) AS n_removed,
  round((n_tokens - len(keep_idx)) / greatest(n_tokens, 1), 6) AS removed_frac
FROM f
"""


@register("esd1_substring_dedup", _ESD1_ORACLE)
def esd1_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.curation import exact_substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_dedup(docs, k=_ESD1_K)


# ---------------------------------------------------------------------------
# QL1 — model-based quality filter: fasttext-shape linear classifier
# over hashing-trick token buckets. The weight table here is derived
# deterministically from the bucket index (hash of 'w<bucket>' mapped
# to [-1000, 1000] milli-units) so both engines build the identical
# "model"; in production the same operator takes trained weights from
# parquet. Threshold 0 ⇒ both verdicts occur (logits are ~symmetric).
# ---------------------------------------------------------------------------

_QL1_DIM = 4096

_QL1_ORACLE = f"""
WITH w AS (
  SELECT bucket,
    CAST({_H60.format(expr="'w' || CAST(bucket AS VARCHAR)")} % 2001 - 1000 AS BIGINT) AS w_milli
  FROM (SELECT CAST(range AS BIGINT) AS bucket FROM range({_QL1_DIM}))
),
t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
occ AS (
  SELECT doc_id, {_H60.format(expr="tok")} % {_QL1_DIM} AS bucket
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
),
per AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM occ GROUP BY doc_id, bucket),
dots AS (
  SELECT per.doc_id,
    SUM(coalesce(w.w_milli, 0) * per.cnt) AS dot, SUM(per.cnt) AS n
  FROM per LEFT JOIN w USING (bucket) GROUP BY per.doc_id
)
SELECT t.doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(floor(coalesce(dot, 0) / greatest(coalesce(n, 0), 1)) AS BIGINT) AS logit_milli,
  (floor(coalesce(dot, 0) / greatest(coalesce(n, 0), 1)) >= 0) AS keep_quality
FROM t LEFT JOIN dots USING (doc_id)
"""


@register("ql1_linear_quality", _QL1_ORACLE)
def ql1_linear_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.curation import linear_quality_classifier
    from etl_stack_spark.operators.text import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    weights = spark.range(_QL1_DIM).select(
        F.col("id").alias("bucket"),
        (
            portable_hash60(F.concat(F.lit("w"), F.col("id").cast("string"))) % 2001
            - 1000
        ).alias("w_milli"),
    )
    return linear_quality_classifier(docs, weights, dim=_QL1_DIM)


# ---------------------------------------------------------------------------
# QL2 — train the quality filter IN the engine, then apply it: the
# FineWeb-edu distillation loop (label a slice with the teacher — here
# the tx2 heuristic standing in for LLM labels — train the cheap
# fasttext-shape student on it, run the student over the corpus).
# Rows-only registry entry: full-batch GD sums floats in shuffle order,
# so weights are deterministic in shape but not bit-reproducible
# (the pk2/bpe1 class); learnability is unit-pinned on a separable
# corpus in tests/test_curation.py.
# ---------------------------------------------------------------------------


@stores.session_store
def _ql2_weights(spark: SparkSession, sf_dir: str):
    """ql2's classifier weights, trained once per session on the
    quality-score teacher labels."""
    from etl_stack_spark.operators.curation import train_linear_classifier
    from etl_stack_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    teacher = docs.filter(F.col("source") == "src0").select(
        "doc_id",
        "text",
        (quality_score(F.col("text")) >= 0.4).cast("int").alias("label"),
    )
    return train_linear_classifier(teacher, epochs=6)


@register("ql2_train_apply")
def ql2_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.curation import linear_quality_classifier

    docs = load_table(spark, sf_dir, "documents")
    return linear_quality_classifier(
        docs.filter(F.col("source") != "src0"), _ql2_weights(spark, sf_dir)
    ).select("doc_id", "n_tokens", "keep_quality")


# ---------------------------------------------------------------------------
# ZR1 — deflate compression-ratio quality signal (rows-only tier: no SQL
# engine exposes zlib; semantics pinned by planted-value units in
# tests/test_curation.py). Output is deterministic for a given zlib
# build; the Arrow batch path is the declared Python surface.
# ---------------------------------------------------------------------------
@register("zr1_compression_ratio")
def zr1_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.curation import compression_ratio_milli

    docs = load_table(spark, sf_dir, "documents")
    return (
        compression_ratio_milli(docs)
        .select("doc_id", "zratio_milli")
        .withColumn("flag_boilerplate", (F.col("zratio_milli") < 200).cast("int"))
    )


# ---------------------------------------------------------------------------
# LM2 — perplexity-bucket corpus pruning (round 7): the CCNet recipe on
# top of lm1's trigram NLL — per-doc average NLL per trigram (integer
# milli-milli-nats via DIV, exact both engines), decile-bucketed with
# ntile(10) over a fully-deterministic order, keep = best 7 deciles
# (CCNet keeps head+middle ≈ 2/3 and drops the worst tail). Docs too
# short to score (< 3 chars, no trigrams) are excluded on both sides.
# ---------------------------------------------------------------------------
_LM2_ORACLE = f"""
WITH base AS ({_LM1_ORACLE}),
ppx AS (
  SELECT doc_id, nll_millinats * 1000 // n_trigrams AS ppx_milli
  FROM base WHERE n_trigrams > 0
)
SELECT doc_id, CAST(ppx_milli AS BIGINT) AS ppx_milli,
       CAST(ntile(10) OVER (ORDER BY ppx_milli, doc_id) AS INT) AS decile,
       ntile(10) OVER (ORDER BY ppx_milli, doc_id) <= 7 AS keep
FROM ppx
"""


@register("lm2_perplexity_prune", _LM2_ORACLE)
def lm2_perplexity_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    scored = lm_scored(spark, sf_dir)
    ppx = scored.filter(F.col("n_trigrams") > 0).select(
        "doc_id",
        F.expr("nll_millinats * 1000 div n_trigrams").alias("ppx_milli"),
    )
    # global ntile over a per-doc stats table: dimension-cardinality, the
    # rfm1-documented regime (exact breakpoints past ~10^7 docs)
    w = Window.orderBy("ppx_milli", "doc_id")
    return ppx.select(
        "doc_id",
        "ppx_milli",
        F.ntile(10).over(w).cast("int").alias("decile"),
    ).withColumn("keep", F.col("decile") <= 7)


# ---------------------------------------------------------------------------
# LM2B — lm2's EXACT output through the scalable ranking path (VERDICT
# r7 task 3, the rfm1/rfm2 pattern): the decile comes from
# global_row_number (range repartition + local sorts + broadcast
# offsets — no single-partition window) and the closed-form
# ntile_from_rank bucket. Same oracle as lm2, so a hash match proves
# the distributed rank exact — and a corpus pruner is exactly the
# operator that sees 10^9 docs, where lm2's global ntile(10) window
# hits the rfm1-documented single-partition wall.
# ---------------------------------------------------------------------------
@register("lm2b_perplexity_prune_scalable", _LM2_ORACLE)
def lm2b_perplexity_prune_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.rank import global_row_number, ntile_from_rank

    scored = lm_scored(spark, sf_dir)
    ppx = scored.filter(F.col("n_trigrams") > 0).select(
        "doc_id",
        F.expr("nll_millinats * 1000 div n_trigrams").alias("ppx_milli"),
    ).localCheckpoint(eager=False)  # the count and the rank pass share it
    n = ppx.count()
    ranked = global_row_number(
        ppx, [F.col("ppx_milli"), F.col("doc_id")], rank_col="_gr"
    )
    return (
        ranked.withColumn("decile", ntile_from_rank("_gr", n, 10))
        .drop("_gr")
        .withColumn("keep", F.col("decile") <= 7)
        .select("doc_id", "ppx_milli", "decile", "keep")
    )


# ---------------------------------------------------------------------------
# BP1 — line-level boilerplate removal (CCNet §3.1 / Dolma paragraph
# hygiene): a line occurring in >= 3 distinct documents corpus-wide is
# furniture and every occurrence is dropped; survivors reassemble in
# order. The synthetic corpus has no newlines, so the segmentation
# adapter is fixed 10-token windows (the same trick as rep2's grams),
# built identically in both engines. Measured at sf0.01: 15 boilerplate
# lines, 36 docs touched, none fully emptied — non-vacuous both ways.
# ---------------------------------------------------------------------------

_BP1_LINE_WIDTH = 10

_BP1_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ln AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(toks[(i-1)*{_BP1_LINE_WIDTH}+1:(i-1)*{_BP1_LINE_WIDTH}+{_BP1_LINE_WIDTH}], ' ') AS line
  FROM t, unnest(range(1, CAST(ceil(len(toks)/{_BP1_LINE_WIDTH}.0) AS BIGINT) + 1)) AS u(i)
),
h AS (SELECT doc_id, pos, line, {_H60.format(expr='line')} AS lh FROM ln),
freq AS (SELECT lh, COUNT(DISTINCT doc_id) AS n_docs FROM h GROUP BY 1),
boiler AS (SELECT lh FROM freq WHERE n_docs >= 3),
kept AS (SELECT doc_id, pos, line FROM h ANTI JOIN boiler USING (lh)),
reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
               CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1),
nl AS (SELECT doc_id, CAST(ceil(len(toks)/{_BP1_LINE_WIDTH}.0) AS BIGINT) AS n_lines FROM t)
SELECT nl.doc_id, coalesce(clean_text, '') AS clean_text, n_lines,
       coalesce(n_kept, 0) AS n_kept,
       n_lines - coalesce(n_kept, 0) AS n_removed,
       round((n_lines - coalesce(n_kept, 0)) / greatest(n_lines, 1), 6) AS boiler_frac
FROM nl LEFT JOIN reb USING (doc_id)
"""


def fixed_width_lines(text: F.Column, width: int = _BP1_LINE_WIDTH) -> F.Column:
    """Segment text into fixed ``width``-token pseudo-lines (the adapter
    for a corpus with no real newlines). Pure Column math — no shuffle."""
    toks = tokens(F.coalesce(text, F.lit("")))  # NULL text = empty doc
    n = F.ceil(F.size(toks) / F.lit(float(width))).cast("int")
    make = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(toks, (i - F.lit(1)) * width + 1, width), " "),
    )
    # sequence(1, 0) would yield a DESCENDING [1, 0] — guard empty docs
    return F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(make)


@register("bp1_boilerplate_lines", _BP1_ORACLE)
def bp1_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", fixed_width_lines(F.col("text")).alias("lines")
    )
    return remove_boilerplate_lines(
        docs, id_col="doc_id", lines_col="lines", scope_cols=(), min_docs=3
    )


# ---------------------------------------------------------------------------
# SEL1 — token-budget corpus selection ("take the best docs until the
# budget"): rank by a quality key, cumulative token sum in rank order,
# keep while run_tok <= 50% of corpus tokens. The cumsum is EXACT and
# scalable — global_running_sum (the rfm2 decomposition extended from
# ranks to prefix sums: range repartition + local running sums +
# broadcast per-partition totals), never a single-partition window.
# Quality key = chars-per-token density (deterministic, shared with the
# oracle); doc_id breaks ties into a total order.
# ---------------------------------------------------------------------------

_SEL1_ORACLE = f"""
WITH t AS (SELECT doc_id, n_chars, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents),
q AS (SELECT doc_id, n_tok, round(n_chars / greatest(n_tok, 1), 6) AS q FROM t),
o AS (SELECT doc_id, n_tok, q,
        CAST(SUM(n_tok) OVER (ORDER BY q DESC, doc_id ASC
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_tok
      FROM q),
b AS (SELECT CAST(floor(SUM(n_tok) * 0.5) AS BIGINT) AS budget FROM t)
SELECT doc_id, n_tok, q, run_tok, run_tok <= budget AS selected FROM o, b
"""


@register("sel1_token_budget_selection", _SEL1_ORACLE)
def sel1_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.rank import global_running_sum

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "n_chars", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    q = t.withColumn(
        "q", F.round(F.col("n_chars") / F.greatest(F.col("n_tok"), F.lit(1)), 6)
    )
    ranked = global_running_sum(
        q.select("doc_id", "n_tok", "q"),
        order_by=[F.col("q").desc(), F.col("doc_id").asc()],
        value_col="n_tok",
        sum_col="run_tok",
    )
    budget = t.agg(F.floor(F.sum("n_tok") * 0.5).cast("long").alias("budget"))
    return ranked.crossJoin(F.broadcast(budget)).select(
        "doc_id",
        "n_tok",
        "q",
        "run_tok",
        (F.col("run_tok") <= F.col("budget")).alias("selected"),
    )
