"""Text-analysis + dedup queries over ``documents`` with DuckDB oracles.

The oracle SQL is GENERATED from the same constants as the Spark operators
(LANG_MARKERS, MINHASH_AB, …) — one source of truth, no drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
)
from etl_stack_spark.operators.text import (
    BAND_SIZE,
    LANG_MARKERS,
    MINHASH_AB,
    MINHASH_PRIME,
    N_MINHASH,
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_score,
    simhash16,
    token_count,
)
from etl_stack_spark.queries import register, stores
from etl_stack_spark.session import load_table

# --- session MinHash stores: signatures → pairs → clusters ------------------
# Three stacked staging tables, each the materialized output of the one
# before (exactly the intermediates a production dedup run writes):
#   sig_base      (doc_id, mh0..mh15)            — signatures at ingest
#   pair_base     (doc_a, doc_b, est_jaccard)    — confirmed pairs = dd2
#   cluster_base  (doc_id, cluster_id, is_dup)   — CC survivors  = dd6
# Subset consumers (the washes' survivor sets) restrict pair_base with
# two semi-joins — sound because banding is monotone under corpus
# restriction and verification is pairwise (proof + pins:
# operators/dedup.py::minhash_near_duplicates, tests/test_sig_store.py).
# A doc's 16-slot signature depends only on its text — never on which
# candidate set it is banded against — so every MinHash consumer (dd2,
# dd6, dd8, split1, and the llm washes' near-dup stages) can read ONE
# per-(session, sf_dir) persisted signature table instead of re-running
# the shingle explode + 16 min-aggregations per query. This is the
# corpus_base / j6_base / trained-ANN precedent applied to the last
# recompute-per-call family; on a cluster the same role is played by a
# signatures staging table materialized once at ingest (the Dolma/
# FineWeb "minhash signatures" intermediate). Store is computed over ALL
# documents (the superset every consumer needs); subset consumers
# semi-join it down inside minhash_near_duplicates. All four are session
# stores (queries/stores.py).


def clear_sig_cache() -> None:
    """Unpersist and drop the session signature/pair/cluster stores
    (test hook)."""
    stores.clear(__name__)


@stores.session_store
def sig_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, mh0..mh15) over ALL documents at the registry
    defaults (n=3 shingles, 16 hashes) — the session signature store."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return minhash_signatures(docs).persist(StorageLevel.MEMORY_AND_DISK)


@stores.session_store
def pair_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted CONFIRMED near-dup pairs (doc_a, doc_b, est_jaccard)
    over ALL documents at the registry constants (n=3, 16 hashes, 8x2
    bands, threshold 0.5) — the session duplicate-pairs store. Banding
    is monotone under corpus restriction and verification is pairwise
    (operators/dedup.py::minhash_near_duplicates), so any subset
    consumer (the llm washes' survivor sets, the non-src0 slice) gets
    its EXACT pair list by restricting this table with two semi-joins.
    Production materializes this once per dedup run (the FineWeb/Dolma
    duplicate-pairs intermediate); dd2 IS this table."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, threshold=0.5, sigs=sig_base(spark, sf_dir)
    ).persist(StorageLevel.MEMORY_AND_DISK)


@stores.session_store
def cluster_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, cluster_id, is_duplicate) over ALL documents —
    the session dedup-clusters store (connected components over
    pair_base, min-id survivor). dd6 IS this table; dd8's survivorship
    window and split1's leakage-safe fold both read it instead of
    re-running the CC loop per query, the way production splits read the
    written clusters table."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.dedup import minhash_cluster_dedup

    docs = load_table(spark, sf_dir, "documents")
    return minhash_cluster_dedup(
        docs, pairs=pair_base(spark, sf_dir)
    ).persist(StorageLevel.MEMORY_AND_DISK)


@stores.session_store
def sem_pair_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted within-label semantic duplicate pairs (_ida < _idb,
    cosine ≥ 0.3) over ALL embeddings — the SemDeDup analog of
    pair_base. Valid for any subset consumer because the cluster column
    (``label``) is intrinsic to each row, so the pair relation restricts
    exactly (semantic_dup_pairs' contract). sd1 and llm3's final
    SemDeDup stage both read it."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.dedup import semantic_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dup_pairs(emb, threshold=0.3).persist(
        StorageLevel.MEMORY_AND_DISK
    )


# --- shared DuckDB fragments (match operators/text.py semantics) -----------

_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"

_SHINGLES = (
    f"list_distinct(list_transform(range(1, greatest(len({_TOKS}) - 2, 0) + 1), "
    f"i -> array_to_string(({_TOKS})[i:i+2], ' ')))"
)

_H60 = "('0x' || substr(sha256({expr}), 1, 15))::BIGINT"


def _marker_count(words: list[str]) -> str:
    pat = "\\b(" + "|".join(words) + ")\\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


# ---------------------------------------------------------------------------
# TX1 — language ID (argmax marker counts, tie → LANG_MARKERS order)
# ---------------------------------------------------------------------------
def _lang_oracle() -> str:
    cols = ", ".join(
        f"{_marker_count(ws)} AS c_{lang}" for lang, ws in LANG_MARKERS
    )
    langs = [lang for lang, _ in LANG_MARKERS]
    cases = []
    for i, lang in enumerate(langs):
        geq = " AND ".join(f"c_{lang} >= c_{other}" for other in langs[i + 1 :])
        cond = (geq + " AND " if geq else "") + f"c_{lang} > 0"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'unknown' END"
    return f"""
WITH counts AS (SELECT doc_id, lang AS true_lang, {cols} FROM documents)
SELECT doc_id, true_lang, {case_sql} AS pred_lang FROM counts
"""


@register("tx1_lang_id", _lang_oracle())
def tx1_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.col("lang").alias("true_lang"), lang_id(F.col("text")).alias("pred_lang")
    )


# ---------------------------------------------------------------------------
# TX2 — quality score
# ---------------------------------------------------------------------------
_ALL_MARKERS = [w for _, ws in LANG_MARKERS for w in ws]

_TX2_ORACLE = f"""
WITH feats AS (
  SELECT doc_id,
    length(text) AS n_chars,
    len({_TOKS}) AS n_tok,
    {_marker_count(_ALL_MARKERS)} AS sw,
    len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
  FROM documents
)
SELECT doc_id,
  round(4e-1 * (CASE WHEN n_chars >= 50 AND n_chars <= 5000 THEN 1e0 ELSE 0e0 END)
      + 4e-1 * least(1e0, sw * 5e0 / greatest(n_tok, 1))
      + 2e-1 * (CASE WHEN n_punct / greatest(n_chars, 1) <= 2e-1 THEN 1e0 ELSE 0e0 END), 6)
  AS quality
FROM feats
"""


@register("tx2_quality_score", _TX2_ORACLE)
def tx2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


# ---------------------------------------------------------------------------
# TX3 — token counting (whitespace + BPE-ish)
# ---------------------------------------------------------------------------
_TX3_ORACLE = f"""
SELECT doc_id,
  CAST(len({_TOKS}) AS INT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '\\w{{1,4}}|[^\\w\\s]')) AS INT) AS n_bpe_ish
FROM documents
"""


@register("tx3_token_counts", _TX3_ORACLE)
def tx3_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_ish"),
    )


# ---------------------------------------------------------------------------
# TX4 — document fingerprint (rolling-normalized sha256)
# ---------------------------------------------------------------------------
_TX4_ORACLE = r"""
SELECT doc_id,
  sha256(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
                             '\s+', ' ', 'g'))) AS fp
FROM documents
"""


@register("tx4_fingerprint", _TX4_ORACLE)
def tx4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# DD1 — exact dedup by fingerprint
# ---------------------------------------------------------------------------
_DD1_ORACLE = r"""
WITH fp AS (
  SELECT doc_id,
    sha256(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
                               '\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       (doc_id <> MIN(doc_id) OVER (PARTITION BY fp)) AS is_duplicate
FROM fp
"""


@register("dd1_exact_dedup", _DD1_ORACLE)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicates(docs).select("doc_id", "canonical_id", "is_duplicate")


# ---------------------------------------------------------------------------
# DD2 — MinHash + LSH near-dup pairs
# ---------------------------------------------------------------------------
def _minhash_ctes() -> tuple[str, str]:
    """(cte_body, final_pairs_select) — split so dd6's recursive-CTE
    component oracle can reuse the pair pipeline as inner CTEs."""
    mh_cols = ", ".join(
        f"min((h * {a} + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    n_bands = N_MINHASH // BAND_SIZE
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, mh{i}::VARCHAR || '_' || mh{j}::VARCHAR AS band_key FROM sig".format(
            b=b, i=b * BAND_SIZE, j=b * BAND_SIZE + 1
        )
        for b in range(n_bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
    )
    h_expr = _H60.format(expr="shingle")
    ctes = f"""sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
),
h AS (SELECT doc_id, ({h_expr} % {MINHASH_PRIME}) AS h FROM sh),
sig AS (SELECT doc_id, {mh_cols} FROM h GROUP BY doc_id),
bands AS ({band_selects}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band, band_key)
  WHERE a.doc_id < b.doc_id
)"""
    final = f"""SELECT doc_a, doc_b, round(({agree}) / {float(N_MINHASH)}, 6) AS est_jaccard
FROM pairs
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
WHERE ({agree}) / {float(N_MINHASH)} >= 0.5"""
    return ctes, final


def _minhash_oracle() -> str:
    ctes, final = _minhash_ctes()
    return f"""
WITH {ctes}
{final}
"""


@register("dd2_minhash_lsh", _minhash_oracle())
def dd2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dd2's output IS the session pair store (built here on first call,
    # read by dd6/dd8/split1 and the llm washes' near-dup stages)
    return pair_base(spark, sf_dir)


# ---------------------------------------------------------------------------
# DD6 — cluster-based dedup: connected components over the MinHash pair
# graph (recursive-CTE oracle), survivor = min id per component
# ---------------------------------------------------------------------------
def _dd6_oracle() -> str:
    ctes, final = _minhash_ctes()
    return f"""
WITH RECURSIVE {ctes},
mh AS ({final}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM mh
  UNION
  SELECT doc_b AS a, doc_a AS b FROM mh
),
reach AS (
  SELECT doc_id AS p, doc_id AS q FROM documents
  UNION
  SELECT r.p, e.b FROM reach r JOIN edges e ON r.q = e.a
)
SELECT p AS doc_id, MIN(q) AS cluster_id, (p <> MIN(q)) AS is_duplicate
FROM reach GROUP BY p
"""


@register("dd6_cluster_dedup", _dd6_oracle())
def dd6_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dd6's output IS the session cluster store (CC over the pair store;
    # dd8's survivorship window and split1's fold read the same table)
    return cluster_base(spark, sf_dir)


# ---------------------------------------------------------------------------
# DD3 — exact n-gram Jaccard pairs
# ---------------------------------------------------------------------------
_DD3_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
  round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n_shingles + sb.n_shingles - n_common) >= 0.4
"""


@register("dd3_ngram_jaccard", _DD3_ORACLE)
def dd3_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.4)


# ---------------------------------------------------------------------------
# DD4 — SimHash (16-bit) per document
# ---------------------------------------------------------------------------
def _simhash_oracle() -> str:
    h_expr = _H60.format(expr="t")
    bits = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h & {1 << j}) > 0 THEN 1 ELSE -1 END) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(16)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS t FROM documents
),
th AS (SELECT doc_id, ({h_expr} % {MINHASH_PRIME}) AS h FROM tok)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM th GROUP BY doc_id
"""


@register("dd4_simhash", _simhash_oracle())
def dd4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash16(F.col("text")).alias("simhash"))


# ---------------------------------------------------------------------------
# IR1 — BM25 lexical top-k (milli-unit quantized; see bm25_rank docstring
# for why the oracle comparison can be exact despite the IDF's ln()).
# ---------------------------------------------------------------------------
_IR1_TERMS = ("join", "hash", "scan", "window", "customer")

_IR1_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_total FROM dl),
qt(tok) AS (VALUES {", ".join(f"('{t}')" for t in _IR1_TERMS)}),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks JOIN qt USING (tok) GROUP BY doc_id, tok),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (t_total / n_docs)))
           * 1000 + 0.5) AS BIGINT) AS milli
  FROM tf JOIN dfreq USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, stats
)
SELECT doc_id, CAST(SUM(milli) AS BIGINT) AS score_millis
FROM scored GROUP BY doc_id
ORDER BY score_millis DESC, doc_id
LIMIT 20
"""


@register("ir1_bm25_topk", _IR1_ORACLE)
def ir1_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import bm25_rank

    return bm25_rank(load_table(spark, sf_dir, "documents"), list(_IR1_TERMS))


# ---------------------------------------------------------------------------
# DD7 — SUB-DOCUMENT (chunk-level) dedup, the Dolma paragraph-dedup shape:
# re-crawled copies share every 120-char chunk with their original, and
# only the FIRST occurrence of each chunk (by doc_id, page) survives. The
# synthetic corpus has no natural sub-doc duplication, so the candidate
# stream injects deterministic re-crawls (doc_id % 10 = 0 cloned at
# doc_id + 1000000) — the scd1 trick: both engines build the same
# scenario from SQL alone.
# ---------------------------------------------------------------------------
_DD7_ORACLE = """
WITH cand AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
),
chunks AS (
  SELECT doc_id, unnest(range(0, CAST(ceil(strlen(text) / 120e0) AS BIGINT))) AS i, text
  FROM cand
),
cut AS (
  SELECT doc_id, i AS page, substr(text, CAST(i * 120 + 1 AS INT), 120) AS chunk
  FROM chunks
),
ranked AS (
  SELECT doc_id, page, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, page) AS rn
  FROM cut
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn = 1 THEN length(chunk) ELSE 0 END) AS BIGINT) AS kept_len
FROM ranked GROUP BY doc_id
"""


@register("dd7_chunk_dedup", _DD7_ORACLE)
def dd7_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One chunk-keyed shuffle (the window) + one doc-keyed agg. 100 TB
    note: the chunk window's hotspot is boilerplate chunks (cookie
    banners etc. at web scale) — AQE skew handling applies since the
    partition key is the chunk value itself; survivors are decided by
    a total (doc_id, page) order, so the result is replay-stable."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cand = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    n_chunks = F.ceil(F.length("text") / 120.0).cast("long")
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1)).otherwise(
        F.array().cast("array<long>")
    )
    cut = cand.select("doc_id", F.explode(idx).alias("page"), "text").select(
        "doc_id",
        "page",
        F.expr("substring(text, CAST(page * 120 + 1 AS INT), 120)").alias("chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "page")
    ranked = cut.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rn") == 1, F.length("chunk")).otherwise(0)).alias("kept_len"),
    )


# ---------------------------------------------------------------------------
# SD1 — SemDeDup: cluster-scoped semantic dedup over the embeddings table
# (label = the cluster; learned-centroid clustering is the unit-tested
# ivf_train path). Within-cluster cosine >= 0.3 -> higher id drops.
# 0.3 sits above the q99 of the within-label cosine distribution
# (max 0.475, q99 0.295 at sf0.01) so the test exercises real drops
# (~19% of rows) instead of passing vacuously.
# ---------------------------------------------------------------------------
_SD1_ORACLE = """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
losers AS (
  SELECT DISTINCT b.vec_id
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.vec, b.vec)
        / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))), 6)
        >= 0.3
)
SELECT vec_id, label FROM v ANTI JOIN losers USING (vec_id)
"""


@register("sd1_semantic_dedup", _SD1_ORACLE)
def sd1_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.3,
        pairs=sem_pair_base(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# LANG2 — in-engine-trained multinomial Naive Bayes language ID (round 7):
# train on even doc_ids against the true `lang` label, predict the odd
# half — a REAL train/apply split, computed in ONE declarative pass (NB
# training is a closed-form aggregation, unlike ql2's iterative SGD).
# Laplace-smoothed token log-probs quantized to integer milli-nats
# (floor(ln(x)*1000+0.5), the lm1/ir1 portability discipline), so both
# engines agree bit-for-bit on every score. Unseen tokens enter through
# the per-class default: score = prior + n·q_def + Σ_seen (q_logp − q_def),
# which needs only an INNER token join plus a 5-row class grid.
# tx1 is the rule-based marker heuristic; this is its learned upgrade.
#
# Accuracy note: the synthetic corpus carries NO lexical signal for its
# `lang` column (every doc draws from the same English-ish token pool —
# the marker words hit 'en' uniformly across labels), so NB scores near
# chance here BY CONSTRUCTION; what the oracle pins is the exactness of
# the trained model and every score, which is what transfers to real
# corpora where the separation exists. The classifier mechanics (does a
# planted signal get learned?) are pinned separately by the unit test
# test_nb_lang_id_learns_planted_signal.
# ---------------------------------------------------------------------------
def _lang2_oracle() -> str:
    return f"""
WITH base AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
tr_tok AS (SELECT lang, unnest(toks) AS tok FROM base WHERE doc_id % 2 = 0),
cls_tok AS (SELECT lang, tok, count(*) AS cnt FROM tr_tok GROUP BY lang, tok),
cls_tot AS (SELECT lang, count(*) AS tot FROM tr_tok GROUP BY lang),
voc AS (SELECT count(DISTINCT tok) AS v FROM tr_tok),
pri AS (
  SELECT lang, CAST(floor(ln(count(*) /
           (SELECT count(*)::DOUBLE FROM base WHERE doc_id % 2 = 0)) * 1000 + 0.5)
         AS BIGINT) AS q_prior
  FROM base WHERE doc_id % 2 = 0 GROUP BY lang
),
defaults AS (
  SELECT c.lang,
         CAST(floor(ln(1.0 / (c.tot + v.v)) * 1000 + 0.5) AS BIGINT) AS q_def
  FROM cls_tot c, voc v
),
delta AS (
  SELECT ct.lang, ct.tok,
         CAST(floor(ln((ct.cnt + 1.0) / (c.tot + v.v)) * 1000 + 0.5) AS BIGINT)
           - d.q_def AS q_delta
  FROM cls_tok ct JOIN cls_tot c USING (lang) JOIN defaults d USING (lang), voc v
),
te AS (
  SELECT doc_id, lang AS true_lang, toks, len(toks) AS n
  FROM base WHERE doc_id % 2 = 1
),
te_tok AS (SELECT doc_id, unnest(toks) AS tok FROM te),
msum AS (
  SELECT t.doc_id, dl.lang, CAST(SUM(dl.q_delta) AS BIGINT) AS sdelta
  FROM te_tok t JOIN delta dl USING (tok) GROUP BY t.doc_id, dl.lang
),
grid AS (
  SELECT te.doc_id, te.true_lang, d.lang,
         p.q_prior + te.n * d.q_def + COALESCE(m.sdelta, 0) AS score
  FROM te CROSS JOIN defaults d
  JOIN pri p ON p.lang = d.lang
  LEFT JOIN msum m ON m.doc_id = te.doc_id AND m.lang = d.lang
)
SELECT doc_id, true_lang, lang AS pred_lang,
       CAST(score AS BIGINT) AS score_millinats
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS r
      FROM grid)
WHERE r = 1
"""


@register("lang2_nb_train_apply", _lang2_oracle())
def lang2_nb_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import nb_lang_train_apply

    return nb_lang_train_apply(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# DD8 — quality-aware near-dup survivorship (round 7): dd6's components,
# but the survivor is the HIGHEST-QUALITY doc per cluster (tie → min id)
# — the FineWeb/Dolma production rule. The oracle recomputes clusters
# via the recursive CTE and quality via tx2's formula, independently.
# ---------------------------------------------------------------------------
_QUALITY_EXPR = f"""round(
  4e-1 * (CASE WHEN length(text) >= 50 AND length(text) <= 5000 THEN 1e0 ELSE 0e0 END)
  + 4e-1 * least(1e0, {_marker_count(_ALL_MARKERS)} * 5e0 / greatest(len({_TOKS}), 1))
  + 2e-1 * (CASE WHEN len(regexp_extract_all(text, '[^\\w\\s]'))
                      / greatest(length(text), 1) <= 2e-1 THEN 1e0 ELSE 0e0 END), 6)"""


def _dd8_oracle() -> str:
    ctes, final = _minhash_ctes()
    return f"""
WITH RECURSIVE {ctes},
mh AS ({final}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM mh
  UNION
  SELECT doc_b AS a, doc_a AS b FROM mh
),
reach AS (
  SELECT doc_id AS p, doc_id AS q FROM documents
  UNION
  SELECT r.p, e.b FROM reach r JOIN edges e ON r.q = e.a
),
clus AS (SELECT p AS doc_id, MIN(q) AS cluster_id FROM reach GROUP BY p),
qual AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM documents),
j AS (SELECT c.doc_id, c.cluster_id, q.quality FROM clus c JOIN qual q USING (doc_id)),
surv AS (
  SELECT cluster_id, doc_id AS survivor_id FROM (
    SELECT cluster_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS r
    FROM j
  ) WHERE r = 1
)
SELECT j.doc_id, j.cluster_id, j.quality, s.survivor_id,
       j.doc_id = s.survivor_id AS keep
FROM j JOIN surv s USING (cluster_id)
"""


@register("dd8_quality_survivor", _dd8_oracle())
def dd8_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.dedup import quality_survivor_dedup
    # runtime import: corpus_q imports this module at load time
    from etl_stack_spark.queries.corpus_q import corpus_base

    # clusters= (not pairs=): the session cluster store IS the finished
    # CC assignment over this full corpus (dd6's output), so dd8 skips
    # the per-call label-propagation loop outright — the survivorship
    # window is the only work left (guide §2.4: remove the pass, not
    # just its shuffles). Full-corpus injection satisfies the exactness
    # contract in quality_survivor_dedup's docstring.
    return quality_survivor_dedup(
        load_table(spark, sf_dir, "documents"),
        clusters=cluster_base(spark, sf_dir),
        qual=corpus_base(spark, sf_dir)["scored"],
    )


# ---------------------------------------------------------------------------
# SPLIT1 — leakage-safe train/valid/test split (the Lee et al. / Pile
# rule): assign WHOLE near-dup clusters, never documents, so no
# near-duplicate pair straddles a split boundary — the contamination
# that inflates eval scores when splits are drawn per-document. Fold =
# portable hash of the cluster id (deterministic, engine-shared),
# 8/1/1. Rides dd6's banded cluster machinery and its recursive-CTE
# oracle; at 100 TB this is one extra map-side expression on the
# cluster output.
# ---------------------------------------------------------------------------
def _split1_oracle() -> str:
    ctes, final = _minhash_ctes()
    fold = _H60.format(expr="CAST(cluster_id AS VARCHAR)")
    return f"""
WITH RECURSIVE {ctes},
mh AS ({final}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM mh
  UNION
  SELECT doc_b AS a, doc_a AS b FROM mh
),
reach AS (
  SELECT doc_id AS p, doc_id AS q FROM documents
  UNION
  SELECT r.p, e.b FROM reach r JOIN edges e ON r.q = e.a
),
cl AS (SELECT p AS doc_id, MIN(q) AS cluster_id FROM reach GROUP BY p),
f AS (SELECT doc_id, cluster_id, CAST({fold} % 10 AS INT) AS fold FROM cl)
SELECT doc_id, cluster_id, fold,
  CASE WHEN fold <= 7 THEN 'train' WHEN fold = 8 THEN 'valid' ELSE 'test' END AS split
FROM f
"""


@register("split1_leakage_safe", _split1_oracle())
def split1_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import portable_hash60

    clusters = cluster_base(spark, sf_dir)
    fold = (portable_hash60(F.col("cluster_id").cast("string")) % 10).cast("int")
    return clusters.select(
        "doc_id",
        "cluster_id",
        fold.alias("fold"),
        F.when(fold <= 7, "train")
        .when(fold == 8, "valid")
        .otherwise("test")
        .alias("split"),
    )
