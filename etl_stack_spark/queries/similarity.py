"""Similarity-search queries over ``embeddings`` with DuckDB oracles.

Query set = vec_id < 10. Cosine parity note: both engines compute the dot
product as a sequential left-to-right fold over doubles (Spark
``aggregate``; DuckDB ``list_dot_product``), so scores match bitwise and
ranks agree; scores are rounded to 6dp in the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.operators.dedup import embedding_near_duplicates_lsh
from etl_stack_spark.operators.similarity import (
    N_HYPERPLANES,
    brute_force_topk,
    hyperplane,
    lsh_bucketed_topk,
)
from etl_stack_spark.queries import register, stores
from etl_stack_spark.session import load_table

_COS = (
    "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
)


# ---------------------------------------------------------------------------
# Session-shared trained ANN index (VERDICT r9 task 2): pq1 and ivfpq1
# each used to retrain codebooks + re-encode the corpus PER CALL — 5.8s
# and 9.3s of the full sweep were Lloyd's-iteration driver latency and
# encode JIT repeated for identical deterministic results. Production
# builds an index ONCE and searches it many times (ann_maintenance keeps
# it current); the registry now mirrors that: the normalized corpus, the
# trained codebooks, and the encoded index are session stores
# (queries/stores.py). Training stays deterministic (hash-seeded, fixed
# iterations), so cached-vs-fresh outputs are bit-identical and the
# driver's rows-only checks are unaffected.
# ---------------------------------------------------------------------------


def clear_ann_cache() -> None:
    """Unpersist and drop this module's session stores (test/debug hook)."""
    stores.clear(__name__)


@stores.session_store
def _ann_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalized (vec_id, embedding) corpus, persisted once per
    (session, sf_dir) — the shared input of the trained-ANN family."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.similarity import l2_normalize

    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", l2_normalize(F.col("embedding")).alias("embedding"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


@stores.session_store
def _lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v double[], n, bucket) LSH staging frame over the
    embeddings corpus, persisted once per (session, sf_dir) — the
    bucketed-corpus table a production LSH pipeline materializes once.
    Seven consumers share it (ss2, ss4, dd5 on the buckets — same
    deterministic hyperplanes; ss1, ss3, and rrf1's vector leg read the
    v/n columns for exact scans; hn1 additionally reads the carried
    label), and dd5 alone re-reads it three times internally, so
    without the store the cast + norm (+ 9-hyperplane × 64-dim
    projection) ran nine times per bench pass instead of once."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.similarity import lsh_bucket_frame

    return lsh_bucket_frame(
        load_table(spark, sf_dir, "embeddings"), keep_cols=("label",)
    ).persist(StorageLevel.MEMORY_AND_DISK)


@stores.session_store
def _pq_trained(spark: SparkSession, sf_dir: str):
    """(codebooks, encoded corpus) — trained/encoded once per session.
    Sandbox dials m=4/k=8 (see pq1's comment); the eager checkpoint
    materializes the encode so searches never re-run it."""
    from etl_stack_spark.operators.similarity import pq_encode, pq_train

    cn = _ann_normalized(spark, sf_dir)
    books = pq_train(cn, dim=64, m=4, k=8, n_iter=2, sample=2048)
    codes = pq_encode(cn, books, dim=64).localCheckpoint(eager=True)
    return books, codes


@stores.session_store
def _ivfpq_trained(spark: SparkSession, sf_dir: str):
    """(centroids, codebooks, encoded index) — the IVFADC index as a
    materialized TABLE, built once per session (ann_maintenance is the
    streaming counterpart that keeps such an index current)."""
    from etl_stack_spark.operators.similarity import ivfpq_encode, ivfpq_train

    cn = _ann_normalized(spark, sf_dir)
    cents, books = ivfpq_train(
        cn, dim=64, n_cells=8, m=4, k=8, n_iter=1, sample=2048
    )
    index = ivfpq_encode(cn, cents, books, dim=64).localCheckpoint(eager=True)
    return cents, books, index


# ---------------------------------------------------------------------------
# SS1 — brute-force cosine top-k
# ---------------------------------------------------------------------------
_SS1_ORACLE = f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT query_id, vec_id, round({_COS}, 6) AS cosine
  FROM corpus CROSS JOIN q WHERE vec_id <> query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
"""


@register("ss1_bruteforce_topk", _SS1_ORACLE)
def ss1_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _lsh_bucketed(spark, sf_dir)
    queries = b.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    out = brute_force_topk(b, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# SS2 — LSH-bucketed approximate top-k (sign random projection)
# ---------------------------------------------------------------------------
def _bucket_sql(vec: str) -> str:
    terms = []
    for hk in range(N_HYPERPLANES):
        h = hyperplane(hk)
        lits = ", ".join(f"{x:.1f}e0" for x in h)
        terms.append(
            f"(CASE WHEN list_dot_product({vec}, [{lits}]::DOUBLE[]) > 0 THEN {1 << hk} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_SS2_ORACLE = f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
cb AS (SELECT *, {_bucket_sql('cv')} AS bucket FROM corpus),
qb AS (SELECT *, {_bucket_sql('qv')} AS bucket FROM q),
scored AS (
  SELECT query_id, vec_id, round({_COS}, 6) AS cosine
  FROM cb JOIN qb USING (bucket) WHERE vec_id <> query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
"""


@register("ss2_lsh_topk", _SS2_ORACLE)
def ss2_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _lsh_bucketed(spark, sf_dir)
    queries = b.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    out = lsh_bucketed_topk(b, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# SS4 — multi-probe LSH: query probes its bucket + all Hamming-1 neighbors
# ---------------------------------------------------------------------------
def _probe_list_sql(bucket_expr: str) -> str:
    xs = ", ".join(f"xor({bucket_expr}, {1 << hk})" for hk in range(N_HYPERPLANES))
    return f"[{bucket_expr}, {xs}]"


_SS4_ORACLE = f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
cb AS (SELECT *, {_bucket_sql('cv')} AS bucket FROM corpus),
qb AS (SELECT query_id, qv, unnest({_probe_list_sql(_bucket_sql('qv'))}) AS bucket FROM q0),
scored AS (
  SELECT query_id, vec_id, round({_COS}, 6) AS cosine
  FROM cb JOIN qb USING (bucket) WHERE vec_id <> query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
"""


@register("ss4_multiprobe_topk", _SS4_ORACLE)
def ss4_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _lsh_bucketed(spark, sf_dir)
    queries = b.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    out = lsh_bucketed_topk(b, queries, k=10, multi_probe=True)
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# DD5 — embedding cosine near-duplicate pairs (LSH-bucketed, the scale path)
# ---------------------------------------------------------------------------
# Candidates = pairs whose sign-projection buckets differ in ≤ 2 hyperplane
# signs (symmetric Hamming-1 probing), then EXACT cosine ≥ 0.9 filter.
# Round 1 shipped this as an all-pairs cross join — retired per review; the
# exact variant survives behind a corpus-size gate for recall measurement.
_DD5_ORACLE = f"""
WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
b AS (SELECT vec_id, vec, {_bucket_sql('vec')} AS bucket FROM v),
p AS MATERIALIZED (SELECT vec_id, unnest({_probe_list_sql('bucket')}) AS probe FROM b),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM p a JOIN p b2 ON a.probe = b2.probe AND a.vec_id < b2.vec_id
),
scored AS (
  SELECT id_a, id_b,
    round(list_dot_product(va.vec, vb.vec)
      / (sqrt(list_dot_product(va.vec, va.vec)) * sqrt(list_dot_product(vb.vec, vb.vec))), 6) AS cosine
  FROM cand JOIN v va ON cand.id_a = va.vec_id JOIN v vb ON cand.id_b = vb.vec_id
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.42e0
"""


@register("dd5_embedding_neardup", _DD5_ORACLE)
def dd5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold is corpus-relative: the synthetic embeddings top out at
    # cosine ≈ 0.51 between distinct vectors, so a production-style 0.9
    # gate would return an (uninformative) empty set at every SF — 0.42
    # keeps the oracle row exercising real pairs
    b = _lsh_bucketed(spark, sf_dir)
    return embedding_near_duplicates_lsh(b, threshold=0.42)


# ---------------------------------------------------------------------------
# VQ1 — int8 embedding quantization acceptance report: per-vector scale
# and EXACT max reconstruction error in integer micro-units. The whole
# quantize→dequantize→error chain is correctly-rounded IEEE ops in one
# deterministic order, so the doubles are bit-identical cross-engine
# before the micro-quantization even rounds them. Zero shuffles.
# ---------------------------------------------------------------------------
_VQ1_ORACLE = """
SELECT vec_id,
  CAST(len(v) AS INT) AS n_dims,
  CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS scale_micro,
  CAST(floor((CASE WHEN s = 0 THEN 0
       ELSE list_max(list_transform(v, x -> abs(x - floor(x / s * 127 + 0.5) * s / 127)))
       END) * 1000000 + 0.5) AS BIGINT) AS max_err_micro
FROM (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s
  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings)
)
"""


@register("vq1_embedding_quantize", _VQ1_ORACLE)
def vq1_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).withColumn("s", F.expr("array_max(transform(v, x -> abs(x)))"))
    err = F.expr(
        "CASE WHEN s = 0 THEN CAST(0 AS DOUBLE) "
        "ELSE array_max(transform(v, x -> abs(x - floor(x / s * 127 + 0.5) * s / 127))) END"
    )
    return base.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        F.floor(F.col("s") * 1000000 + 0.5).cast("long").alias("scale_micro"),
        F.floor(err * 1000000 + 0.5).cast("long").alias("max_err_micro"),
    )


# ---------------------------------------------------------------------------
# KNN1 — kNN graph construction: EVERY point's 3 nearest neighbors by
# exact cosine within its cluster label (the sd1 scoping: Σ|cell|²,
# never corpus²; at scale the label comes from ivf_train). The shape
# the query-vs-corpus family (ss1-ss4) doesn't cover — retrieval
# training data and graph building need neighbors for all points.
# ---------------------------------------------------------------------------
_KNN1_COS = (
    "list_dot_product(av, bv) / (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(bv, bv)))"
)
_KNN1_ORACLE = f"""
WITH e AS MATERIALIZED (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
"""


@register("knn1_graph_within_label", _KNN1_ORACLE)
def knn1_graph_within_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.similarity import knn_graph_within

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph_within(emb, k=3, part_col="label")


# KNN2 — the SAME computation through the cell-skew guard (pair-grid
# tiling, max_cell_rows=64): identical oracle, so a hash match proves
# the blocked path is exact, not just plausible, on real data — the
# r6 skew-guard's cross-engine pin beside its degenerate-cell unit.
@register("knn2_graph_blocked", _KNN1_ORACLE)
def knn2_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.similarity import knn_graph_within

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph_within(emb, k=3, part_col="label", max_cell_rows=64)


# ---------------------------------------------------------------------------
# RRF1 — hybrid retrieval: BM25 lexical top-50 (ir1's terms) ⊕ vector
# cosine top-50 (query = embedding of vec_id 0) fused by Reciprocal Rank
# Fusion, Σ 1000000 div (60 + rank) in integer micro-units — the standard
# hybrid-search shape retrieval-training pipelines mine hard positives
# from. Exact cross-engine: ranks are integers, the contribution is
# integer division, fusion is a sum.
# ---------------------------------------------------------------------------
def _rrf1_oracle() -> str:
    from etl_stack_spark.queries.text_dedup import _IR1_TERMS

    qt_vals = ", ".join(f"('{t}')" for t in _IR1_TERMS)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
dl AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_total FROM dl),
qt(tok) AS (VALUES {qt_vals}),
tf AS MATERIALIZED (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks JOIN qt USING (tok) GROUP BY doc_id, tok),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
lexm AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (t_total / n_docs)))
           * 1000 + 0.5) AS BIGINT) AS milli
  FROM tf JOIN dfreq USING (tok) JOIN dl ON dl.doc_id = tf.doc_id, stats
),
lexs AS (SELECT doc_id, CAST(SUM(milli) AS BIGINT) AS s FROM lexm GROUP BY doc_id),
lexr AS (
  SELECT doc_id, r FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r FROM lexs
  ) WHERE r <= 50
),
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
vscored AS (
  SELECT vec_id, round({_COS}, 6) AS cosine FROM corpus CROSS JOIN q WHERE vec_id <> 0
),
vecr AS (
  SELECT vec_id AS doc_id, r FROM (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS r FROM vscored
  ) WHERE r <= 50
),
contrib AS (
  SELECT doc_id, 1000000 // (60 + r) AS c FROM lexr
  UNION ALL
  SELECT doc_id, 1000000 // (60 + r) FROM vecr
),
fused AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_micros FROM contrib GROUP BY doc_id)
SELECT doc_id, rrf_micros,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_micros DESC, doc_id) AS INT) AS fused_rank
FROM fused ORDER BY fused_rank LIMIT 20
"""


@register("rrf1_hybrid_retrieval", _rrf1_oracle())
def rrf1_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_stack_spark.operators.similarity import rrf_fuse
    from etl_stack_spark.operators.text import bm25_rank
    from etl_stack_spark.queries.text_dedup import _IR1_TERMS

    docs = load_table(spark, sf_dir, "documents")

    lex = bm25_rank(docs, list(_IR1_TERMS), top_k=50).withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score_millis"), "doc_id")),
    )
    b = _lsh_bucketed(spark, sf_dir)
    qv = b.filter(F.col("vec_id") == 0).withColumnRenamed("vec_id", "query_id")
    vec = brute_force_topk(b, qv, k=50).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    fused = rrf_fuse(
        [lex.select("doc_id", "rank"), vec], id_col="doc_id", rank_col="rank"
    )
    w = Window.orderBy(F.desc("rrf_micros"), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .orderBy("fused_rank")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# HN1 — hard-negative mining: for each query vector (vec_id < 10), the 5
# most-similar corpus vectors with a DIFFERENT label — the contrastive-
# training data-prep step (random negatives are too easy; the near-but-
# wrong ones carry the gradient). Broadcast query side × corpus with the
# label inequality below the rank window, ss1's declared nested-loop
# shape.
# ---------------------------------------------------------------------------
_HN1_ORACLE = f"""
WITH corpus AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT query_id, vec_id, round({_COS}, 6) AS cosine
  FROM corpus CROSS JOIN q WHERE label <> qlabel
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


@register("hn1_hard_negatives", _HN1_ORACLE)
def hn1_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.similarity import hard_negatives

    b = _lsh_bucketed(spark, sf_dir)
    queries = b.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )
    return hard_negatives(b, queries, k=5)


# ---------------------------------------------------------------------------
# PCA1 — distributed PCA moment accumulation (operators/decomp.py): the
# d(d+1)/2 + d + 1 micro-unit moment sums the driver eigensolve needs,
# ORDER-EXACT by integer quantization (the lm-family trick applied to
# second moments) so the oracle reproduces every sum bit-for-bit. The
# eigensolve + projection are pinned by units against numpy; this query
# pins the distributed part — the only part that touches the corpus.
# ---------------------------------------------------------------------------

_PCA1_ORACLE = """
WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pairs AS (
  SELECT CAST(i * 65 + j AS BIGINT) AS k, CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         CAST(floor(e[i] * e[j] * 1000000 + 0.5) AS BIGINT) AS p
  FROM v, unnest(range(1, 65)) u(i), unnest(range(1, 65)) w(j)
  WHERE j >= i
),
firsts AS (
  SELECT CAST(j AS BIGINT) AS k, CAST(0 AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         CAST(floor(e[j] * 1000000 + 0.5) AS BIGINT) AS p
  FROM v, unnest(range(1, 65)) w(j)
),
cnt AS (SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS i,
               CAST(0 AS BIGINT) AS j, CAST(1 AS BIGINT) AS p FROM v),
allr AS (SELECT * FROM pairs UNION ALL SELECT * FROM firsts UNION ALL SELECT * FROM cnt)
SELECT k, i, j, CAST(SUM(p) AS BIGINT) AS s_micro FROM allr GROUP BY k, i, j
"""


@register("pca1_gram_micro", _PCA1_ORACLE)
def pca1_gram_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.decomp import gram_micro

    return gram_micro(load_table(spark, sf_dir, "embeddings"), "embedding", 64)


# ---------------------------------------------------------------------------
# PQ1 — product-quantized ADC search end-to-end (train on the bounded
# hash-sample, encode the corpus to m=8 4-bit-scale codes, ADC top-5
# for every 100th vector as query). No oracle — k-means training is
# not SQL-expressible (the bpe1/ql2 class); semantics pinned by the
# numpy encode-parity, reconstruction-monotonicity and determinism
# units plus measured recall floors (tests/test_recall_curves.py).
# Fully deterministic output (hash-seeded training, fixed iterations,
# index tie-breaks), so the driver's rows-only check is stable.
# ---------------------------------------------------------------------------


@register("pq1_adc_topk")
def pq1_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.similarity import pq_adc_topk

    # sandbox dials m=4/k=8: training and the ADC LUT are join-based
    # (bounded by sample/query set), but the map-side ENCODE expression
    # still compiles m*k literal distance aggregates — the remaining
    # constant that dominates at sandbox SF and amortizes on real
    # partitions. Production dials (m=8, k=16+) run in the recall-floor
    # tests on 12k-vector corpora. Train/encode happen ONCE per session
    # (_pq_trained); this call is pure search, the production shape.
    books, codes = _pq_trained(spark, sf_dir)
    cn = _ann_normalized(spark, sf_dir)
    queries = cn.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(codes, queries, books, dim=64, k=5)


# ---------------------------------------------------------------------------
# IVFPQ1 — the composed billion-scale index shape (VERDICT r8 task 5):
# coarse IVF routing + PQ-compressed RESIDUALS per cell + ADC shortlist
# + exact cosine refine (IVFADC + IVFPQR, Jégou et al. 2011). No oracle
# — k-means training is not SQL-expressible (the pq1/bpe1 class);
# semantics pinned by the drained-vs-batch-built index equality e2e
# (tests/test_ann_maintenance.py) and measured recall floors at two
# hardness levels (tests/test_recall_curves.py::test_ivfpq_recall_*).
# Fully deterministic (hash-seeded training, integer-micro-unit
# centroid means, fixed iterations, index tie-breaks), so the driver's
# rows-only check is stable.
# ---------------------------------------------------------------------------


@register("ivfpq1_topk")
def ivfpq1_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.similarity import ivfpq_topk

    # sandbox dials (pq1's m=4/k=8 rule — the encode expression compiles
    # m*k literal distance aggregates and its JIT dominates at sandbox
    # SF); production dials m=8/k=16 run in the recall-floor tests on
    # 12k-vector mixtures. The index is a materialized TABLE built once
    # per session (_ivfpq_trained — measured 25s vs 3.7s for the same
    # search over a non-materialized encode); search never re-derives
    # it, which is also ann_maintenance's contract.
    cents, books, index = _ivfpq_trained(spark, sf_dir)
    cn = _ann_normalized(spark, sf_dir)
    queries = cn.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(
        index, queries, cents, books, dim=64, k=5, n_probe=2,
        refine=cn, refine_factor=4,
    )
