"""RAG pipeline queries: the composed chunk→embed→index→query→fuse flow
(``plans/rag.py``) with an exact DuckDB oracle.

The oracle restates every stage independently in SQL — chunk geometry,
feature-hash buckets/signs, sparse dot, overlap counts, RRF micro-units
— so both engines derive the full pipeline from raw parquet and must
agree on the final fused ranking bit-for-bit (rrf_micros is integer;
cosine is two exact integers through one sqrt + one divide, rounded to
6dp before ranking on both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_stack_spark.queries import register
from etl_stack_spark.queries.text_dedup import _TOKS
from etl_stack_spark.session import load_table

_DIM = 32
_RAG2_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
starts AS (SELECT doc_id, toks, n, unnest(range(1, n + 1, 48)) AS start FROM nz),
chunks AS MATERIALIZED (
  SELECT doc_id, CAST((start - 1) // 48 AS INT) AS chunk_idx,
         doc_id * 1000 + (start - 1) // 48 AS chunk_key,
         toks[start : least(start + 63, n)] AS chunk
  FROM starts
),
qk AS MATERIALIZED (
  SELECT doc_id AS query_id, chunk_key AS q_key FROM chunks
  WHERE doc_id < 5 AND chunk_idx = 0
),
ctok AS (SELECT chunk_key, unnest(chunk) AS tok FROM chunks),
hashed AS (
  SELECT chunk_key, ('0x' || substr(sha256(tok), 1, 15))::BIGINT AS h FROM ctok
),
feat AS MATERIALIZED (
  SELECT chunk_key, bucket, w FROM (
    SELECT chunk_key, CAST(h % {_DIM} AS INT) AS bucket,
           CAST(SUM(CASE WHEN (h // {_DIM}) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w
    FROM hashed GROUP BY chunk_key, h % {_DIM}
  ) WHERE w <> 0
),
norms AS MATERIALIZED (SELECT chunk_key, CAST(SUM(w * w) AS BIGINT) AS n2 FROM feat GROUP BY chunk_key),
qfeat AS (
  SELECT qk.query_id, qk.q_key, f.bucket, f.w AS qw
  FROM qk JOIN feat f ON f.chunk_key = qk.q_key
),
dots AS (
  SELECT q.query_id, q.q_key, f.chunk_key, CAST(SUM(q.qw * f.w) AS BIGINT) AS dot
  FROM qfeat q JOIN feat f USING (bucket)
  WHERE f.chunk_key <> q.q_key
  GROUP BY q.query_id, q.q_key, f.chunk_key
),
qnorms AS (
  SELECT qk.q_key, n.n2 AS qn2 FROM qk JOIN norms n ON n.chunk_key = qk.q_key
),
cos AS (
  SELECT d.query_id, d.chunk_key,
         round(d.dot / sqrt(CAST(qn.qn2 * n.n2 AS DOUBLE)), 6) AS cosine
  FROM dots d JOIN qnorms qn USING (q_key) JOIN norms n USING (chunk_key)
),
vec_leg AS (
  SELECT query_id, chunk_key, rank FROM (
    SELECT query_id, chunk_key,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, chunk_key) AS rank
    FROM cos
  ) WHERE rank <= 50
),
cdtok AS MATERIALIZED (SELECT chunk_key, unnest(list_distinct(chunk)) AS tok FROM chunks),
qtok AS (
  SELECT qk.query_id, qk.q_key, c.tok FROM qk JOIN cdtok c ON c.chunk_key = qk.q_key
),
overlap AS (
  SELECT q.query_id, c.chunk_key, CAST(COUNT(*) AS BIGINT) AS ov
  FROM qtok q JOIN cdtok c USING (tok)
  WHERE c.chunk_key <> q.q_key
  GROUP BY q.query_id, c.chunk_key
),
lex_leg AS (
  SELECT query_id, chunk_key, rank FROM (
    SELECT query_id, chunk_key,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ov DESC, chunk_key) AS rank
    FROM overlap
  ) WHERE rank <= 50
),
contrib AS (
  SELECT query_id, chunk_key, 1000000 // (60 + rank) AS c FROM vec_leg
  UNION ALL
  SELECT query_id, chunk_key, 1000000 // (60 + rank) FROM lex_leg
),
fused AS (
  SELECT query_id, chunk_key, CAST(SUM(c) AS BIGINT) AS rrf_micros
  FROM contrib GROUP BY query_id, chunk_key
)
SELECT query_id, chunk_key // 1000 AS doc_id,
       CAST(chunk_key % 1000 AS INT) AS chunk_idx, rrf_micros,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_micros DESC, chunk_key) AS INT)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= 10
ORDER BY query_id, fused_rank
"""


@register("rag2_retrieval_pipeline", _RAG2_ORACLE)
def rag2_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.plans.rag import rag_retrieval_pipeline

    docs = load_table(spark, sf_dir, "documents")
    return rag_retrieval_pipeline(docs, n_queries=5, dim=_DIM)
