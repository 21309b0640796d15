"""WARC crawl-ingestion query: real ISO 28500 bytes round-tripped
through the pure-Python reader (sources/warc.py) — the CommonCrawl
entry point of every web-scale training pipeline.

The au1/mm3 fixture discipline: per document, a REAL .warc.gz (one gzip
member per record — the CommonCrawl layout) holding a warcinfo record
plus an HTTP response record whose body is the document text, with the
status derived from doc_id arithmetic. The oracle restates every output
value in closed form from `documents` alone, so a hash match pins the
whole gzip-member walk + WARC header parse + HTTP split — not a mock.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_stack_spark.queries import register
from etl_stack_spark.queries.text_dedup import _H60
from etl_stack_spark.session import load_table

_WARC1_ORACLE = f"""
SELECT doc_id,
  CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS INT) AS http_status,
  CAST(octet_length(encode(text)) AS INT) AS n_body_bytes,
  {_H60.format(expr="text")} AS body_hash
FROM documents
"""


@register("warc1_crawl_ingest", _WARC1_ORACLE)
def warc1_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import portable_hash60
    from etl_stack_spark.sources.warc import (
        encode_http_response,
        encode_warc_record,
        gzip_members,
        parse_warc_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            paths, blobs = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                status = 404 if did % 7 == 0 else 200
                records = [
                    encode_warc_record(
                        f"info-{did}", "warcinfo", None, b"software: etl-stack-spark"
                    ),
                    encode_warc_record(
                        f"resp-{did}",
                        "response",
                        f"http://example.test/{did}",
                        encode_http_response(str(text).encode(), status=status),
                    ),
                ]
                paths.append(f"crawl/{did}.warc.gz")
                blobs.append(gzip_members(records))
            yield pd.DataFrame({"path": paths, "content": blobs})

    files = docs.mapInPandas(synth, schema="path string, content binary")
    recs = parse_warc_batch(files)
    resp = recs.filter(F.col("warc_type") == "response")
    return resp.select(
        F.regexp_extract(F.col("target_uri"), r"/(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("http_status"),
        F.length(F.col("body")).cast("int").alias("n_body_bytes"),
        portable_hash60(F.col("body").cast("string")).alias("body_hash"),
    )


# ---------------------------------------------------------------------------
# HTML1 — HTML → text extraction over in-engine-synthesized pages
# (title + script + style + nav + body + entity-bearing footer). The
# oracle NEVER parses HTML: it states the expected visible text in
# closed form from `documents` alone and applies only the same
# whitespace collapse — so a hash match proves the extractor dropped
# script/style content, stripped tags, and decoded XML entities, rather
# than both engines sharing one broken parse. (The synthetic corpus is
# alphanumeric, so document text can't itself contain markup.)
# ---------------------------------------------------------------------------
_HTML1_ORACLE = f"""
WITH exp AS (
  SELECT doc_id,
    trim(regexp_replace(
      'Doc ' || doc_id || ' & friends home | about ' || text || ' &copy; example',
      '\\s+', ' ', 'g')) AS t
  FROM documents
)
SELECT doc_id, CAST(length(t) AS INT) AS n_chars,
       {_H60.format(expr="t")} AS text_hash
FROM exp
"""


@register("html1_text_extract", _HTML1_ORACLE)
def html1_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import html_to_text, portable_hash60

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(' &amp; friends</title><script type="text/javascript">var x = '),
        F.col("doc_id").cast("string"),
        F.lit(";</script><style>.nav {color: red}</style></head>"
              "<body><nav>home | about</nav><p>"),
        F.col("text"),
        F.lit("</p><footer>&copy; example</footer></body></html>"),
    )
    extracted = html_to_text(html)
    return docs.select(
        "doc_id",
        F.length(extracted).cast("int").alias("n_chars"),
        portable_hash60(extracted).alias("text_hash"),
    )


# ---------------------------------------------------------------------------
# CRAWL2 — the composed crawl front door (round 7): WARC bytes → parse →
# status filter → HTML→text extraction → token-count quality gate,
# oracle-checked end-to-end. Pages synthesize in-engine (HTML-wrapped
# document text as HTTP responses, 404s from doc_id arithmetic); the
# oracle restates the surviving rows in closed form from `documents`
# alone — status rule, expected visible text, token gate — so a hash
# match pins the whole chain, not any one stage.
# ---------------------------------------------------------------------------
_CRAWL2_ORACLE = f"""
WITH exp AS (
  SELECT doc_id,
    trim(regexp_replace(
      'Doc ' || doc_id || ' & friends home | about ' || text || ' &copy; example',
      '\\s+', ' ', 'g')) AS t
  FROM documents
  WHERE doc_id % 7 <> 0
),
gated AS (
  SELECT doc_id, t,
         CAST(len(list_filter(string_split_regex(t, '\\s+'), x -> x <> '')) AS INT)
           AS n_tokens
  FROM exp
)
SELECT doc_id, n_tokens, {_H60.format(expr="t")} AS text_hash
FROM gated WHERE n_tokens >= 15
"""


@register("crawl2_front_door", _CRAWL2_ORACLE)
def crawl2_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_stack_spark.operators.text import html_to_text, portable_hash60, tokens
    from etl_stack_spark.sources.warc import (
        encode_http_response,
        encode_warc_record,
        gzip_members,
        parse_warc_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            paths, blobs = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                status = 404 if did % 7 == 0 else 200
                html = (
                    f"<html><head><title>Doc {did} &amp; friends</title>"
                    f'<script type="text/javascript">var x = {did};</script>'
                    f"<style>.nav {{color: red}}</style></head>"
                    f"<body><nav>home | about</nav><p>{text}</p>"
                    f"<footer>&copy; example</footer></body></html>"
                )
                records = [
                    encode_warc_record(
                        f"info-{did}", "warcinfo", None, b"software: etl-stack-spark"
                    ),
                    encode_warc_record(
                        f"resp-{did}",
                        "response",
                        f"http://example.test/{did}",
                        encode_http_response(html.encode(), status=status),
                    ),
                ]
                paths.append(f"crawl/{did}.warc.gz")
                blobs.append(gzip_members(records))
            yield pd.DataFrame({"path": paths, "content": blobs})

    files = docs.mapInPandas(synth, schema="path string, content binary")
    recs = parse_warc_batch(files)
    resp = recs.filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    )
    ext = resp.select(
        F.regexp_extract(F.col("target_uri"), r"/(\d+)$", 1).cast("long").alias("doc_id"),
        html_to_text(F.col("body").cast("string")).alias("t"),
    )
    gated = (
        ext.filter(F.col("t").isNotNull())
        .withColumn("n_tokens", F.size(tokens(F.col("t"))).cast("int"))
        .filter(F.col("n_tokens") >= 15)
    )
    return gated.select("doc_id", "n_tokens", portable_hash60(F.col("t")).alias("text_hash"))
