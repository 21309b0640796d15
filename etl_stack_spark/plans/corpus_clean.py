"""The training-data corpus wash, composed from the engine's text and
dedup operators into one declarative flow:

    scored documents → quality floor (tx2) + language keep-list (tx1)
      → curation gates: one semi-join against the intersection of the
        gate id sets (repetition ∩ decontamination ∩ cross-doc n-grams)
      → exact dedup survivor selection (dd1, keep lowest id)
      → near-dup removal (MinHash LSH, dd2: drop the higher id of each
        confirmed pair)
      → semantic near-dup removal (SemDeDup, sd1: the same rule over the
        within-cluster embedding pairs)

The llm1, llm2 and llm3 registry entries are three calls of
``clean_corpus``; what differs is only which gates and pair tables they
pass. The inputs are the session stores (``corpus_base``, ``xdoc_base``,
``pair_base``, ``sem_pair_base``), which carry every gate and dedup
threshold; the wash itself fixes only the quality floor and the
language keep-list.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_stack_spark.operators.dedup import minhash_near_duplicates
from etl_stack_spark.operators.text import fingerprint, lang_id, quality_score

# the per-doc quality floor and language keep-list of every wash
MIN_QUALITY = 0.4
KEEP_LANGS = ("en", "es", "de", "fr")


def score_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The scan-side scoring projection every wash starts with: quality,
    language, exact-dedup fingerprint. Factored out so the llm1/llm2/llm3
    registry entries can compute it ONCE per (session, sf_dir), persist
    it, and pass it to each wash instead of each wash re-running the
    6-regex scoring scan."""
    return docs.select(
        F.col(id_col),
        F.col(text_col),
        quality_score(F.col(text_col)).alias("quality"),
        lang_id(F.col(text_col)).alias("pred_lang"),
        fingerprint(F.col(text_col)).alias("fp"),
        *[F.col(c) for c in extra_cols],
    )


def quality_lang_filter(
    scored: DataFrame, min_quality: float, keep_langs: tuple[str, ...]
) -> DataFrame:
    """The shared per-doc quality floor + language keep-list gate."""
    return scored.filter(
        (F.col("quality") >= min_quality) & F.col("pred_lang").isin(list(keep_langs))
    )


def gate_ids_v2(
    kept: DataFrame,
    benchmark: DataFrame,
    max_top_frac: float = 0.05,
    max_dup_frac: float = 0.10,
    contamination_threshold: float = 0.08,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The v2 curation gate SET as one ids-only stream: repetition gate ∩
    decontamination gate. Built once per session by ``corpus_base`` and
    passed to the llm2 and llm3 washes, so the gate logic cannot drift
    between them."""
    from etl_stack_spark.operators.curation import decontaminate, repetition_metrics

    rep_ok = repetition_metrics(
        kept, id_col, text_col, max_top_frac=max_top_frac, max_dup_frac=max_dup_frac
    ).filter(F.col("keep_repetition")).select(id_col)
    clean_ids = (
        decontaminate(
            kept, benchmark, id_col, text_col, threshold=contamination_threshold
        )
        .filter(~F.col("contaminated"))
        .select(id_col)
    )
    return rep_ok.join(clean_ids, id_col, "left_semi")


def clean_corpus(
    scored: DataFrame,
    gates: Sequence[DataFrame] = (),
    pairs: DataFrame | None = None,
    sem_pairs: DataFrame | None = None,
) -> DataFrame:
    """The surviving (doc_id, quality, pred_lang) of a ``score_documents``
    frame (extra columns on it flow through harmlessly).

    ``gates`` are ids-only frames; a document survives only if it is in
    all of them. ``pairs`` is a confirmed MinHash pair table over a
    superset of the corpus (``pair_base``), restricted to the exact-dedup
    survivors; without it the pairs are computed here, which is the
    reference the store is tested against. ``sem_pairs`` is the
    within-cluster semantic pair table (``sem_pair_base``, ``_ida <
    _idb``); when given, the higher id of every pair whose two ends
    both survived MinHash drops. A document with no embedding row is in
    no such pair and passes that stage untouched.

    Stage order is the cost order at 100 TB: map-side scans first, then
    the gates, and the survivor-picking dedup shuffles last, over the
    shrunken corpus.
    """
    kept = quality_lang_filter(scored, MIN_QUALITY, KEEP_LANGS)
    if gates:
        # a gate SET, not a cascade: the ids-only streams intersect
        # cheaply and the wide text stream exchanges once. The id set is
        # corpus-sized, so the join is pinned shuffled-hash: off the
        # stores' unknown stats the static planner would broadcast it
        # (the esd1/rep2 hazard class; AQE never demotes a static
        # broadcast).
        good = reduce(lambda a, b: a.join(b, "doc_id", "left_semi"), gates)
        kept = kept.join(good.hint("shuffle_hash"), "doc_id", "left_semi")

    # exact dedup: lowest id per fingerprint survives. GC-owned lazy
    # checkpoint: `exact` feeds the MinHash pair restriction AND the
    # anti-join's left side; without it the gate and window chain runs
    # once per consumer
    w = Window.partitionBy("fp")
    exact = kept.withColumn("canon", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("canon")
    ).drop("canon", "fp").localCheckpoint(eager=False)

    # near-dup removal: for each confirmed pair, the higher id drops
    near = minhash_near_duplicates(exact, pairs=pairs)
    losers = near.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = exact.join(losers, "doc_id", "left_anti")

    if sem_pairs is not None:
        # every id in the pair table has an embedding row, so keeping the
        # pairs whose lower id survived and dropping their higher id is
        # SemDeDup over the survivors' embeddings
        ids = survivors.select(F.col("doc_id").alias("_ida"))
        sem_losers = sem_pairs.join(ids, "_ida", "left_semi").select(
            F.col("_idb").alias("doc_id")
        )
        survivors = survivors.join(sem_losers, "doc_id", "left_anti")
    return survivors.select("doc_id", "quality", "pred_lang")
