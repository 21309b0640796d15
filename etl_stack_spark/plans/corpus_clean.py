"""The canonical training-data cleaning pipeline, composed from the
engine's text/dedup/sampling operators into ONE declarative flow:

    documents → quality floor (tx2) → language keep-list (tx1)
      → exact dedup survivor selection (dd1, keep lowest id)
      → near-dup removal (MinHash LSH, dd2: drop the higher id of
        each confirmed pair)
      → deterministic hash sample to the target rate (sp1)

Every stage is a Column-expression operator — the whole pipeline is one
Catalyst plan (scan → maps → 3 shuffles: fingerprint group, minhash agg,
band join). This is what a 100 TB corpus wash actually runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_stack_spark.operators.dedup import minhash_near_duplicates
from etl_stack_spark.operators.text import (
    fingerprint,
    lang_id,
    portable_hash60,
    quality_score,
)


def score_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The scan-side scoring projection every wash starts with: quality,
    language, exact-dedup fingerprint. Factored out so the llm1/llm2/llm3
    registry entries can compute it ONCE per (session, sf_dir), persist
    it, and inject it into each wash (``scored=`` below) instead of each
    wash re-running the 6-regex scoring scan."""
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
    decontamination gate. One implementation consumed by clean_corpus_v2,
    clean_corpus_v3, and the registry's shared cache — so the gate logic
    cannot drift between the three washes."""
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
    docs: DataFrame,
    min_quality: float = 0.4,
    keep_langs: tuple[str, ...] = ("en", "es", "de", "fr"),
    near_dup_threshold: float = 0.5,
    sample_pct: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    scored: DataFrame | None = None,
    sigs: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Returns the surviving documents with their quality/lang metadata.
    ``scored`` injects a precomputed (usually persisted) score_documents
    frame; extra columns on it flow through harmlessly. ``sigs`` injects
    a session signature store (see minhash_near_duplicates) so the
    shingle explode + 16 min-aggs run once per session, not per wash."""
    if scored is None:
        scored = score_documents(docs, id_col, text_col)
    kept = quality_lang_filter(scored, min_quality, keep_langs)

    # exact dedup: lowest id per fingerprint survives. GC-owned lazy
    # checkpoint: `exact` fans out to the MinHash pair stream AND the
    # anti-join left side — without it the scan+score+window chain
    # recomputes per consumer (A/B at sf0.1: 3.6s -> 3.2s)
    w = Window.partitionBy("fp")
    exact = kept.withColumn("canon", F.min(id_col).over(w)).filter(
        F.col(id_col) == F.col("canon")
    ).drop("canon", "fp").localCheckpoint(eager=False)

    # near-dup removal: for each confirmed pair, the higher id drops
    pairs = minhash_near_duplicates(
        exact, text_col, id_col, threshold=near_dup_threshold, sigs=sigs, pairs=pairs
    )
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    near = exact.join(losers, id_col, "left_anti")

    if sample_pct < 100:
        bucket = portable_hash60(F.col(id_col).cast("string")) % 100
        near = near.filter(bucket < sample_pct)
    return near.select(id_col, "quality", "pred_lang")


def clean_corpus_v2(
    docs: DataFrame,
    benchmark: DataFrame,
    min_quality: float = 0.4,
    keep_langs: tuple[str, ...] = ("en", "es", "de", "fr"),
    max_top_frac: float = 0.05,
    max_dup_frac: float = 0.10,
    contamination_threshold: float = 0.08,
    near_dup_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    scored: DataFrame | None = None,
    gate_ids: DataFrame | None = None,
    sigs: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The modern wash: ``clean_corpus`` extended with the curation
    family — Gopher-style repetition filtering and eval-benchmark
    decontamination run BETWEEN the scalar quality gates and the dedup
    stages, so the (shuffling) dedup operators only see documents that
    already survived every per-doc filter.

    The curation gates are a GATE SET, not a cascade: each is a per-doc-
    independent signal, so they compute in parallel off one checkpoint,
    intersect as ids-only streams, and the wide text stream shuffles
    exactly once into the single survivor semi-join (the id set is
    corpus-sized — broadcastable in the sandbox, impossible at 100 TB,
    so the join is pinned shuffled-hash; sf0.1 pays ~18% on this plan
    versus the broadcast cascade, the 100 TB shape doesn't get a
    choice). Dedup shuffles then run over the shrunken corpus.

    ``scored`` / ``gate_ids`` inject precomputed (usually persisted)
    intermediates — see score_documents / gate_ids_v2; the llm registry
    shares them across llm1/llm2/llm3 so the scoring scan and the gate
    shuffles run once per session instead of once per wash.
    """
    if scored is None:
        # explicit-N round-robin spread (exempt from AQE coalescing, same
        # lever as the geo cell explode, geo_join.py:107): the checkpointed
        # `kept` below inherits ITS partitioning from this input, and every
        # downstream consumer (repetition explode, decontamination explode,
        # dedup) reads the checkpoint — from a compact single-partition file
        # the whole wash would run single-core (measured 10.4s vs 6.8s at
        # sf0.1). clean_corpus deliberately does NOT spread: without a
        # checkpoint its downstream repartitions at the first shuffle anyway,
        # and the extra exchange only adds latency (measured there too).
        docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        scored = score_documents(docs, id_col, text_col)

    # GC-owned lazy checkpoint (same rationale as minhash signatures):
    # this frame fans out to THREE consumers (repetition metrics, both
    # decontamination sub-streams, the dedup stages) — without it the
    # 6-regex scoring scan re-runs per consumer (measured 17s → 4s at
    # sf0.1 for the whole wash)
    kept = quality_lang_filter(scored, min_quality, keep_langs).localCheckpoint(
        eager=False
    )

    # Gate-set shape, not a gate CASCADE: both curation gates (repetition,
    # decontamination) are per-doc-independent signals, so they compute in
    # parallel from the same checkpoint, intersect as ids-only streams
    # (cheap shuffles), and the WIDE text stream exchanges ONCE for the
    # single semi join. A cascade semi-joins the wide stream per gate —
    # and because each checkpoint erases partitioning info, every stage
    # re-shuffles it (measured +45% on the whole wash at sf0.1). The
    # surviving join hints shuffled-hash: the id-set is corpus-sized, and
    # off the checkpoint's unknown stats the static planner would
    # broadcast it (the esd1/rep2 hazard class — AQE never demotes a
    # static broadcast).
    if gate_ids is None:
        gate_ids = gate_ids_v2(
            kept,
            benchmark,
            max_top_frac=max_top_frac,
            max_dup_frac=max_dup_frac,
            contamination_threshold=contamination_threshold,
            id_col=id_col,
            text_col=text_col,
        )
    kept = kept.join(gate_ids.hint("shuffle_hash"), id_col, "left_semi")

    w = Window.partitionBy("fp")
    exact = kept.withColumn("canon", F.min(id_col).over(w)).filter(
        F.col(id_col) == F.col("canon")
    ).drop("canon", "fp").localCheckpoint(eager=False)
    # ^ lazy checkpoint: `exact` feeds the MinHash pair stream AND the
    # anti-join left side — the llm3 fan-out finding applies here too

    pairs = minhash_near_duplicates(
        exact, text_col, id_col, threshold=near_dup_threshold, sigs=sigs, pairs=pairs
    )
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return exact.join(losers, id_col, "left_anti").select(id_col, "quality", "pred_lang")


def clean_corpus_v3(
    docs: DataFrame,
    benchmark: DataFrame,
    embeddings: DataFrame,
    min_quality: float = 0.4,
    keep_langs: tuple[str, ...] = ("en", "es", "de", "fr"),
    max_top_frac: float = 0.05,
    max_dup_frac: float = 0.10,
    contamination_threshold: float = 0.08,
    near_dup_threshold: float = 0.5,
    cross_n: int = 5,
    max_cross_frac: float = 0.30,
    sem_threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
    scored: DataFrame | None = None,
    gate_ids: DataFrame | None = None,
    sigs: DataFrame | None = None,
    pairs: DataFrame | None = None,
    xdoc_ids: DataFrame | None = None,
    sem_pairs: DataFrame | None = None,
) -> DataFrame:
    """The full modern wash: v2's stages plus the two corpus-level
    signals v2 can't see —

    * cross-document duplicate n-gram gating (``cross_doc_dup_ngrams``,
      the rep2 signal), computed on the WHOLE input corpus (duplication
      against a doc another stage removes is still duplication — the
      Dolma convention) and applied WITH the other per-doc filters,
      before any dedup shuffle picks survivors;
    * a final SemDeDup pass over the survivors' embedding clusters
      (``semantic_dedup``, the sd1 stage) — semantic near-dups that
      share no surface n-grams are the one class every earlier stage
      misses.

    Documents with no embedding row pass the semantic stage untouched
    (only KNOWN losers drop — an anti-join against the loser set, not a
    semi-join against survivors).

    Stage order is the cost order at 100 TB: map-side scans first, the
    bounded-shuffle corpus signals (repetition, cross-doc, broadcast
    decontamination) next — intersected as an ids-only gate SET with one
    wide semi-join, per clean_corpus_v2's rationale — and the
    survivor-picking dedup shuffles last, over the shrunken corpus.

    ``scored`` / ``gate_ids`` / ``xdoc_ids`` inject the shared
    precomputed intermediates (see clean_corpus_v2); when ``xdoc_ids``
    is absent the cross-doc gate computes here off ``scored``'s (id,
    text) columns, which are the same rows as the raw input (Catalyst
    prunes the unused score exprs).
    """
    from etl_stack_spark.operators.curation import cross_doc_dup_ngrams
    from etl_stack_spark.operators.dedup import semantic_dedup

    if scored is None:
        # same AQE-exempt spread rationale as clean_corpus_v2
        docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        scored = score_documents(docs, id_col, text_col)

    kept = quality_lang_filter(scored, min_quality, keep_langs).localCheckpoint(
        eager=False
    )

    # same gate-set (not cascade) shape as clean_corpus_v2 above: all three
    # per-doc gates intersect as ids-only streams, the wide text stream
    # semi-joins once, and the corpus-sized id set is hinted shuffled-hash
    if gate_ids is None:
        gate_ids = gate_ids_v2(
            kept,
            benchmark,
            max_top_frac=max_top_frac,
            max_dup_frac=max_dup_frac,
            contamination_threshold=contamination_threshold,
            id_col=id_col,
            text_col=text_col,
        )
    if xdoc_ids is None:
        # the cross-doc gate is a corpus-level signal like gate_ids —
        # a function of (docs, constants) only, independent of the other
        # gates — so callers may inject it precomputed (``xdoc_ids``)
        xdoc_ids = (
            cross_doc_dup_ngrams(
                scored.select(id_col, text_col),
                id_col,
                text_col,
                n=cross_n,
                max_dup_frac=max_cross_frac,
            )
            .filter(F.col("keep_cross_doc"))
            .select(id_col)
        )
    good_ids = gate_ids.join(xdoc_ids, id_col, "left_semi")
    kept = kept.join(good_ids.hint("shuffle_hash"), id_col, "left_semi")

    w = Window.partitionBy("fp")
    exact = kept.withColumn("canon", F.min(id_col).over(w)).filter(
        F.col(id_col) == F.col("canon")
    ).drop("canon", "fp")

    pairs = minhash_near_duplicates(
        exact, text_col, id_col, threshold=near_dup_threshold, sigs=sigs, pairs=pairs
    )
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    # GC-owned lazy checkpoint: the minhash-survivor set fans out THREE
    # ways (the embedding semi-join, the final anti-join's left side, and
    # the sem-loser derivation below) — without it the gate semi-join +
    # exact window + minhash anti-join chain re-executes per consumer.
    # The r5 A/B that called this neutral predates the shared persisted
    # scored/gate base: with the base warm, the re-runs ARE the remaining
    # cost (re-measured r6: 8.4 -> 6.3s at sf0.1, identical output).
    kept = exact.join(losers, id_col, "left_anti").localCheckpoint(eager=False)

    surv_emb = embeddings.join(
        kept.select(F.col(id_col).alias(emb_id_col)), emb_id_col, "left_semi"
    ).localCheckpoint(eager=False)  # consumed by sem survivors AND losers
    sem_survivors = semantic_dedup(
        surv_emb,
        threshold=sem_threshold,
        id_col=emb_id_col,
        pairs=sem_pairs,  # superset store restricts to surv_emb's ids
    ).select(emb_id_col)
    sem_losers = surv_emb.select(emb_id_col).join(sem_survivors, emb_id_col, "left_anti")
    return kept.join(
        sem_losers.select(F.col(emb_id_col).alias(id_col)), id_col, "left_anti"
    ).select(id_col, "quality", "pred_lang")
