"""The session MinHash signature store (queries/text_dedup.py::sig_base)
must be output-invisible: every consumer path produces IDENTICAL rows
with and without the injected store, because a doc's signature depends
only on its text. These pins are what let the store be a pure perf
lever (the corpus_base / trained-ANN precedent) rather than a semantics
change."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_stack_spark.operators.dedup import (
    minhash_cluster_dedup,
    minhash_near_duplicates,
    minhash_signatures,
)
from etl_stack_spark.session import load_table

from .conftest import SF_SMOKE


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


@pytest.fixture(scope="module")
def store(spark, docs):
    # a module-local store (not sig_base) so the test controls lifetime
    # and the session cache state of other tests is untouched
    sigs = minhash_signatures(docs).persist()
    yield sigs
    sigs.unpersist()


def test_pairs_identical_with_store(docs, store):
    direct = _rows(minhash_near_duplicates(docs), "doc_a", "doc_b")
    stored = _rows(minhash_near_duplicates(docs, sigs=store), "doc_a", "doc_b")
    assert stored == direct and len(direct) > 0


def test_store_semi_joins_down_to_subset(docs, store):
    """A SUPERSET store must band-join only the subset's rows: pairs from
    the half-corpus slice equal pairs computed directly on that slice —
    no pair may leak in from store rows outside the slice."""
    ids = [r[0] for r in docs.select("doc_id").orderBy("doc_id").collect()]
    half = docs.filter(F.col("doc_id") <= ids[len(ids) // 2])
    direct = _rows(minhash_near_duplicates(half), "doc_a", "doc_b")
    stored = _rows(minhash_near_duplicates(half, sigs=store), "doc_a", "doc_b")
    assert stored == direct


def test_cluster_dedup_identical_with_store(docs, store):
    direct = _rows(minhash_cluster_dedup(docs), "doc_id")
    stored = _rows(minhash_cluster_dedup(docs, sigs=store), "doc_id")
    assert stored == direct


def test_wash_identical_with_store(docs, pair_store):
    """The wash restricts a SUPERSET pair store to its exact-dedup
    survivors: on the full corpus and on the half slice its output
    equals the wash that computes its own pairs."""
    from etl_stack_spark.plans.corpus_clean import clean_corpus, score_documents

    scored = score_documents(docs)
    ids = [r[0] for r in docs.select("doc_id").orderBy("doc_id").collect()]
    half = scored.filter(F.col("doc_id") <= ids[len(ids) // 2])
    for corpus in (scored, half):
        direct = _rows(clean_corpus(corpus), "doc_id")
        stored = _rows(clean_corpus(corpus, pairs=pair_store), "doc_id")
        assert stored == direct and len(direct) > 0


@pytest.fixture(scope="module")
def pair_store(spark, docs, store):
    pairs = minhash_near_duplicates(docs, sigs=store).persist()
    yield pairs
    pairs.unpersist()


def test_pair_store_restricts_exactly(docs, pair_store):
    """The monotone-restriction claim the pair store rests on:
    pairs(subset) == pairs(superset) ∩ subset×subset, exactly — banding
    never splits a bucket when other docs are removed, and est_jaccard
    is a function of the two signatures alone."""
    ids = [r[0] for r in docs.select("doc_id").orderBy("doc_id").collect()]
    half = docs.filter(F.col("doc_id") <= ids[len(ids) // 2])
    direct = _rows(minhash_near_duplicates(half), "doc_a", "doc_b")
    stored = _rows(
        minhash_near_duplicates(half, pairs=pair_store), "doc_a", "doc_b"
    )
    assert stored == direct


def test_cluster_and_survivor_identical_with_pair_store(docs, pair_store):
    from etl_stack_spark.operators.dedup import quality_survivor_dedup

    assert _rows(minhash_cluster_dedup(docs, pairs=pair_store), "doc_id") == _rows(
        minhash_cluster_dedup(docs), "doc_id"
    )
    assert _rows(
        quality_survivor_dedup(docs, pairs=pair_store), "doc_id"
    ) == _rows(quality_survivor_dedup(docs), "doc_id")


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_pair_restriction_fuzz_random_corpora(spark, seed):
    """Randomized restriction parity: on corpora with planted near-dups
    and random subset masks, pairs(subset) computed directly equals the
    superset store restricted — the monotone-banding claim holds on
    arbitrary corpora, not just the fixture tables."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(300):
        if i >= 30 and rng.random() < 0.2:
            # near-dup of an earlier doc: one token swapped
            src = rows[rng.randrange(len(rows))][1].split()
            src[rng.randrange(len(src))] = rng.choice(vocab)
            rows.append((i, " ".join(src)))
        else:
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(12))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    store = minhash_near_duplicates(df).persist()
    try:
        keep = [i for i in range(300) if rng.random() < 0.6]
        sub = df.filter(F.col("doc_id").isin(keep))
        direct = _rows(minhash_near_duplicates(sub), "doc_a", "doc_b")
        stored = _rows(minhash_near_duplicates(sub, pairs=store), "doc_a", "doc_b")
        assert stored == direct
    finally:
        store.unpersist()


def test_semantic_pairs_restrict_exactly(spark):
    """semantic_dup_pairs' restriction contract: with an INTRINSIC
    cluster column, sem-dedup over a subset equals sem-dedup with the
    superset pair store restricted — and the store-less and store-backed
    survivor sets agree on the full corpus too. The store is the session
    store itself (sem_pair_base), read and left in place: a frame with
    its plan, unpersisted here, would uncache it for sd1 and llm3."""
    from pyspark import StorageLevel

    from etl_stack_spark.operators.dedup import semantic_dedup
    from etl_stack_spark.queries.text_dedup import sem_pair_base

    emb = load_table(spark, SF_SMOKE, "embeddings")
    store = sem_pair_base(spark, SF_SMOKE)
    full_direct = _rows(semantic_dedup(emb, threshold=0.3), "vec_id")
    full_stored = _rows(semantic_dedup(emb, threshold=0.3, pairs=store), "vec_id")
    assert full_stored == full_direct and len(full_direct) > 0
    half = emb.filter(F.col("vec_id") % 2 == 0)
    sub_direct = _rows(semantic_dedup(half, threshold=0.3), "vec_id")
    sub_stored = _rows(semantic_dedup(half, threshold=0.3, pairs=store), "vec_id")
    assert sub_stored == sub_direct
    # storageLevel is Spark's CacheManager lookup for the store's plan
    assert store.storageLevel != StorageLevel.NONE


def test_wash_identical_with_pair_store(spark, docs, pair_store):
    """The wash's gate and SemDeDup stages over the stores: a gate id set
    is a per-doc filter, so gating equals washing the gated slice; and
    the semantic stage, which restricts the sem_pair_base store by the
    survivors' ids alone, equals SemDeDup over the survivors' embeddings
    (docs without an embedding row pass)."""
    from etl_stack_spark.operators.dedup import semantic_dedup
    from etl_stack_spark.plans.corpus_clean import clean_corpus, score_documents
    from etl_stack_spark.queries.text_dedup import sem_pair_base

    scored = score_documents(docs)
    gate = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id")
    gated = _rows(clean_corpus(scored, [gate], pairs=pair_store), "doc_id")
    sliced = _rows(clean_corpus(scored.join(gate, "doc_id", "left_semi")), "doc_id")
    assert gated == sliced and len(gated) > 0

    wash = clean_corpus(scored, pairs=pair_store)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    surv_emb = emb.join(wash.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
    sem_keep = semantic_dedup(surv_emb, threshold=0.3).select("vec_id")
    sem_losers = surv_emb.select("vec_id").join(sem_keep, "vec_id", "left_anti")
    want = _rows(
        wash.join(sem_losers.withColumnRenamed("vec_id", "doc_id"), "doc_id", "left_anti"),
        "doc_id",
    )
    got = _rows(
        clean_corpus(scored, pairs=pair_store, sem_pairs=sem_pair_base(spark, SF_SMOKE)),
        "doc_id",
    )
    assert got == want and sem_losers.count() > 0
