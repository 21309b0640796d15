"""Deduplication operators for 100 TB training-data pipelines:
exact (hash), MinHash+LSH banding, n-gram Jaccard, SimHash, embedding
cosine near-dup.

Shapes chosen for scale:
- exact: one shuffle on the 256-bit fingerprint; survivor = min(id) per
  group (deterministic; the reference's keep-last variant is A5).
- MinHash/LSH: shingle explode → 16 min-aggregations (ONE shuffle on
  doc_id), band explode → self-join on (band_idx, band_key) — the classic
  shuffle-bounded near-dup join; candidate verification re-joins the
  16-slot signatures and counts agreements. No O(n²) stage anywhere.
- n-gram Jaccard: shingle-inverted-index self-join (pairs sharing ≥1
  shingle) then |∩|/|∪| — exact but heavier than LSH; use on candidate
  subsets or small corpora.
- embedding: exact cosine pairs, scored by the refine helpers of
  operators/similarity.py (``_vectors``/``_cosine``); all-pairs mode for
  recall checks, LSH-bucketed candidates for scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_stack_spark.operators.similarity import (
    N_HYPERPLANES,
    _cosine,
    _vectors,
    blocked_cell_pairs,
)
from etl_stack_spark.operators.text import (
    BAND_SIZE,
    N_MINHASH,
    fingerprint,
    minhash_terms,
    portable_hash60,
    shingles_from_tokens,
    tokens,
)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rows + ``canonical_id`` (min id among rows sharing a fingerprint)
    + ``is_duplicate`` flag. One shuffle on the fingerprint."""
    with_fp = df.withColumn("fp", fingerprint(F.col(text_col)))
    w = Window.partitionBy("fp")
    return (
        with_fp.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
        .drop("fp")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_minhash: int = N_MINHASH,
) -> DataFrame:
    """doc → ``n_minhash`` minhash columns mh0..mh{n-1}. Docs with no
    shingles drop out (shorter than n tokens ⇒ not near-dup-detectable).
    Tokens materialize as a column before the shingle transform — see
    shingles_from_tokens."""
    sh = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"))
    )
    h = portable_hash60(F.col("shingle"))
    terms = minhash_terms(h, n_minhash)
    return sh.groupBy(id_col).agg(
        *[F.min(t).alias(f"mh{i}") for i, t in enumerate(terms)]
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", band_size: int = BAND_SIZE
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one LSH band.

    The join key is ``xxhash64(band_idx, mh_i, …)`` — one 8-byte long —
    instead of the round-1 ``concat_ws`` string of casted longs (VERDICT
    r2 task 2: ~5× fewer shuffle bytes per band row at 100 TB). Folding
    the band index into the hash drops the separate ``band`` join column.
    A 64-bit collision across bands would only ADD a candidate pair, and
    candidates are verified against full signatures downstream — it can't
    lose a true pair.
    """
    n_minhash = sum(1 for c in sigs.columns if c.startswith("mh"))
    n_bands = n_minhash // band_size
    bands = []
    for b in range(n_bands):
        key = F.xxhash64(
            F.lit(b), *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        )
        bands.append(sigs.select(F.col(id_col), key.alias("band_key")))
    banded = bands[0]
    for b in bands[1:]:
        banded = banded.unionByName(b)
    left = banded.select(F.col(id_col).alias("doc_a"), "band_key")
    right = banded.select(F.col(id_col).alias("doc_b"), "band_key")
    return (
        left.join(right, ["band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    n_minhash: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    sigs: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for LSH candidates whose signature
    agreement ≥ threshold. est_jaccard = fraction of equal minhash slots.
    ``n_minhash``/``band_size`` are the recall/cost dials; defaults match
    the dd2 oracle (16 hashes, 8 bands of 2).

    ``pairs`` injects a precomputed CONFIRMED-pair table (this function's
    own output over a SUPERSET corpus at the SAME (text_col, n,
    threshold, n_minhash, band_size)) — it is restricted to ``df``'s ids
    by two semi-joins and returned directly. Soundness: banding is
    monotone under corpus restriction (two subset docs sharing a band
    bucket in the subset share it in the superset — removing other docs
    never splits a bucket), and both est_jaccard and the threshold test
    are functions of the two signatures alone, so
    pairs(subset) == pairs(superset) ∩ subset×subset EXACTLY (pinned by
    tests/test_sig_store.py). This is what lets a session/cluster-level
    duplicate-pairs staging table (the FineWeb/Dolma dedup intermediate)
    serve every wash without re-banding.

    ``sigs`` injects a precomputed signature table (``id_col`` +
    mh0..mh{n_minhash-1}, built by :func:`minhash_signatures` at the SAME
    (text_col, n, n_minhash)) covering a SUPERSET of ``df``'s ids — it is
    semi-joined down to ``df``'s rows, so extra ids are harmless and
    sub-n-token docs (absent from any signature table) stay absent. A
    doc's signature depends only on its text, never on the candidate set,
    which is what makes one session/cluster-level signature store servable
    to every wash (see queries/text_dedup.py::sig_base): production dedup
    materializes signatures once at ingest and band-joins many times."""
    # sigs feeds the band explode AND both sides of the verification join
    # (three consumers). localCheckpoint, not cache(): the blocks are
    # GC-owned — freed when the returned plan is dropped — instead of
    # pinned in the CacheManager until an unpersist nobody is positioned
    # to call (the r4 storage leak). The return stays lazy, so downstream
    # composition (llm1) keeps its single-job shape. Cluster note: local
    # checkpoints don't survive executor loss; a multi-hour 100 TB run
    # would use reliable checkpointing or a staging table here.
    if pairs is not None:
        ids = df.select(id_col)
        return (
            pairs.join(ids.withColumnRenamed(id_col, "doc_a"), "doc_a", "left_semi")
            .join(ids.withColumnRenamed(id_col, "doc_b"), "doc_b", "left_semi")
            # the name-keyed joins hoist each join key to column 0 —
            # restore the store's own column order
            .select(*pairs.columns)
        )
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, n, n_minhash).localCheckpoint(eager=False)
    else:
        # restrict the store to df's ids; the semi-join's small side is
        # ids-only. At 100 TB both sides are corpus-sized → shuffled hash
        # join on the id key, still ≪ the shingle explode + 16 min-aggs
        # it replaces.
        sigs = sigs.join(df.select(id_col), id_col, "left_semi").localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(sigs, id_col, band_size)
    a = sigs.select(F.col(id_col).alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_minhash)])
    b = sigs.select(F.col(id_col).alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_minhash)])
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(n_minhash)
    )
    est = (agree / F.lit(float(n_minhash))).alias("est_jaccard")
    return joined.select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )


def minhash_cluster_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_iter: int = 25,
    sigs: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Cluster-based near-dup dedup: connected components over the
    confirmed MinHash pair graph, survivor = MIN id per component.
    ``sigs``/``pairs`` inject precomputed signature / confirmed-pair
    stores (see :func:`minhash_near_duplicates`).

    Pairwise loser-dropping (llm1's ``doc_b`` drop) can over-delete on
    chains — if A~B and B~C but A≁C, dropping B and C keeps only A even
    though C never matched A. Component semantics keep exactly one
    survivor per transitively-connected group, which is what production
    dedup (and the reference's dissolve-based spatial analog,
    process_pois.py:396-426) actually does.

    Returns one row per input doc: (id, cluster_id, is_duplicate).
    Scale shape: the pair graph is tiny relative to the corpus (only
    near-dups), so the CC loop runs on the pair-projected node set and
    everything else stays a broadcast-size join back.
    """
    from etl_stack_spark.operators.graph import connected_components

    # GC-owned lazy checkpoint: the pair list fans out FOUR ways (both
    # sides of the node union, both directions of the symmetrized edge
    # list) — without it the band join + verification re-runs per consumer
    pairs = minhash_near_duplicates(
        df, text_col, id_col, n, threshold, sigs=sigs, pairs=pairs
    ).localCheckpoint(eager=False)
    pair_nodes = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    labels = connected_components(
        pair_nodes, pairs, id_col=id_col, src_col="doc_a", dst_col="doc_b", max_iter=max_iter
    )
    return (
        df.select(id_col)
        .join(labels, id_col, "left")
        .select(
            id_col,
            F.coalesce("component_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce(F.col(id_col) != F.col("component_id"), F.lit(False)).alias(
                "is_duplicate"
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact Jaccard over distinct n-gram shingles for every pair sharing
    at least one shingle. |∪| = |A| + |B| - |∩|.

    Shape: group by shingle → collect doc ids → explode in-group id pairs
    → count per pair. Shingle GENERATION dominates the operator, so it
    runs exactly once: tokens materialize as a column (see
    shingles_from_tokens — a lambda-captured tokens() re-runs the regexp
    per shingle), the explode sits between the two projections so
    CollapseProject cannot fuse them back into the inline form, and the
    exploded stream is cached for its two consumers (pair grouping and
    per-doc sizes). Then two shuffles: by shingle (fan-in bounded by
    document frequency) and by pair. In-group pair expansion is O(df²)
    per shingle — this operator is documented as a candidate-subset /
    recall-measurement tool, and a df-hot shingle is exactly the
    stop-shingle a caller should have filtered; at 100 TB the scale path
    is minhash_lsh_pairs."""
    # localCheckpoint, not cache(): shared by the pair grouping AND the
    # per-doc sizes, with blocks GC-owned instead of CacheManager-pinned
    # (the r4 storage leak); the return stays lazy. See the same note in
    # minhash_near_duplicates for the cluster-reliability caveat.
    sh = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"))
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    # Upper triangle directly (sorted-ids index transform, see
    # sorted_pair_structs): n(n-1)/2 structs instead of n² filtered a<b.
    # Sound because ids within a shingle group are distinct (shingles
    # are array_distinct per doc).
    from etl_stack_spark.functions.misc import sorted_pair_structs

    pair_structs = sorted_pair_structs(F.col("ids"))
    common = (
        sh.groupBy("shingle")
        .agg(F.collect_list(id_col).alias("ids"))
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    max_rows: int = 100_000,
) -> DataFrame:
    """(id_a < id_b, cosine) pairs above threshold — EXACT all-pairs mode.

    O(n²) by construction, so it refuses corpora above ``max_rows`` (the
    guard the round-1 review asked for): at 100 TB this shape is a
    scale-killer. The default engine path is
    ``embedding_near_duplicates_lsh`` — bucketed candidates, no cross
    join; use this exact mode only to measure the LSH variant's recall on
    a sampled subset.
    """
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"embedding_near_duplicates is all-pairs (O(n²)); corpus has {n} rows "
            f"> max_rows={max_rows}. Use embedding_near_duplicates_lsh, or raise "
            "max_rows explicitly for a deliberate small-corpus exact run."
        )
    with_v = _vectors(df, [id_col], vec_col)
    a = _vectors(with_v, [F.col(id_col).alias("id_a")], v="va", n="na")
    b = _vectors(with_v, [F.col(id_col).alias("id_b")], v="vb", n="nb")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _cosine("va", "na", "vb", "nb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_duplicates_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """(id_a < id_b, cosine ≥ threshold) near-dup pairs via sign-projection
    LSH — the 100 TB shape: no O(n²) stage.

    Candidate generation: every vector explodes to its own bucket plus the
    8 buckets at Hamming distance 1 (one flipped hyperplane sign); a
    self-equi-join on the probe key yields every pair whose buckets differ
    in ≤ 2 signs. Exact cosine then filters candidates, so precision is 1;
    recall misses only pairs ≥ 3 hyperplane signs apart (high-cosine pairs
    rarely are — measure with the exact variant on a sample). Shuffle-
    bounded: 9 probe rows per vector, equi-join on bucket id, AQE splits
    skewed buckets. Deterministic hyperplanes ⇒ SQL-expressible oracle.

    ``df`` may be an ``lsh_bucket_frame`` staging frame: its stored v, n
    and bucket are read, not recomputed. Pass a persisted one when
    several LSH consumers share one corpus (it is also re-read three
    times inside this operator: probes + both vector re-attach sides).
    """
    base = _vectors(df, [id_col], vec_col, n_planes=N_HYPERPLANES)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << hk)) for hk in range(N_HYPERPLANES)],
    )
    # the probe join carries ONLY (id, flip, probe): shipping the vectors
    # through the 9×-exploded self-join would shuffle every embedding 9×
    # per side; the candidate pairs re-join the compact base table to pick
    # their vectors up (2 joins of |pairs| vs 18 vector copies/row).
    #
    # Canonical-probe dedup, no dropDuplicates: a pair at bucket Hamming
    # distance d matches via exactly the (flip_a, flip_b) combos whose
    # XOR equals the bucket difference — d=0: the 9 (f, f) combos; d=1:
    # (0,i),(i,0); d=2: (i,j),(j,i). Keeping only (0,0) for equal flips
    # and flip_a < flip_b otherwise admits EXACTLY ONE combo per pair,
    # so the join emits each candidate once and the multi-million-row
    # pair-dedup shuffle disappears (flip index 0 = the identity probe).
    p = base.select(id_col, F.posexplode(probes).alias("flip", "probe"))
    a = p.select(F.col(id_col).alias("id_a"), F.col("flip").alias("fa"), "probe")
    b = p.select(F.col(id_col).alias("id_b"), F.col("flip").alias("fb"), "probe")
    cand = (
        a.join(b, "probe")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                ((F.col("fa") == 0) & (F.col("fb") == 0))
                | (F.col("fa") < F.col("fb"))
            )
        )
        .select("id_a", "id_b")
    )
    # explicit-count spread before the cosine stage: when the corpus is
    # small enough that every join broadcasts, the candidate stream never
    # crosses an exchange and the O(|pairs|·dim) cosine work runs in ONE
    # task (the old dropDuplicates provided parallelism by accident, at
    # the price of a full pair-dedup aggregation). A round-robin of the
    # two-long pair stream is far cheaper than that dedup and AQE-exempt.
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    va = _vectors(base, [F.col(id_col).alias("id_a")], v="va", n="na")
    vb = _vectors(base, [F.col(id_col).alias("id_b")], v="vb", n="nb")
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine", _cosine("va", "na", "vb", "nb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dup_pairs(
    emb: DataFrame,
    cluster_col: str = "label",
    threshold: float = 0.6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_rows: int | None = None,
) -> DataFrame:
    """The within-cluster qualifying pair table ``(_ida < _idb)`` with
    cosine ≥ threshold — :func:`semantic_dedup`'s loser relation,
    exposed so it can be materialized once and restricted per consumer
    (the pair_base pattern). Restriction contract: pairs(subset) ==
    pairs(superset) ∩ subset×subset holds ONLY when ``cluster_col`` is
    INTRINSIC to each row (a stored label / precomputed cell id), not
    learned from the candidate corpus — cosine and the threshold test
    are pairwise, so with fixed clusters removing rows never creates or
    destroys another pair."""
    v = _vectors(emb, [id_col, F.col(cluster_col).alias("_cl")], vec_col, "_v", "_n")
    a = v.select(F.col(id_col).alias("_ida"), "_cl", F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = v.select(F.col(id_col).alias("_idb"), "_cl", F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    return (
        blocked_cell_pairs(a, b, "_cl", "_ida", "_idb", max_cell_rows)
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(_cosine("_va", "_na", "_vb", "_nb") >= threshold)
        .select("_ida", "_idb")
    )


def semantic_dedup(
    emb: DataFrame,
    cluster_col: str = "label",
    threshold: float = 0.6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_rows: int | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup scoped to clusters —
    pairwise cosine runs only WITHIN a cluster, which is the paper's
    entire scale argument: all-pairs cost is sum(|cluster|²), bounded by
    the clustering, never corpus². A vector is dropped when it is the
    HIGHER id of any within-cluster pair with cosine ≥ threshold (the
    same deterministic survivor rule as the MinHash pipeline).

    The cluster column is pluggable: the embeddings table's ``label``
    stands in for learned cells in the oracle-checked query (the ss3
    trick), and ``ivf_train``+``nearest_cell`` produce the real thing at
    scale (unit-tested in tests/test_ivf.py).

    Returns survivors (id, cluster) — one shuffle on the cluster key.
    Skew is bounded by the largest cluster: pass ``max_cell_rows`` to
    tile an oversized cluster's pair grid into bounded blocks
    (similarity.blocked_cell_pairs — identical pair stream, per-task
    work capped at ~max_cell_rows² instead of |largest cluster|²).
    """
    # Norms are computed ONCE per vector, before the pair join — the
    # per-pair work is then a single array traversal (the dot product)
    # instead of three. Bit-identical to recomputing the norms per pair:
    # _norm is a deterministic scalar of the vector, so dividing by the
    # carried value equals dividing by a recomputed one. ``pairs`` injects a
    # precomputed semantic_dup_pairs table over a SUPERSET corpus at the
    # same (cluster_col semantics, threshold) — restricted here by two
    # semi-joins; see semantic_dup_pairs for the intrinsic-cluster
    # restriction contract.
    if pairs is not None:
        ids = emb.select(id_col)
        pairs = pairs.join(
            ids.withColumnRenamed(id_col, "_ida"), "_ida", "left_semi"
        ).join(ids.withColumnRenamed(id_col, "_idb"), "_idb", "left_semi")
    else:
        pairs = semantic_dup_pairs(
            emb, cluster_col, threshold, vec_col, id_col, max_cell_rows
        )
    losers = pairs.select(F.col("_idb").alias(id_col)).distinct()
    return (
        emb.select(id_col, cluster_col)
        .join(losers, id_col, "left_anti")
        .select(id_col, cluster_col)
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    state,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
    n_minhash: int = N_MINHASH,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Cross-batch near-dup dedup: dd2's MinHash+LSH made INCREMENTAL.

    ``state`` is a :class:`~etl_stack_spark.operators.merge.ParquetMergeTable`
    holding one row per (band_key, surviving doc): the 8-byte LSH band
    key plus the doc's full signature DENORMALIZED onto the row, so a
    probe verifies candidates in the same join that finds them — no
    second lookup. Per batch:

    1. signatures for the new docs (one shingle shuffle, batch-sized);
    2. in-batch near-dups drop (min-id survivor, the llm1 convention);
    3. survivors' band rows equi-join the state on ``band_key``;
       agreement ≥ threshold against ANY previously-kept doc drops the
       newcomer;
    4. the remaining newcomers' band rows MERGE into the state keyed on
       (band_key, doc) with a constant hash gate — replays skip.

    Replay-idempotent under the feed contract (globally unique, stable
    ids): a replayed survivor matches only ITSELF in the state
    (self-matches are excluded by id), survives again, and its band
    rows merge as unchanged. Cost per batch scales with the batch and
    its candidate fan-out, never the corpus; the state table is the
    only corpus-sized object and is only ever equi-joined on the band
    key (AQE-splittable — boilerplate bands are the skew to watch).
    Docs shorter than ``n`` tokens have no signature and pass through
    (not near-dup-detectable, same contract as minhash_signatures).

    Returns the kept rows of ``new_docs`` (original columns).
    """
    # Evaluation discipline, streaming-safe: ``sigs`` is persist()ed and
    # fully consumed INSIDE this function (every decision materializes
    # here, the losers/survivors sever lineage via EAGER ids-only local
    # checkpoints), then unpersisted before returning — so the caller
    # gets a plan over tiny materialized id sets, not a tower of
    # re-derived joins. Lazy checkpoints are avoided on purpose: inside
    # foreachBatch their deferred materialization trips Spark's
    # zipPartitions mismatch, and NO caching at all re-derives the
    # signature pipeline once per band per consumer (measured: 299s for
    # a 3-doc batch).
    sigs = minhash_signatures(new_docs, text_col, id_col, n=n, n_minhash=n_minhash)
    sigs.persist()
    try:
        sig_ids = sigs.select(id_col).localCheckpoint(eager=True)

        # in-batch: pairwise min-id survivor
        in_pairs = lsh_candidate_pairs(sigs, id_col, band_size=band_size)
        agree = lambda l, r: sum(  # noqa: E731
            F.when(F.col(f"{l}.mh{i}") == F.col(f"{r}.mh{i}"), 1).otherwise(0)
            for i in range(n_minhash)
        ) / float(n_minhash)
        a_sigs, b_sigs = sigs.alias("a"), sigs.alias("b")
        in_losers = (
            in_pairs.join(a_sigs, in_pairs["doc_a"] == F.col(f"a.{id_col}"))
            .join(b_sigs, in_pairs["doc_b"] == F.col(f"b.{id_col}"))
            .filter(agree("a", "b") >= threshold)
            .select(F.col("doc_b").alias(id_col))
            .distinct()
        )
        surv_sigs = sigs.join(in_losers, id_col, "left_anti")

        mh_cols = [f"mh{i}" for i in range(n_minhash)]
        n_bands = n_minhash // band_size

        def banded(s: DataFrame) -> DataFrame:
            parts = []
            for b in range(n_bands):
                key = F.xxhash64(
                    F.lit(b),
                    *[F.col(f"mh{b * band_size + j}") for j in range(band_size)],
                )
                parts.append(s.select(F.col(id_col), key.alias("band_key"), *mh_cols))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        if state.exists():
            old = state.read().alias("o")
            cross_losers = (
                banded(surv_sigs).alias("nb")
                .join(old, "band_key")
                .filter(F.col(f"o.{id_col}") != F.col(f"nb.{id_col}"))
                .filter(agree("nb", "o") >= threshold)
                .select(F.col(f"nb.{id_col}").alias(id_col))
                .distinct()
            )
            surv_sigs = surv_sigs.join(cross_losers, id_col, "left_anti")
        surv_ids = surv_sigs.select(id_col).localCheckpoint(eager=True)

        # constant hash gate => an existing (band_key, doc) row is always
        # "unchanged": replays and re-banding are free no-ops
        append = banded(sigs.join(surv_ids, id_col, "left_semi")).withColumn(
            "_gate", F.lit("v1")
        )
        if state.exists():
            state.merge(append, keys=["band_key", id_col], hash_col="_gate",
                        audit_ts_col=None)
        else:
            state.overwrite(append)
    finally:
        sigs.unpersist()
    return new_docs.join(surv_ids, id_col, "left_semi").unionByName(
        # sub-n-token docs: no signature, pass through
        new_docs.join(sig_ids, id_col, "left_anti")
    )


def quality_survivor_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    sigs: DataFrame | None = None,
    pairs: DataFrame | None = None,
    qual: DataFrame | None = None,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Quality-aware near-dup survivorship (round 7): cluster with
    :func:`minhash_cluster_dedup`, then keep the HIGHEST-QUALITY doc per
    component (tie → min id) instead of the min-id one — the
    FineWeb/Dolma production rule, where dropping the better-written
    copy of a near-dup pair wastes exactly the data a wash exists to
    keep. Returns (id, cluster_id, quality, survivor_id, keep).

    ``clusters`` injects a finished (id, cluster_id, ...) assignment —
    the session cluster store / the written clusters staging table in
    production — skipping the CC loop entirely. Unlike the pair store,
    a cluster assignment does NOT restrict soundly to a sub-corpus
    (components can connect through removed docs), so the injected
    frame must be the assignment FOR EXACTLY this df's corpus; the
    caller owns that contract (dd8 passes the full-corpus store over
    the full documents table).

    Scale shape: everything dd6 does plus one corpus-keyed quality scan
    and one window over CLUSTER-sized groups (near-dup clusters are
    small by construction; a pathological mega-cluster is bounded by
    the LSH band structure long before the window sees it)."""
    from etl_stack_spark.operators.text import quality_score

    if clusters is None:
        clusters = minhash_cluster_dedup(
            df, text_col, id_col, n, threshold, sigs=sigs, pairs=pairs
        )
    clusters = clusters.select(id_col, "cluster_id")
    if qual is None:
        qual = df.select(id_col, quality_score(F.col(text_col)).alias("quality"))
    else:
        # injected (id, quality) store over a superset corpus (the washes'
        # shared `scored` frame carries the identical quality_score column)
        # — restrict to df's rows
        qual = qual.select(id_col, "quality").join(
            df.select(id_col), id_col, "left_semi"
        )
    # lazy checkpoint: j feeds the survivor window AND the output join —
    # without it the whole cluster pipeline (LSH + CC loop) runs twice
    j = clusters.join(qual, id_col).localCheckpoint(eager=False)
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), id_col)
    survivors = (
        j.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("cluster_id", F.col(id_col).alias("survivor_id"))
    )
    return j.join(survivors, "cluster_id").select(
        id_col,
        "cluster_id",
        "quality",
        "survivor_id",
        (F.col(id_col) == F.col("survivor_id")).alias("keep"),
    )
