"""Similarity search over embedding columns (array<float>).

Every search here is filter-and-refine: an operator is a CANDIDATE
GENERATOR that decides which (query, vector) pairs are worth scoring,
and all of them hand those pairs to the same exact refine —

- ``_vectors``: the (id, v, n) projection — v the embedding cast to
  double[], n its norm, computed once per vector, never per pair. An
  ``lsh_bucket_frame`` staging frame already holds both, so it is read,
  not recomputed;
- ``_cosine``: the one rounded score, ``round(dot / (n_a * n_b), 6)``;
- ``_top_k``: ``row_number`` per query over (cosine desc, id), filtered
  to k (Catalyst's WindowGroupLimit prunes map-side before the shuffle).

The generators:

- ``brute_force_topk``: every vector (broadcast query side × corpus) —
  exact at any corpus size IF the query set is small.
- ``lsh_bucketed_topk``: sign-random-projection LSH — 8 deterministic
  hyperplanes hash every vector to a bucket; candidates share the
  query's bucket (``multi_probe``: also its Hamming-1 neighbours).
- ``ivf_topk``: the query's ``n_probe`` nearest k-means cells.
- ``hard_negatives``: every vector whose label differs from the query's.
- ``knn_graph_within``: every pair inside one partition value, for all
  points at once.
- ``ivfpq_topk(refine=...)``: an IVF-PQ ADC shortlist (``pq_adc_topk``
  is the same scan without cells or refine).

Hyperplane constants derive from a fixed integer formula so the DuckDB
oracle regenerates them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_stack_spark.operators.rank import tiered_top_k

N_HYPERPLANES = 8
EMB_DIM = 64


def hyperplane(k: int, dim: int = EMB_DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane: ((k*37 + d*13) % 17) - 8."""
    return [float(((k * 37 + d * 13) % 17) - 8) for d in range(dim)]


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _lits(xs):
    """A literal double array column."""
    return F.array(*[F.lit(float(x)) for x in xs])


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _sq_dist(a, b):
    """Squared L2 distance between two array columns, one codegen'd fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _vectors(
    df: DataFrame,
    cols: list,
    vec_col: str = "embedding",
    v: str = "v",
    n: str = "n",
    n_planes: int | None = None,
) -> DataFrame:
    """The refine's input projection: ``(*cols, v, n[, bucket])`` — ``v``
    the embedding cast to double[], ``n`` its norm, carried so each
    candidate pair costs one array traversal (the dot product) instead
    of three. ``n_planes`` adds the LSH ``bucket``.

    A frame that already has ``v`` and ``n`` columns is an
    ``lsh_bucket_frame`` staging frame: its columns are read as they are
    (renamed to ``v``/``n``, bucket carried), never recomputed. It holds
    the same ``_as_double``/``_norm``/``lsh_bucket`` expressions, so the
    values — and every score built on them — are bit-identical."""
    if "v" in df.columns and "n" in df.columns:
        bucket = ["bucket"] if n_planes is not None else []
        return df.select(*cols, F.col("v").alias(v), F.col("n").alias(n), *bucket)
    out = df.select(*cols, _as_double(F.col(vec_col)).alias(v)).withColumn(
        n, _norm(F.col(v))
    )
    if n_planes is None:
        return out
    return out.withColumn("bucket", lsh_bucket(F.col(v), n_planes=n_planes))


def _cosine(va: str, na: str, vb: str, nb: str):
    """The exact score every candidate is refined with:
    ``round(dot(va, vb) / (na * nb), 6)`` over ``_vectors`` columns. The
    dot product is a sequential left-to-right fold over doubles, as is
    DuckDB's ``list_dot_product``, so oracle scores match bitwise."""
    return F.round(_dot(F.col(va), F.col(vb)) / (F.col(na) * F.col(nb)), 6)


def _top_k(scored: DataFrame, part_col: str, id_col: str, k: int) -> DataFrame:
    """``(part_col, id_col, cosine, rank)``: the k best-scoring rows per
    ``part_col`` value, ties broken by ``id_col``."""
    return tiered_top_k(
        scored,
        partition_by=[part_col],
        order_by=[F.col("cosine").desc(), F.col(id_col)],
        k=k,
        rank_col="rank",
    ).select(part_col, id_col, "cosine", "rank")


def blocked_cell_pairs(
    a: DataFrame,
    b: DataFrame,
    cell_col: str,
    a_id: str,
    b_id: str,
    max_cell_rows: int | None,
) -> DataFrame:
    """Join the two sides of a within-cell all-pairs self-join, tiling
    each oversized cell's pair GRID into s×s blocks (s = ⌈|cell| /
    max_cell_rows⌉): side A replicates each row once per column-block,
    side B once per row-block, and the equi-join key (cell, bi, bj)
    meets every pair in EXACTLY one block — identical pair stream, but
    per-task work is bounded by ~max_cell_rows² instead of |largest
    cell|². This is the skew guard for the Σ|cell|² families (knn
    graph, SemDeDup): Σ|cell|² is only a scale argument while no cell
    is corpus-sized, and real embedding clusterings are heavy-tailed.

    Exact — no recall loss (unlike re-clustering an oversized cell) —
    at the cost of one cell-size aggregate and s× replication of the
    oversized cell's rows. ``max_cell_rows=None`` skips the size
    aggregate entirely and degenerates to the plain equi-join.
    """
    if max_cell_rows is None:
        return a.join(b, cell_col)
    sizes = (
        a.groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("_csz"))
        .select(
            cell_col,
            F.ceil(F.col("_csz") / max_cell_rows).cast("int").alias("_s"),
        )
    )
    blocks = F.explode(F.sequence(F.lit(0), F.col("_s") - 1))
    ab = (
        a.join(sizes, cell_col)
        .withColumn("_bi", F.pmod(F.xxhash64(a_id), F.col("_s")).cast("int"))
        .withColumn("_bj", blocks)
        .drop("_s")
    )
    bb = (
        b.join(sizes, cell_col)
        .withColumn("_bj", F.pmod(F.xxhash64(b_id), F.col("_s")).cast("int"))
        .withColumn("_bi", blocks)
        .drop("_s")
    )
    return ab.join(bb, [cell_col, "_bi", "_bj"]).drop("_bi", "_bj")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, vec_id, cosine, rank).
    Self-matches (same id) excluded. Either side may be raw embeddings
    or an ``lsh_bucket_frame`` staging frame (see ``_vectors``)."""
    c = _vectors(corpus, [id_col], vec_col, "cv", "cn")
    q = _vectors(queries, [query_id_col], vec_col, "qv", "qn")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", _cosine("qv", "qn", "cv", "cn"))
    )
    return _top_k(scored, query_id_col, id_col, k)


def lsh_bucket(vec_col, dim: int = EMB_DIM, n_planes: int = N_HYPERPLANES):
    """Sign-projection bucket id: bit k = 1 iff dot(v, hyperplane_k) > 0.
    ``n_planes`` is the recall/selectivity dial: fewer planes → bigger
    buckets → higher recall at more candidate cost (recall curve pinned
    in tests/test_recall_curves.py)."""
    bucket = F.lit(0)
    for hk in range(n_planes):
        proj = _dot(vec_col, _lits(hyperplane(hk, dim)))
        bucket = bucket + F.when(proj > 0, F.lit(1 << hk)).otherwise(F.lit(0))
    return bucket


def lsh_bucket_frame(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = N_HYPERPLANES,
    keep_cols: tuple = (),
) -> DataFrame:
    """Canonical LSH staging frame: (id_col, *keep_cols, v double[], n,
    bucket).

    This is the bucketed-corpus staging table an LSH pipeline
    materializes once and every consumer (bucket top-k, multi-probe,
    near-dup pair mining, and the exact scans that read only v/n) reads:
    build it, persist it, and pass it to any operator here in place of
    the raw embeddings, so the 8-hyperplane projection runs once per
    corpus instead of once per consumer. Consumers recognise it by its
    v/n columns (``_vectors``); the values are bit-identical to what
    each consumer computes inline.

    ``keep_cols``: extra source columns carried through unchanged (e.g.
    a class label for hard-negative mining consumers)."""
    return _vectors(df, [id_col, *keep_cols], vec_col, n_planes=n_planes)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    multi_probe: bool = False,
    n_planes: int = N_HYPERPLANES,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, then
    exact cosine re-rank. The bucket join replaces the cross join — the
    scale path (equi-join on bucket, AQE handles bucket skew).

    ``multi_probe``: the query also probes the ``n_planes`` buckets at
    Hamming distance 1 (one flipped hyperplane sign) — ~(1+H)× candidates
    for a large recall gain on vectors near a hyperplane boundary.

    A staging frame from ``lsh_bucket_frame`` (built with the same
    n_planes) supplies its stored buckets; pass a persisted one when
    several consumers share one corpus."""
    c = _vectors(corpus, [id_col], vec_col, "cv", "cn", n_planes)
    q = _vectors(queries, [query_id_col], vec_col, "qv", "qn", n_planes)
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << hk)) for hk in range(n_planes)],
        )
        q = q.withColumn("bucket", F.explode(probes))
    scored = (
        c.join(q, "bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", _cosine("qv", "qn", "cv", "cn"))
    )
    return _top_k(scored, query_id_col, id_col, k)


# --- IVF with LEARNED centroids (k-means) -----------------------------------


def _cell_scores(v, centroids: list[list[float]]):
    """array<struct<d,i>> of (distance², centroid index) — struct order is
    lexicographic, so array_min/array_sort pick nearest cells with a
    deterministic index tie-break."""
    return F.array(
        *[
            F.struct(_sq_dist(v, _lits(c)).alias("d"), F.lit(i).alias("i"))
            for i, c in enumerate(centroids)
        ]
    )


def nearest_cell(v, centroids: list[list[float]]):
    return F.array_min(_cell_scores(v, centroids))["i"]


def ivf_train(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 8192,
) -> list[list[float]]:
    """Lloyd's k-means with pq_train's discipline (the r8 rework that
    cut pq1 3x, applied here in r9 for the same reason): train on the
    ``sample`` vectors with the smallest xxhash64(id) — deterministic
    and bounded regardless of corpus size (standard practice: coarse
    quantizers train on a sample; FAISS defaults to ~min(n, 256·k)) —
    and run each iteration's assignment as a JOIN against the
    n_centroids-row centroid frame instead of a compiled
    literal-distance expression (the expression form re-JITs
    n_cells·dim literals EVERY iteration, the cost that dominated at
    sandbox SF; the join's candidate stream is sample·k rows, bounded).
    Element-wise means accumulate in integer MICRO-UNITS summed as
    long (order-independent — the repo's determinism discipline; a
    float avg's partial-merge order can flip near-tie assignments).
    Deterministic: hash-seeded, min_by (d², cell) struct tie-break,
    empty cells keep their previous centroid."""
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    samp = (
        c.withColumn("_h", F.xxhash64(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(sample)
        .localCheckpoint(eager=True)
    )
    # seeds = the n_centroids SMALLEST-hash vectors (a pseudo-random
    # spread across the data — id-ordered seeding would take k
    # neighbors from whatever cluster owns the low ids)
    seeds = samp.orderBy("_h", id_col).limit(n_centroids).collect()
    if len(seeds) < n_centroids:
        raise ValueError(f"corpus has fewer than {n_centroids} vectors")
    centroids = [list(r["v"]) for r in seeds]
    samp = samp.select(id_col, "v")
    spark = corpus.sparkSession
    for _ in range(n_iter):
        cents = spark.createDataFrame(
            [(ci, centroids[ci]) for ci in range(n_centroids)],
            "cell int, cv array<double>",
        )
        assigned = (
            samp.crossJoin(F.broadcast(cents))
            .withColumn("_d2", _sq_dist(F.col("v"), F.col("cv")))
            .groupBy(id_col)
            .agg(
                F.min(F.struct(F.col("_d2"), F.col("cell"))).alias("_best"),
                F.first("v").alias("v"),
            )
            .select(F.col("_best.cell").alias("cell"), "v")
        )
        rows = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.floor(F.col("x") * 1e6 + F.lit(0.5)).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.struct("s", "n").alias("sn")))
                ).alias("pm")
            )
            .collect()
        )
        new = {
            r["cell"]: [p["sn"]["s"] / p["sn"]["n"] / 1e6 for p in r["pm"]]
            for r in rows
        }
        centroids = [new.get(i, centroids[i]) for i in range(n_centroids)]
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search over trained centroids: corpus partitions into inverted
    cells (one assignment expression, no shuffle until the join); each
    query probes its ``n_probe`` nearest cells; exact cosine re-rank
    inside — the same bucket-equi-join shape as the LSH variant, with
    data-adaptive cells instead of fixed hyperplanes."""
    c = _vectors(corpus, [id_col], vec_col, "cv", "cn")
    q = _vectors(queries, [query_id_col], vec_col, "qv", "qn")
    c = c.withColumn("cell", nearest_cell(F.col("cv"), centroids))
    probes = F.slice(F.array_sort(_cell_scores(F.col("qv"), centroids)), 1, n_probe)
    q = q.withColumn("cell", F.explode(F.transform(probes, lambda s: s["i"])))
    scored = (
        c.join(q, "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", _cosine("qv", "qn", "cv", "cn"))
    )
    return _top_k(scored, query_id_col, id_col, k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for each
    query vector, the k most-similar corpus vectors whose LABEL differs
    from the query's — maximally confusable negatives, the pairs a
    contrastive loss learns most from (the standard dense-retrieval
    data-prep step; random negatives are too easy to carry gradient).

    Same plan shape as brute_force_topk — broadcast query side,
    per-partition scoring, WindowGroupLimit top-k — plus the label
    inequality pushed below the rank window so mismatched labels never
    reach the shuffle. Returns (query_id, vec_id, cosine, rank). A
    staging frame must carry the label (``lsh_bucket_frame(...,
    keep_cols=(label_col,))``).
    """
    c = _vectors(corpus, [id_col, F.col(label_col).alias("_clabel")], vec_col, "cv", "cn")
    q = _vectors(
        queries, [query_id_col, F.col(label_col).alias("_qlabel")], vec_col, "qv", "qn"
    )
    scored = c.join(F.broadcast(q), F.col("_clabel") != F.col("_qlabel")).withColumn(
        "cosine", _cosine("qv", "qn", "cv", "cn")
    )
    return _top_k(scored, query_id_col, id_col, k)


def rrf_fuse(
    legs: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    quantum: int = 1_000_000,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack & Clarke 2009) over any number of
    ranked retrieval legs (lexical BM25, vector cosine, ...): score =
    Σ 1/(k + rank). Scores are integer micro-units — ``quantum div
    (k + rank)`` — so two engines agree bit-for-bit (the lm1/ir1
    quantization discipline). An id absent from a leg simply contributes
    nothing (the union-then-sum shape gives outer-join semantics without
    an N-way outer join).

    100 TB shape: each leg is already a bounded top-N (the expensive
    part is producing the legs); fusion is one union + one groupBy on
    the id — a single small shuffle, broadcastable output.
    """
    fused = None
    for leg in legs:
        contrib = leg.select(
            F.col(id_col),
            F.expr(f"{quantum} div ({k} + {rank_col})").cast("long").alias("_c"),
        )
        fused = contrib if fused is None else fused.unionByName(contrib)
    return fused.groupBy(id_col).agg(F.sum("_c").cast("long").alias("rrf_micros"))


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", bits: int = 8
) -> DataFrame:
    """Symmetric per-vector int quantization of an embedding column —
    the 4× (int8) storage/broadcast shrink for the ANN family: each
    vector is scaled by its own max-abs so q = floor(x/s·(2^(b-1)-1)
    + 0.5), stored as an int array beside the scale. Dequantize as
    q·s/(2^(b-1)-1); worst-case per-element error is s/(2^b-2), which
    vq1's oracle-checked report measures exactly. Pure higher-order
    Column expressions — zero shuffles, rides the scan. Zero vectors
    quantize to zeros with scale 0.
    """
    levels = (1 << (bits - 1)) - 1
    v = F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
    out = df.withColumn("_v", v).withColumn(
        "q_scale", F.expr("array_max(transform(_v, x -> abs(x)))")
    )
    q = F.expr(
        f"CASE WHEN q_scale = 0 THEN transform(_v, x -> 0) "
        f"ELSE transform(_v, x -> CAST(floor(x / q_scale * {levels} + 0.5) AS INT)) END"
    )
    return out.withColumn("q_vec", q).drop("_v")


def knn_graph_within(
    df: DataFrame,
    k: int,
    part_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell_rows: int | None = None,
) -> DataFrame:
    """kNN GRAPH construction (every point finds its k nearest, not a
    small query set against a corpus — the retrieval-training /
    graph-building shape): exact cosine within a partition column (an
    IVF cell from ivf_train/nearest_cell at scale, or any existing
    cluster label). Cost is Σ|cell|², never corpus² — the sd1/SemDeDup
    scoping argument. Norms are hoisted once per side; the per-point
    top-k is a WindowGroupLimit (rank pushdown), never a global sort.
    Returns (id, neighbor_id, cosine, rank).

    ``max_cell_rows`` is the cell-SKEW guard: Σ|cell|² assumes no cell
    is corpus-sized, but real embedding clusterings are heavy-tailed —
    set it to tile oversized cells' pair grids into bounded blocks
    (see blocked_cell_pairs; identical output, per-task work capped at
    ~max_cell_rows²)."""
    p = F.col(part_col).alias("_p")
    a = _vectors(df, [p, F.col(id_col).alias("_i")], vec_col, "_va", "_na")
    b = _vectors(df, [p, F.col(id_col).alias("_j")], vec_col, "_vb", "_nb")
    scored = (
        blocked_cell_pairs(a, b, "_p", "_i", "_j", max_cell_rows)
        .filter(F.col("_i") != F.col("_j"))
        .select("_i", "_j", _cosine("_va", "_na", "_vb", "_nb").alias("cosine"))
    )
    return _top_k(scored, "_i", "_j", k).select(
        F.col("_i").alias(id_col), F.col("_j").alias("neighbor_id"), "cosine", "rank"
    )


# --- Product quantization (PQ): the IVF+PQ memory side ----------------------
#
# At 100 TB the ANN bottleneck is MEMORY BANDWIDTH, not compute: a 64-d
# float32 corpus is 256 B/vector; PQ with m=8 subspaces × k=16 codes is
# 8 × 4 bits — 4 B/vector, a 64× cut — and search never touches the
# original vectors (ADC: per query, one k-entry distance LUT per
# subspace, score = sum of m lookups). Codebooks train on a BOUNDED
# deterministic hash-sample (the standard practice — PQ codebooks need
# ~10⁵ vectors, not the corpus), each subspace through the same Lloyd's
# driver loop as ivf_train. Search is fully relational: codes explode
# to (id, sub, code), join the broadcast per-query LUT frame, one
# map-side-combined sum, WindowGroupLimit top-k. Cost O(n·m·q_wave)
# with q bounded per wave — the classic ADC scan, shaped for Spark.
# No oracle (k-means training is not SQL-expressible — the bpe1/ql2
# class); pinned by numpy-reference encode parity, reconstruction-
# error monotonicity, determinism, and measured recall floors.


def l2_normalize(v):
    """Unit-normalize an array column (zero vectors pass through).
    Normalizing first makes PQ's L2 ranking equivalent to cosine."""
    v = _as_double(v)
    n = _norm(v)
    safe = F.when(n > 0, n).otherwise(F.lit(1.0))
    return F.transform(v, lambda x: x / safe)


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 4096,
) -> list[list[list[float]]]:
    """m codebooks of k centroids (dim/m dims each), trained on the
    ``sample`` vectors with the smallest xxhash64(id) — deterministic
    and bounded regardless of corpus size.

    All m subspaces train FUSED in one Lloyd's loop: each iteration is
    a single pass that assigns every subspace's cell at once (one
    codegen'd array expression) and reduces (sub, cell, pos) means with
    one explode + groupBy — 2 actions per iteration TOTAL, not per
    subspace. That is both the local-latency fix (driver round-trips,
    not data, dominate at sandbox SF) and the 100 TB shape: one data
    pass per iteration instead of m."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    samp = (
        c.withColumn("_h", F.xxhash64(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(sample)
        .select(id_col, "v")
        .localCheckpoint(eager=True)
    )
    seeds = samp.orderBy(id_col).limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"sample has fewer than {k} vectors")
    books = [
        [list(r["v"][s * w : (s + 1) * w]) for r in seeds] for s in range(m)
    ]
    spark = corpus.sparkSession
    # subvectors once: (id, sub, sv) — n_s·m bounded rows
    subs = samp.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice("v", s * w + 1, w) for s in range(m)])
        ).alias("sub", "sv"),
    ).localCheckpoint(eager=True)
    for _ in range(n_iter):
        # assignment as a JOIN against the (m·k)-row centroid frame, not
        # m·k compiled literal-distance expressions: the sample is
        # bounded, so the n_s·m·k candidate stream is bounded too, and
        # the plan compiles in milliseconds regardless of m and k (the
        # expression form's JIT cost grows with m·k·w and dominates
        # wall time at sandbox SF). min_by over the (d2, cell) struct
        # keeps _cell_scores' exact index tie-break.
        cents = spark.createDataFrame(
            [(s, ci, books[s][ci]) for s in range(m) for ci in range(k)],
            "sub int, cell int, cv array<double>",
        )
        assigned = (
            subs.join(F.broadcast(cents), "sub")
            .withColumn("_d2", _sq_dist(F.col("sv"), F.col("cv")))
            .groupBy(id_col, "sub")  # per sample ROW: duplicates keep weight
            .agg(
                F.min(F.struct(F.col("_d2"), F.col("cell"))).alias("_best"),
                F.first("sv").alias("sv"),
            )
            .select("sub", F.col("_best.cell").alias("cell"), "sv")
        )
        # centroid means in integer MICRO-UNITS (floor(x*1e6+.5) summed as
        # long, divided on the driver): long-sum is associative/commutative
        # so cross-partition partial-merge order cannot produce ULP drift
        # that flips near-tie assignments — the same integer-milli-unit
        # discipline the rest of the repo uses, making pq1's "deterministic
        # output" stability claim exact rather than tolerance-based
        rows = (
            assigned.select("sub", "cell", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "cell", "pos")
            .agg(
                F.sum(F.floor(F.col("x") * 1e6 + F.lit(0.5)).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .groupBy("sub", "cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.struct("s", "n").alias("sn")))
                ).alias("pm")
            )
            .collect()
        )
        new = {
            (r["sub"], r["cell"]): [p["sn"]["s"] / p["sn"]["n"] / 1e6 for p in r["pm"]]
            for r in rows
        }
        books = [
            [new.get((s, ci), books[s][ci]) for ci in range(k)] for s in range(m)
        ]
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>): per subspace, the nearest codebook entry
    — one codegen'd expression, no shuffle, no Python."""
    m = len(codebooks)
    w = dim // m
    v = _as_double(F.col(vec_col))
    codes = F.array(
        *[
            nearest_cell(F.slice(v, s * w + 1, w), codebooks[s]).cast("int")
            for s in range(m)
        ]
    )
    return corpus.select(F.col(id_col), codes.alias("codes"))


def _lut_flat_expr(res_col, codebooks: list[list[list[float]]], w: int):
    """The flat sub-major ADC LUT (lutf[off(s)+code] = partial d² of the
    residual's s-th slice against codebook entry code) as ONE map-side
    expression over the residual/query column — per subspace, transform
    over the LITERAL codebook array computes all k entries; flatten in
    subspace order. This replaces the old explode→join(sub)→collect_list
    pivot (2 jobs + 1 shuffle per search) with zero extra jobs (guide
    §2.4). The JIT hazard that forced the join-form build (pq_train
    docstring) was m·k compiled distance aggregates; this form compiles
    m aggregate lambdas (the codebook entry is the transform argument).
    Each d2 is the same zip_with/aggregate fold over the same slices as
    the join form, in the same sub-major code order, so lutf is
    bit-identical. NB: the per-subspace closure is a def, not a lambda
    with an ``_s=s`` default — PySpark counts defaulted params, so such
    a lambda is mis-detected as transform's binary (element, index)
    form and the index silently shadows the subspace."""

    def sub_lut(s: int):
        cb = F.array(*[_lits(cv) for cv in codebooks[s]])
        qs = F.slice(res_col, s * w + 1, w)
        return F.transform(cb, lambda cv: _sq_dist(qs, cv))

    return F.flatten(F.array(*[sub_lut(s) for s in range(len(codebooks))]))


def _adc_topk(
    pairs: DataFrame,
    codebooks: list[list[list[float]]],
    query_id_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """The ADC scan of ``pq_adc_topk`` and ``ivfpq_topk``: a (codes,
    lutf) row's distance is m ``element_at`` lookups into the flat LUT
    (subspace s's entries start after the earlier codebooks' entries),
    summed in one map-side projection and pinned by round(·, 9); then
    the k smallest per query, ties by id. Returns (query_id, id, adc_d2,
    rnk)."""
    offs = [0]
    for book in codebooks:
        offs.append(offs[-1] + len(book))
    adc = sum(
        (
            F.element_at(
                F.col("lutf"),
                F.lit(offs[s] + 1) + F.element_at(F.col("codes"), s + 1),
            )
            for s in range(len(codebooks))
        ),
        start=F.lit(0.0),
    )
    scored = pairs.select(query_id_col, F.col(id_col), F.round(adc, 9).alias("adc_d2"))
    return tiered_top_k(
        scored,
        partition_by=[query_id_col],
        order_by=[F.col("adc_d2").asc(), F.col(id_col).asc()],
        k=k,
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    dim: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric distance computation: per query build the (sub, code)
    → partial-d² LUT (m·k rows per query, broadcast), sum m lookups per
    encoded vector, WindowGroupLimit top-k ascending. Returns
    (query_id, vec_id, adc_d2, rnk)."""
    w = dim // len(codebooks)
    qv = _as_double(F.col(vec_col))
    # LUT built MAP-SIDE in one projection on the query frame (r11,
    # guide §2.4 — _lut_flat_expr): the old explode→join(sub)→
    # collect_list pivot (2 jobs + 1 shuffle per search) is gone.
    lut_flat = queries.select(
        F.col(query_id_col), _lut_flat_expr(qv, codebooks, w).alias("lutf")
    )
    pairs = codes.crossJoin(F.broadcast(lut_flat))
    return _adc_topk(pairs, codebooks, query_id_col, id_col, k)


# ---------------------------------------------------------------------------
# IVF-PQ composition (VERDICT r8 task 5): IVF routing + PQ-compressed
# RESIDUALS per cell — the standard billion-scale index shape (IVFADC,
# Jégou et al. 2011). The index is the (vec_id, cell, codes) frame that
# streaming/ann_maintenance.py maintains incrementally from a table's
# change feed.
# ---------------------------------------------------------------------------


def _centroid_at(cell_col, centroids: list[list[float]]):
    """The centroid array selected by a cell INDEX column — one
    element_at over an array-of-arrays literal (n_cells x dim doubles,
    codegen'd once; KBs even at n_cells=4096)."""
    table = F.array(*[_lits(c) for c in centroids])
    return F.element_at(table, cell_col + F.lit(1))


def ivfpq_train(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    n_iter: int = 5,
    pq_iter: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 4096,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """(centroids, codebooks): coarse IVF centroids on the corpus, then
    PQ codebooks trained on the RESIDUALS v - centroid[cell(v)] — the
    residual energy is what the codes must cover once routing has
    absorbed the cluster structure. Both trainers keep their bounded
    deterministic hash-sample discipline, so cost is corpus-size-
    independent; the residual projection is one codegen'd expression."""
    centroids = ivf_train(
        corpus, n_centroids=n_cells, n_iter=n_iter, vec_col=vec_col,
        id_col=id_col, sample=max(sample, 2 * n_cells),
    )
    v = _as_double(F.col(vec_col))
    resid = corpus.select(
        F.col(id_col),
        F.zip_with(
            v, _centroid_at(nearest_cell(v, centroids), centroids), lambda x, y: x - y
        ).alias(vec_col),
    )
    books = pq_train(
        resid,
        dim=dim,
        m=m,
        k=k,
        n_iter=pq_iter if pq_iter is not None else n_iter,
        vec_col=vec_col,
        id_col=id_col,
        sample=sample,
    )
    return centroids, books


def ivfpq_encode(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cell, codes): route to the nearest coarse cell, PQ-encode
    the residual — one codegen'd map-side expression, no shuffle, no
    Python. This is the INDEX ROW shape ann_maintenance keeps current
    from the change feed."""
    m = len(codebooks)
    w = dim // m
    v = _as_double(F.col(vec_col))
    cell = nearest_cell(v, centroids)
    rv = F.zip_with(v, _centroid_at(cell, centroids), lambda x, y: x - y)
    # TWO projections with a collapse barrier between them: if Catalyst
    # collapses them, the residual subtree (route over n_cells·dim
    # literals + the centroid table lookup) inlines into EVERY one of
    # the m·k code-distance expressions — measured 7.6s of pure codegen
    # JIT at m=4,k=8,cells=8 vs ~1s split. The barrier is a
    # non-deterministic marker column (CollapseProject only merges
    # all-deterministic projections); still one map-side pass, no
    # shuffle, no materialization — codegen evaluates _rv once per row
    # into a local and the code expressions read it.
    step1 = corpus.select(
        F.col(id_col),
        cell.cast("int").alias("cell"),
        rv.alias("_rv"),
        F.monotonically_increasing_id().alias("_collapse_barrier"),
    )
    codes = F.array(
        *[
            nearest_cell(F.slice(F.col("_rv"), s * w + 1, w), codebooks[s]).cast("int")
            for s in range(m)
        ]
    )
    return step1.select(F.col(id_col), F.col("cell"), codes.alias("codes"))


def ivfpq_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    dim: int,
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    refine: DataFrame | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """IVFADC search over an (id, cell, codes) index: each query probes
    its ``n_probe`` nearest cells; within a probed cell the query's
    RESIDUAL builds the (sub, code) -> partial-d² LUT (q·n_probe·m·k
    tiny rows, broadcast), and every candidate's distance is m map-side
    lookups summed — the asymmetric distance of the IVFADC paper.
    Returns (query_id, vec_id, adc_d2, rnk).

    ``refine``: an (id, vector) frame — when given, the ADC pass emits a
    ``k·refine_factor`` shortlist and the final top-k is an EXACT cosine
    re-rank over the shortlist's true vectors (FAISS's IVFPQR step;
    quantization error orders near-ties wrong, and re-ranking a 4k-row
    shortlist restores exact-IVF recall for one keyed join against the
    vector table — O(q·k·refine_factor) lookups, never a scan). Refined
    output is (query_id, vec_id, cosine, rank).

    Scale shape: candidates flow through ONE equi-join on cell (never
    all-pairs), the LUT join is broadcast, the top-k is the concrete-k
    WindowGroupLimit. At 10^9 vectors the only big exchange is the
    candidate join, bounded by n_probe/n_cells of the corpus."""
    w = dim // len(codebooks)
    qv = _as_double(F.col(vec_col))
    probes = F.slice(F.array_sort(_cell_scores(F.col("qv"), centroids)), 1, n_probe)
    q = queries.select(F.col(query_id_col), qv.alias("qv")).withColumn(
        "cell", F.explode(F.transform(probes, lambda s: s["i"]))
    )
    # per (query, probed cell): residual against THAT cell's centroid
    qr = q.select(
        query_id_col,
        "cell",
        F.zip_with(
            F.col("qv"), _centroid_at(F.col("cell"), centroids), lambda x, y: x - y
        ).alias("qr"),
    )
    # LUT built MAP-SIDE in one projection on the q·n_probe-row residual
    # frame (r11, guide §2.4 — _lut_flat_expr): the old explode→
    # join(sub)→collect_list pivot (2 jobs + 1 shuffle per search) is
    # gone; lutf is bit-identical.
    lut_flat = qr.select(
        query_id_col,
        "cell",
        _lut_flat_expr("qr", codebooks, w).alias("lutf"),
    )
    pairs = index.join(F.broadcast(lut_flat), "cell")
    shortlist = _adc_topk(
        pairs, codebooks, query_id_col, id_col, k if refine is None else k * refine_factor
    )
    if refine is None:
        return shortlist
    # the refine: exact cosine over the shortlist's TRUE vectors
    r = _vectors(refine, [id_col], vec_col, "cv", "cn")
    qn = _vectors(queries, [query_id_col], vec_col, "qv", "qn")
    rescored = (
        shortlist.select(query_id_col, id_col)
        .join(r, id_col)
        .join(F.broadcast(qn), query_id_col)
        .select(query_id_col, id_col, _cosine("qv", "qn", "cv", "cn").alias("cosine"))
    )
    return _top_k(rescored, query_id_col, id_col, k)
