"""Generic connected components by min-label propagation with pointer
jumping — the shared engine under spatial cluster-merge (A4,
`geo_join.cluster_points`) and cluster-based near-dup dedup (dd6,
`dedup.minhash_cluster_dedup`).

Reference counterpart: the GeoPandas buffer+dissolve+explode chain at
/root/reference/src/ETL_POIS/process_pois.py:396-426 computes transitive
components of the ≤radius graph; this is the distributed equivalent for
ANY edge list.

100 TB notes: the edge list is computed once by the caller and cached
here for the loop; every round is two equi-joins + a groupBy-min — all
shuffle-parallel, no driver state beyond the loop counter. Pointer
jumping (label := label(label)) doubles how far a component's min
travels per round: O(log diameter) rounds, and rounds are shuffles at
scale. Lineage is truncated per round with GC-owned localCheckpoints so
the plan does not grow with iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_SCALE = 10**12


def truncate_round(
    df: DataFrame, prev: DataFrame | None = None, reset_stats: bool = True
) -> DataFrame:
    """Per-round state truncation for iterative loops: cut BOTH the
    logical plan AND the Catalyst statistics chain.

    ``localCheckpoint`` truncates the plan but PROPAGATES the child
    plan's statistics into the resulting LogicalRDD. In a loop whose
    round joins state with a projection of ITSELF (min-label CC,
    pointer doubling), the join's ``sizeInBytes`` is the product of two
    state-derived sizes — it SQUARES every round, the BigInt doubles in
    digit count, and the driver ends up in BigInteger Toom-Cook
    multiplies during planning: measured on a 4-row input, round cost
    is flat to ~round 14 then grows ~2.5×/round (58 s/round by round
    21) — identical under local, reliable, and shuffle-barrier
    checkpoints, because all of them keep origin stats. The fix is
    ``persist``+``count``: a MATERIALIZED InMemoryRelation reports its
    real cached bytes (64, not a 2^2^k-digit product), which resets the
    chain for the next round's planning. With the reset, 30 rounds run
    flat at ~0.2 s each.

    The reset is an extra full job (the count), so loops amortize it:
    pass ``reset_stats=True`` every few rounds only. Bits in the stat
    double per squaring, so a reset every R rounds bounds the BigInt at
    ~64·2^R bits (R=4 → 1k bits, multiply cost microseconds) while
    paying the extra job R× less often — er1's measured regression from
    an every-round reset (2.0 → 3.3 s at sf0.1) disappears.

    Returns the truncated state; unpersists ``prev`` (the previous
    round's state — pass it once no probe still needs it).
    """
    out = df.localCheckpoint(eager=True)
    if reset_stats:
        out = out.persist()
        out.count()
    if prev is not None:
        prev.unpersist()
    return out


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    id_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 5,
) -> DataFrame:
    """Fixed-iteration PageRank in SCALED-INTEGER arithmetic (damping
    0.85, scores in units of 1e-12), so ranks are bit-reproducible
    across engines — the same portability trick as operators/sketch.py.
    Production would use doubles; the integer form exists so the oracle
    gate can be exact, and it also never drifts between partial-sum
    orders. Dangling nodes keep their mass (simplified PageRank: leaked
    mass is not redistributed) — deterministic on both sides.

    100 TB notes: per iteration, one equi-join of the edge list against
    the score table (edges partitioned by src; scores are one row per
    node, the SMALL side — broadcast when the node set fits) and one
    groupBy(dst) partial-summed inflow. The edge list and out-degrees
    are cached once; lineage is truncated per round like
    connected_components. Node count is a driver scalar (metadata).
    """
    e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")).cache()
    nd = nodes.select(F.col(id_col).cast("long").alias("_node")).distinct().cache()
    n = nd.count()
    deg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_outdeg")).cache()
    base = (15 * PAGERANK_SCALE) // (100 * n)
    scores = nd.select("_node", F.lit(PAGERANK_SCALE // n).cast("long").alias("_score"))
    for it in range(iterations):
        contrib = (
            e.join(scores.withColumnRenamed("_node", "_src"), "_src")
            .join(deg, "_src")
            .select("_dst", F.expr("_score div _outdeg").alias("_contrib"))
        )
        inflow = contrib.groupBy("_dst").agg(F.sum("_contrib").alias("_inflow"))
        scores = nd.join(inflow.withColumnRenamed("_dst", "_node"), "_node", "left").select(
            "_node",
            (
                F.lit(base) + F.expr("(85 * coalesce(_inflow, 0L)) div 100")
            ).cast("long").alias("_score"),
        )
        # truncate lineage only periodically: each eager checkpoint costs a
        # job (A/B at sf0.1: 3.4s -> 1.7s for 3 iterations without), and a
        # handful of join layers is fine — only LONG runs need bounding
        if (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            scores = scores.localCheckpoint(eager=True)
    e.unpersist()
    deg.unpersist()
    nd.unpersist()
    return scores.select(F.col("_node").alias(id_col), F.col("_score").alias("score"))


def pagerank_oracle_sql(
    edges_cte: str, iterations: int = 3, scale: int = PAGERANK_SCALE
) -> str:
    """DuckDB CTE chain mirroring :func:`pagerank` exactly (unrolled
    iterations, ``//`` floor division on nonnegative BIGINTs ≡ Spark's
    ``div``). ``edges_cte`` must select ``src, dst``."""
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_cte}),",
        "nodes AS MATERIALIZED (SELECT CAST(src AS BIGINT) AS node FROM edges"
        " UNION SELECT CAST(dst AS BIGINT) FROM edges),",
        "cnt AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),",
        "deg AS MATERIALIZED (SELECT CAST(src AS BIGINT) AS src, CAST(COUNT(*) AS BIGINT) AS outdeg"
        " FROM edges GROUP BY src),",
        f"s0 AS (SELECT node, {scale} // (SELECT n FROM cnt) AS score FROM nodes),",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"i{i} AS (SELECT CAST(e.dst AS BIGINT) AS node,"
            f" CAST(SUM(s.score // d.outdeg) AS BIGINT) AS inflow"
            f" FROM edges e JOIN s{i - 1} s ON s.node = CAST(e.src AS BIGINT)"
            f" JOIN deg d ON d.src = CAST(e.src AS BIGINT) GROUP BY e.dst),"
        )
        parts.append(
            f"s{i} AS (SELECT n.node,"
            f" (15 * {scale}) // (100 * (SELECT n FROM cnt))"
            f" + (85 * COALESCE(i.inflow, 0)) // 100 AS score"
            f" FROM nodes n LEFT JOIN i{i} i ON i.node = n.node),"
        )
    body = "\n".join(parts).rstrip(",")
    return f"{body}\nSELECT node, CAST(score AS BIGINT) AS score FROM s{iterations}"


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    symmetrize: bool = True,
    loop_shuffle_partitions: int | None = None,
) -> DataFrame:
    """Label every node with the MINIMUM node id reachable through
    ``edges``. Returns ``(id_col, component_id)`` — one row per node;
    isolated nodes are their own component.

    ``symmetrize=False`` skips the reverse-edge union when the caller's
    edge list already contains both directions (e.g. a radius self-join).

    ``loop_shuffle_partitions`` sizes the per-round shuffles. The loop's
    localCheckpoint (needed to truncate iterative lineage) leaves AQE
    without leaf stats, so every round otherwise plans at the session's
    full ``spark.sql.shuffle.partitions`` — hundreds of near-empty tasks
    per round when the graph is entity-scale (er1: 14s → <2s with 8).
    Size it to the EDGE table: one core-worth of tasks per ~64 MB of
    edges; leave None to inherit the session conf (the 100 TB default).
    The width is applied with explicit per-round ``repartition(n, key)``
    calls on each join/agg input — EnsureRequirements then sees both
    sides already hash-partitioned at n, so no extra exchanges are
    inserted — NOT by mutating ``spark.sql.shuffle.partitions``, which
    would leak the shrunk width to any thread planning on the same
    SparkSession mid-loop (round-5 advisor).
    """
    if symmetrize:
        # explode, not union: a union's two branches each recompute the
        # upstream edge derivation (often an expensive similarity join);
        # the explode emits both directions from ONE scan of it
        e = edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")),
                    F.struct(F.col(dst_col).alias("_src"), F.col(src_col).alias("_dst")),
                )
            ).alias("_e")
        ).select("_e._src", "_e._dst")
    else:
        e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    if loop_shuffle_partitions is not None:
        # pre-hash the cache on the per-round join key so every round's
        # edge-side exchange is satisfied by the cached partitioning
        e = e.repartition(loop_shuffle_partitions, "_dst")
    e = e.cache()
    try:
        return _cc_loop(e, nodes, id_col, max_iter, parts=loop_shuffle_partitions)
    finally:
        e.unpersist()


def _cc_loop(
    e: DataFrame,
    nodes: DataFrame,
    id_col: str,
    max_iter: int,
    parts: int | None = None,
    jumps: int = 1,
) -> DataFrame:
    # sized(): explicit hash-repartition on the upcoming join/agg key at
    # the loop width. It IS the exchange the operation would insert
    # anyway (EnsureRequirements sees the child already hash-partitioned
    # on the key, at `parts`), just at a width scoped to THIS plan rather
    # than a session-conf override visible to concurrent planners.
    def sized(df: DataFrame, *keys: str) -> DataFrame:
        return df if parts is None else df.repartition(parts, *keys)

    cur = nodes.select(F.col(id_col).alias("_nid"), F.col(id_col).alias("component_id"))
    # `owned` tracks the round's TRUNCATED frame (the thing persist/
    # checkpoint applies to) — `cur` is a projection of it, so cache
    # lifecycle must target `owned`, not `cur`
    owned: DataFrame | None = None
    for it in range(max_iter):
        # min over {own label} ∪ {neighbor labels} in ONE aggregation:
        # the self branch rides the same groupBy instead of a separate
        # left join (round 7: one exchange pair fewer per round). The
        # self branch also carries the PRE-round label so the round can
        # emit its own convergence flag — the fixpoint probe is then a
        # scan of the checkpointed state, not a join against `cur`.
        neighbor_labels = e.join(
            sized(
                cur.select(
                    F.col("_nid").alias("_dst"), F.col("component_id").alias("_dst_label")
                ),
                "_dst",
            ),
            "_dst",
        ).select(
            F.col("_src").alias("_nid"),
            F.col("_dst_label").alias("_lbl"),
            F.lit(None).cast(cur.schema["component_id"].dataType).alias("_own"),
        )
        own_labels = cur.select(
            "_nid", F.col("component_id").alias("_lbl"), F.col("component_id").alias("_own")
        )
        merged = sized(neighbor_labels.unionByName(own_labels), "_nid").groupBy(
            "_nid"
        ).agg(
            F.min("_lbl").alias("component_id"),
            F.min("_own").alias("_old"),  # exactly one non-null per node
        ).filter(
            # edges whose source is outside `nodes` must not mint rows:
            # every real node contributes its own-label branch, so a
            # NULL _old marks a foreign source id
            F.col("_old").isNotNull()
        )
        # pointer jumping: labels are node ids, so they form a pointer
        # forest — following label→label(label) per jump multiplies how
        # far a component's min travels each round
        cur_j = merged
        for _ in range(jumps):
            parents = cur_j.select(
                F.col("_nid").alias("component_id"),
                F.col("component_id").alias("_parent"),
            )
            # parents needs no sized(): the rename keeps the agg's hash
            # partitioning on what is now the join key, so an explicit
            # repartition would only insert a redundant exchange
            cur_j = sized(cur_j, "component_id").join(
                parents, "component_id", "left"
            ).select(
                "_nid",
                F.least(
                    F.col("component_id"), F.coalesce("_parent", F.col("component_id"))
                ).alias("component_id"),
                F.col("_old"),
            )
        nxt = cur_j.select(
            "_nid", "component_id",
            (F.col("component_id") != F.col("_old")).alias("_changed"),
        )
        # truncate the plan every round (eager localCheckpoint); the
        # convergence probe is then a SCAN of the checkpointed state —
        # the round's own `_changed` flag — instead of the former join
        # against `cur` (round 7: one exchange pair + a join fewer per
        # probe). A persist+agg single-job variant was measured and
        # REJECTED: InMemoryRelation substitution re-derived earlier
        # rounds (a4b 3.1s → 19s), while the checkpoint RDD pins state
        # unconditionally.
        nxt = truncate_round(nxt, reset_stats=False)
        changed = nxt.filter(F.col("_changed")).limit(1).count()
        if owned is not None:
            owned.unpersist()  # probe done with the previous round
        owned = nxt
        cur = nxt.select("_nid", "component_id")
        if changed == 0:
            break
        # Catalyst-stats reset (the CC round squares sizeInBytes twice,
        # so bits ×4/round) AFTER the probe — a loop about to exit
        # never pays the extra persist+count job. Guarded to rounds
        # with a guaranteed successor so a max_iter exhaustion cannot
        # strand the persisted frame (round-7 advisor); the result
        # stays pinned by the checkpoint RDD, not the cache entry.
        if it % 4 == 3 and it < max_iter - 1:
            nxt.persist()
            nxt.count()
    return cur.select(F.col("_nid").alias(id_col), "component_id")


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Exact global triangle count by degree-ordered edge orientation
    (the node-iterator++ / "compact-forward" algorithm every
    distributed graph engine uses).

    Self-loops drop, direction and multiplicity collapse, then each
    undirected edge is oriented from the endpoint with the smaller
    (degree, id) rank to the larger. Every triangle {a,b,c} with rank
    a<b<c appears EXACTLY once: as the wedge (a->b, a->c) closed by the
    oriented edge (b->c) — so one wedge self-join keyed on the source
    plus one closing equi-join keyed on the (src,dst) pair counts each
    triangle once, no dedup stage.

    100 TB shape: orientation bounds every out-neighborhood by
    O(sqrt(E)) regardless of degree skew (the classic bound — a
    celebrity node's edges mostly point AT it), so the wedge join's
    per-key fan-out is capped; all three joins are equi-joins under
    AQE's skew splitting. Returns one row: ``n_triangles``.
    """
    # GC-owned lazy checkpoint: the distinct edge set fans out three ways
    # (both degree streams + the orientation join) — without it the
    # dedup shuffle re-runs per consumer
    und = (
        edges.filter(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(src_col, dst_col).alias("lo"),
            F.greatest(src_col, dst_col).alias("hi"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("lo").alias("n"))
        .unionAll(und.select(F.col("hi").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("n", "lo").withColumnRenamed("d", "d_lo"), "lo")
        .join(deg.withColumnRenamed("n", "hi").withColumnRenamed("d", "d_hi"), "hi")
    )
    lo_first = F.struct(F.col("d_lo"), F.col("lo")) < F.struct(F.col("d_hi"), F.col("hi"))
    o = ranked.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("s"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("t"),
    )
    wedges = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.s") == F.col("e2.s"))
        .filter(F.col("e1.t") != F.col("e2.t"))
        .select(F.col("e1.t").alias("a"), F.col("e2.t").alias("b"))
    )
    closed = wedges.join(
        o.alias("e3"),
        (F.col("a") == F.col("e3.s")) & (F.col("b") == F.col("e3.t")),
        "inner",
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    id_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Hop distance (BFS level) from a source set to every reachable
    node — unweighted single/multi-source shortest paths, the frontier
    form every distributed graph engine uses.

    ``sources`` is a one-column frame of start nodes (level 0). Each
    round relaxes one hop: current levels join edges on the source end,
    candidate ``level+1`` labels group-min with the standing levels. A
    node's level only ever decreases, so ``max_iter`` rounds bound the
    discovered radius (pass the graph's diameter bound; unreachable
    nodes are absent from the result — the caller left-joins if it
    wants NULLs).

    Scale shape: per round one equi-join of the (node, level) frame —
    |reached| rows, compact — against the cached edge list plus one
    groupBy-min; lineage truncates per round with GC-owned local
    checkpoints like connected_components. Returns (id_col, level).
    """
    e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")).cache()
    cur = sources.select(F.col(sources.columns[0]).alias("_nid")).distinct().select(
        "_nid", F.lit(0).cast("long").alias("level")
    )
    for _ in range(max_iter):
        hop = (
            e.join(cur.select(F.col("_nid").alias("_src"), "level"), "_src")
            .select(F.col("_dst").alias("_nid"), (F.col("level") + 1).alias("level"))
        )
        nxt = (
            cur.unionByName(hop)
            .groupBy("_nid")
            .agg(F.min("level").alias("level"))
            .localCheckpoint(eager=True)  # probe below materializes it anyway
        )
        # fixpoint probe (the CC discipline): BFS on a small-diameter
        # graph converges long before the cap, and each blind round is
        # two jobs — stop when no node was discovered or improved
        changed = (
            nxt.alias("n")
            .join(cur.alias("c"), "_nid", "left")
            .filter(
                F.col("c.level").isNull() | (F.col("n.level") < F.col("c.level"))
            )
            .limit(1)
            .count()
        )
        cur = nxt
        if changed == 0:
            break
    e.unpersist()
    return cur.select(F.col("_nid").alias(id_col), "level")


def flatten_hierarchy(
    parents: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    max_iter: int = 40,
    on_cycle: str = "raise",
) -> DataFrame:
    """Flatten a parent-pointer forest to (node, root, depth) — the
    recursive-dimension classic (org charts, category trees, BOM
    roll-ups). ``parents`` has one row per node; roots carry NULL in
    ``parent_col``.

    Pointer DOUBLING with distance accumulation: state (node, anc, d)
    starts at (parent, 1) — or (self, 0) for roots — and each round
    substitutes anc := state[anc].anc, d += state[anc].d, so the
    distance-to-root resolves in ceil(log2(depth)) rounds (a 2^20-deep
    chain needs 20 rounds). This is the loop neither
    connected_components (no distances) nor bfs (single source) covers.
    Each round is ONE left equi-join on the ancestor key + an eager
    local checkpoint (the engine-wide iterative-lineage discipline); a
    changed-row probe exits early at the fixpoint.

    DANGLING PARENTS (a parent id with no row — the routine feed
    defect) terminate their subtree at the dangling id: those nodes
    resolve with root = the missing ancestor id and the depth walked so
    far, NEVER silently dropped. Detect them by anti-joining the output
    roots against the node set.

    CYCLES (a parent chain that loops — the other feed defect) cannot
    flatten: the ancestor pointer orbits the cycle, so affected rows
    would exit with a cycle member as "root" and a meaningless doubled
    depth. They are detected after the loop — a resolved root that
    EXISTS in the node set with a non-null parent is only possible
    inside a cycle (legitimate roots have NULL parents; dangling roots
    are absent from the node set) — and handled per ``on_cycle``:
    ``"raise"`` (default) raises ValueError; ``"flag"`` returns the
    extra boolean column ``in_cycle`` (root/depth are meaningless where
    it is true, the caller quarantines those rows). Depth accumulates
    in BIGINT because a cycle spins the doubling loop to ``max_iter``
    (non-power-of-2 cycle lengths never stabilize the pointer).
    """
    if on_cycle not in ("raise", "flag"):
        raise ValueError(f"on_cycle must be 'raise' or 'flag', got {on_cycle!r}")
    state = truncate_round(
        parents.select(
            F.col(node_col).alias("_n"),
            F.coalesce(F.col(parent_col), F.col(node_col)).alias("_anc"),
            F.when(F.col(parent_col).isNull(), F.lit(0)).otherwise(F.lit(1))
            .cast("long")
            .alias("_d"),
        )
    )
    for it in range(max_iter):
        hop = state.select(
            F.col("_n").alias("_anc"),
            F.col("_anc").alias("_anc2"),
            F.col("_d").alias("_d2"),
        )
        nxt = truncate_round(
            state.join(hop, "_anc", "left")  # left: dangling anc = terminal
            .select(
                "_n",
                F.coalesce(F.col("_anc2"), F.col("_anc")).alias("_anc"),
                (F.col("_d") + F.coalesce(F.col("_d2"), F.lit(0)))
                .cast("long")
                .alias("_d"),
            ),
            reset_stats=False,
        )
        changed = (
            nxt.alias("a")
            .join(state.alias("b"), "_n")
            .filter(F.col("a._anc") != F.col("b._anc"))
            .limit(1)
            .count()
        )
        state.unpersist()
        state = nxt
        if changed == 0:
            break
        # stats reset AFTER the probe (one squaring/round: bits ×2) —
        # an exiting loop never pays it; the it < max_iter - 1 guard
        # means a max_iter exhaustion cannot strand the persisted
        # frame (round-7 advisor)
        if it % 8 == 7 and it < max_iter - 1:
            state.persist()
            state.count()
    out = state.select(
        F.col("_n").alias(node_col),
        F.col("_anc").alias("root"),
        # least() guards the ANSI int cast: cycle rows carry a doubled
        # BIGINT _d; their depth is meaningless anyway (flagged below)
        F.least(F.col("_d"), F.lit(2**31 - 1)).cast("int").alias("depth"),
    )
    # cycle probe: one broadcast-sized equi-join of resolved roots
    # against the parent table (roots are few; the flag join is on the
    # full output but stays an equi-join — no extra pass over `parents`)
    root_parent = parents.select(
        F.col(node_col).alias("root"), F.col(parent_col).alias("_root_parent")
    )
    flagged = out.join(root_parent, "root", "left").select(
        node_col, "root", "depth", F.col("_root_parent").isNotNull().alias("in_cycle")
    )
    if on_cycle == "flag":
        return flagged
    n_bad = flagged.filter(F.col("in_cycle")).limit(1).count()
    if n_bad:
        raise ValueError(
            "flatten_hierarchy: parent feed contains a cycle (a resolved "
            "root has a non-null parent); pass on_cycle='flag' to "
            "quarantine affected rows instead"
        )
    return flagged.drop("in_cycle")
