"""Iterative graph operators — connected components for dedup
clustering (beyond reference; the canonical last stage of a near-dup
pipeline: candidate PAIRS → duplicate CLUSTERS → one canonical doc).

Spark has no recursion; components are computed by iterative min-label
propagation on DataFrames:

    label(v) ← min(label(v), min over neighbors' labels)

repeated until a fixpoint. Each iteration is one shuffle (join on the
edge list + min-aggregate); convergence in O(graph diameter) rounds —
near-dup graphs are unions of small cliques, so diameter is tiny. Every
iteration ``localCheckpoint``s to truncate the lineage (without it the
plan doubles each round and the driver OOMs planning, long before data
size matters).

At 100 TB: ``connected_components`` is the simple-and-robust
formulation for low-diameter graphs (near-dup clique unions);
``connected_components_star`` (Kiveris et al. large-star/small-star,
round 6) is the log-round scale path for unbounded-diameter graphs —
same per-round shuffle shape (min-aggregate + edge-keyed join), but
O(log² n) rounds instead of O(diameter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _observed_checkpoint(
    df: DataFrame,
    metrics: list,
    keep: list[str] | None = None,
) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` with aggregate ``metrics`` collected
    DURING the materialization job (``Dataset.observe``), so per-round
    bookkeeping — convergence probes, row counts, L1 deltas — costs no
    extra Spark job. The old shape paid one probe job per round on the
    already-materialized blocks (and a converged ``limit(1).count()``
    probe pays 2+ jobs: CollectLimit escalates through partition
    batches before concluding the frame is empty); ``observe`` folds
    the same aggregate into the checkpoint's own pass (guide §2.4/§5 —
    measured 3 jobs → 1 per label-CC round, OPTIMIZATION_r14.md batch 1;
    the contract is pinned in tests/test_graph.py).
    ``keep`` projects the checkpointed output ABOVE the observe node,
    so metric-only columns are never materialized into the checkpoint.
    CollectMetrics is a row-level pass-through: the checkpointed rows
    are bit-identical to an unobserved checkpoint's."""
    obs = Observation()
    out = df.observe(obs, *metrics)
    if keep is not None:
        out = out.select(*keep)
    ck = out.localCheckpoint(eager=True)
    return ck, obs.get


def _release_checkpoint(df: DataFrame) -> None:
    """Deterministically free a superseded ``localCheckpoint``'s blocks.

    ``DataFrame.unpersist()`` only clears CacheManager entries (those
    made by ``.persist()``/``.cache()``); a local checkpoint persists
    its RDD directly, bypassing the CacheManager, so on a checkpointed
    frame ``unpersist()`` is a silent no-op and superseded per-round
    checkpoints would sit in block-manager storage until the JVM's
    ContextCleaner gets around to them. Reach the checkpointed RDD
    through the plan's LogicalRDD node and unpersist IT. Falls back to
    doing nothing if the internal handle is unavailable — the blocks
    are then freed lazily by the ContextCleaner (the pre-fix behavior),
    never leaked.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # pragma: no cover — py4j internals unavailable
        pass


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 1000,
) -> DataFrame:
    """(vertex, component) — component = min vertex id reachable.

    ``edges`` is undirected input (each pair listed once is enough).
    Deterministic: min-label is order-independent.

    Runs to the FIXPOINT (a round that changes no label); convergence
    takes O(component diameter) rounds — tiny on near-dup graphs
    (unions of small cliques), graph-diameter-many on a long path.
    ``max_iter`` is a runaway backstop like kcore/bfs_depths': hitting
    it RAISES rather than silently returning partial labels (the
    pre-round-6 behavior with the old default of 20 — a >20-diameter
    component would have come back split into wrong sub-components).

    ``sym`` holds both directions of every edge plus one self-loop per
    vertex, so a vertex's own label arrives through the same join as
    its neighbors' and a round is one join and one aggregate:
    ``min(component)`` over the rows of ``a`` is the new label, and the
    same min over the self-loop row alone is the previous one. Every
    label starts as its own vertex, so round 1 needs no join at all:
    it is ``sym.groupBy(a).min(b)``.
    """
    # one scan of the (possibly expensively derived) edge input
    ends = [(src, dst), (dst, src), (src, src), (dst, dst)]
    sym = (
        edges.select(
            F.explode(
                F.array(
                    *[F.struct(F.col(x).alias("a"), F.col(y).alias("b")) for x, y in ends]
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    rows = sym.withColumn("component", F.col("b"))
    labels = None
    for _ in range(max_iter):
        # The fixpoint probe rides the round's OWN checkpoint
        # materialization: count(label changed) is an observed metric
        # of the checkpoint job, and prev is consumed below the ``keep``
        # projection, never materialized.
        new_ckpt, got = _observed_checkpoint(
            rows.groupBy(F.col("a").alias("vertex")).agg(
                F.min("component").alias("component"),
                F.min(
                    F.when(F.col("a") == F.col("b"), F.col("component"))
                ).alias("prev"),
            ),
            [
                F.count(
                    F.when(F.col("component") != F.col("prev"), True)
                ).alias("changed")
            ],
            keep=["vertex", "component"],
        )
        if labels is not None:
            _release_checkpoint(labels)  # superseded — keep ONE label table
        labels = new_ckpt
        if got["changed"] == 0:
            break
        rows = sym.join(labels.withColumnRenamed("vertex", "b"), "b")
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter}"
        )
    # the edge list is dead once the loop exits (labels is a
    # self-contained checkpoint)
    _release_checkpoint(sym)
    return labels


def dedup_clusters(
    vertices: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str,
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    method: str = "label",
) -> DataFrame:
    """Full-table cluster assignment: every vertex gets a cluster id
    (the min member id); singletons are their own cluster. The canonical
    representative IS the cluster id — downstream dedup keeps
    ``id == cluster`` rows.

    ``method``: ``"label"`` (default) = min-label propagation, fewest
    shuffles per round, right for near-dup graphs (clique unions,
    diameter ~2); ``"star"`` = large-star/small-star
    (``connected_components_star``), O(log² n) rounds, right when the
    candidate graph's diameter is unbounded (e.g. clustering a kNN
    graph). Both produce identical labels (pinned in test_graph)."""
    if method not in ("label", "star"):
        raise ValueError(
            f"method must be 'label' or 'star', got {method!r}"
        )
    cc = {
        "label": connected_components,
        "star": connected_components_star,
    }[method]
    comp = cc(candidate_pairs, src=pair_a, dst=pair_b)
    return (
        vertices.select(F.col(id_col).alias("vertex"))
        .join(comp, on="vertex", how="left")
        .select(
            F.col("vertex").alias(id_col),
            F.coalesce("component", F.col("vertex")).alias("cluster"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """(vertex, rank) — PageRank over a DIRECTED edge list, fixed
    iteration count (deterministic: no convergence-threshold float
    compare; same input → same plan → same ranks).

    Per iteration, one shuffle pattern: contributions = rank/out_degree
    shipped along edges (join on src), summed per destination (aggregate
    on dst), then the damping update. Dangling vertices (no out-edges)
    redistribute nothing — their mass exits and the (1-d) teleport term
    keeps the total bounded; ranks are normalized to sum = n_vertices at
    the end so the output is comparable across graphs. localCheckpoint
    truncates lineage each round exactly as connected_components does.

    At 100 TB: per-round cost is |edges| shuffle bytes keyed on vertex
    ids; heavy-hitter hub vertices are the skew risk — AQE skew splitting
    handles the aggregate side, and the join side is bounded by
    out-degree (k in a KNN graph). Tolerance-tested like the sketches —
    iterative float fixpoints are not oracle-hashable.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select(F.col("s").alias("vertex"))
        .unionByName(e.select(F.col("t").alias("vertex")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    out_deg = e.groupBy(F.col("s").alias("vertex")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    ranks = verts.withColumn("rank", F.lit(1.0))
    for _ in range(n_iter):
        contribs = (
            e.join(ranks, e["s"] == ranks["vertex"])
            .join(out_deg, "vertex")
            .select(F.col("t").alias("vertex"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("vertex")
            .agg(F.sum("c").alias("inflow"))
        )
        prev = ranks
        ranks = (
            verts.join(contribs, "vertex", "left")
            .select(
                "vertex",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        # superseded round checkpoint (round 1's prev is unmaterialized
        # and the release no-ops) — keep ONE rank table live
        _release_checkpoint(prev)
    total = ranks.agg(F.sum("rank").alias("t"))
    return ranks.crossJoin(F.broadcast(total)).select(
        "vertex", (F.col("rank") * n / F.col("t")).alias("rank")
    )


_TRI_STRIDE = 100_000_000_000  # (degree, id) packed total order; ids < 1e11


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    normalized: bool = False,
) -> DataFrame:
    """One row (n_nodes, n_edges, n_triangles, global_clustering) for an
    UNDIRECTED edge list (one row per edge, ``src < dst``, no
    self-loops), by degree orientation — see plans/graph_q.py's
    g_triangle_count docstring for the scale argument (out-degree capped
    at O(sqrt m), three node-keyed equi-join shuffles).

    Duplicate edge rows are collapsed; rows violating src < dst are
    normalized rather than trusted (a reversed duplicate would
    otherwise double-count). Pass ``normalized=True`` when the input is
    already distinct with src < dst (e.g. produced by a groupBy) to
    skip the normalization shuffle."""
    e = edges.select(F.col(src).alias("pa"), F.col(dst).alias("pb"))
    if not normalized:
        e = (
            e.select(
                F.least("pa", "pb").alias("pa"),
                F.greatest("pa", "pb").alias("pb"),
            )
            .filter(F.col("pa") < F.col("pb"))
            .dropDuplicates()
        )
    e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionByName(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    okey = F.col("deg") * _TRI_STRIDE + F.col("node")
    ka = deg.select(F.col("node").alias("pa"), okey.alias("ka"))
    kb = deg.select(F.col("node").alias("pb"), okey.alias("kb"))
    ek = e.join(ka, "pa").join(kb, "pb")
    oriented = ek.select(
        F.when(F.col("ka") < F.col("kb"), F.col("pa"))
        .otherwise(F.col("pb"))
        .alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("pb"))
        .otherwise(F.col("pa"))
        .alias("dst"),
        F.greatest("ka", "kb").alias("kdst"),
    ).localCheckpoint(eager=True)
    o1 = oriented.select("src", F.col("dst").alias("v"), F.col("kdst").alias("k1"))
    o2 = oriented.select("src", F.col("dst").alias("w"), F.col("kdst").alias("k2"))
    wedges = (
        o1.join(o2, "src").filter(F.col("k1") < F.col("k2")).select("v", "w")
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    # coalesce: sum() over an empty degree table is NULL, and NULL == 0
    # would skip the zero-wedge guard, propagating NULL clustering.
    wtot = deg.agg(
        F.coalesce(
            F.sum(F.expr("deg * (deg - 1) div 2")), F.lit(0)
        ).alias("n_wedges")
    )
    return (
        tri.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(wtot))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(
                F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")
                ),
                4,
            ).alias("global_clustering"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 1000,
) -> DataFrame:
    """(node, core_deg) — the k-CORE of an undirected edge list (one row
    per edge), peeled to the FIXPOINT: rounds continue until a round
    removes no edge, so callers on arbitrarily deep graphs get the true
    core. This is the library form of plans/graph_q.py's ``g_kcore``,
    whose round count is a pinned CONSTANT so its oracle can unroll to
    chained CTEs — the two agree whenever the constant reaches the
    fixpoint (pinned at test SF by test_graph's equivalence test).

    Per round: one degree aggregate plus two leftsemi joins on the edge
    key, all shuffle-partitioned by node/edge keys; the shrinking edge
    list is localCheckpointed per round (edges are referenced three
    times per round — an unmaterialized unroll re-derives the input
    3^rounds times, the documented k-core 1000-scan lesson). The
    early-exit test is a driver-side count of the already-materialized
    checkpoint, so it costs one cheap job per round, and rounds needed
    is the graph's degeneracy-peel depth (typically tens).

    ``max_iter`` is a runaway backstop, not a tuning knob; hitting it
    raises rather than silently returning a partial peel."""
    e, got = _observed_checkpoint(
        edges.select(F.col(src).alias("pa"), F.col(dst).alias("pb")),
        [F.count(F.lit(1)).alias("n")],
    )
    n_edges = int(got["n"])
    for _ in range(max_iter):
        if n_edges == 0:
            break
        deg = (
            e.select(F.col("pa").alias("node"))
            .unionByName(e.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        prev = e
        # the surviving-edge count rides the round checkpoint's own
        # materialization (observed metric — no per-round count job)
        e, got = _observed_checkpoint(
            e.join(keep.withColumnRenamed("node", "pa"), "pa", "leftsemi")
            .join(keep.withColumnRenamed("node", "pb"), "pb", "leftsemi"),
            [F.count(F.lit(1)).alias("n")],
        )
        # superseded checkpoint — keep ONE edge list in block-manager
        # storage, not one per peel round (deep peels run hundreds)
        _release_checkpoint(prev)
        n_next = int(got["n"])
        # n_next == 0 is a fixpoint by definition — break NOW rather
        # than on the next pass's n_edges == 0 check, so a peel that
        # empties the graph on exactly the last allowed iteration
        # returns instead of spuriously raising at the for-else.
        if n_next in (0, n_edges):
            break
        n_edges = n_next
    else:
        raise RuntimeError(f"kcore: no fixpoint within max_iter={max_iter}")
    return (
        e.select(F.col("pa").alias("node"))
        .unionByName(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
    )


def bfs_depths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    symmetrize: bool = True,
    max_iter: int = 1000,
) -> DataFrame:
    """(node, depth) — hop distance from the seed set, level-synchronous
    BFS run to the FIXPOINT (empty frontier), so callers on arbitrarily
    deep graphs get full reachability. Library form of
    plans/graph_q.py's ``g_bfs_depth``, whose round count is a pinned
    constant for oracle unrolling; equivalence at test SF is pinned in
    test_graph.

    ``sources`` is a one-column (``node``) DataFrame of seeds, all at
    depth 0 (a multi-source BFS is the same loop). Each round joins the
    CURRENT frontier — not the visited set — against the edge list,
    dedups, and anti-joins visited, so per-round work is
    frontier-degree-sum; frontier and visited are localCheckpointed per
    round (visited is referenced by every later anti-join). Terminates
    in eccentricity-many rounds; ``max_iter`` is a runaway backstop and
    hitting it raises rather than returning partial depths."""
    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    if symmetrize:
        sym = sym.unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("t"))
        )
    sym = sym.localCheckpoint(eager=True)
    frontier = sources.select("node").localCheckpoint(eager=True)
    visited = frontier.withColumn("depth", F.lit(0).cast("long"))
    for i in range(1, max_iter + 1):
        prev_frontier = frontier
        # frontier size rides the checkpoint materialization (observed
        # metric — no per-round count job)
        frontier, got = _observed_checkpoint(
            sym.join(frontier.select(F.col("node").alias("s")), "s")
            .select(F.col("t").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti"),
            [F.count(F.lit(1)).alias("n")],
        )
        if int(got["n"]) == 0:
            # the last non-empty frontier is dead IF visited is already
            # a self-contained checkpoint (every round but the first —
            # round 1's visited still references the depth-0 frontier)
            if i > 1:
                _release_checkpoint(prev_frontier)
            break
        prev_visited = visited
        visited = visited.unionByName(
            frontier.withColumn("depth", F.lit(i).cast("long"))
        ).localCheckpoint(eager=True)
        # Both superseded checkpoints are dead only now: round 1's
        # visited is an UNMATERIALIZED projection of the source
        # frontier, so the source frontier must outlive the first
        # visited checkpoint (and the release of an unmaterialized
        # frame no-ops). On the empty-frontier break path nothing is
        # released — the returned visited may still reference the
        # depth-0 frontier.
        _release_checkpoint(prev_frontier)
        _release_checkpoint(prev_visited)
    else:
        raise RuntimeError(f"bfs_depths: frontier non-empty after max_iter={max_iter}")
    return visited


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000_000,
    n_iter: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """(node, rank) — PageRank in FIXED-POINT integer arithmetic, so the
    result is bit-exact across engines and oracle-hashable (the float
    ``pagerank`` above is tolerance-tested only; float sums depend on
    partition reduction order).

    Ranks are integers scaled by ``scale``; each iteration is
        share(u)  = rank(u) div out_deg(u)
        inflow(v) = sum of share(u) over in-edges (u, v)
        rank'(v)  = (1-d)*scale + (d_num * inflow) div d_den
    with all divisions integer floor divisions of non-negative operands —
    DuckDB's ``//`` and Spark's ``div`` agree exactly there, which is
    what makes the unrolled-CTE oracle in plans/graph_q.py hash-match.
    Truncation loses < 1 unit of 1e-9 rank per edge per round —
    immaterial for ranking, essential for determinism.

    The edge list is treated as DIRECTED; symmetrize upstream for an
    undirected graph (then every node has out-degree >= 1 and no
    dangling-mass term is needed; dangling nodes in a directed input
    simply leak their mass, as the float twin does).

    Scale shape per iteration: one N-row projection (share), one
    edge-keyed equi-join shuffling |E| share rows, one map-side-
    combinable sum keyed on the destination node, one N-row left join.
    Hub skew on the aggregate side is AQE-splittable because the sum is
    associative. The iteration count is a constant (default 3), so
    lineage stays shallow and no checkpoint is needed.

    Overflow bound: sum(rank) stays <= N*scale + N (teleport + damped
    inflow is a contraction), so d_num * inflow <= d_num * N * scale
    must stay under 2^63 — at scale=1e9 that holds to N ~ 1e8 nodes;
    shrink ``scale`` for larger vertex sets.
    """
    # materialize once: the edge list feeds out_deg, nodes, AND every
    # iteration's join — an expensively-derived edge list (e.g. the
    # co-purchase self-join) would otherwise be re-derived ~2+n_iter
    # times (measured 12.2s -> ~5s at sf0.1 for g_pagerank).
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).localCheckpoint(eager=True)
    out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    teleport = (damping_den - damping_num) * scale // damping_den
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .dropDuplicates()
    )
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(n_iter):
        shares = (
            ranks.join(out_deg, ranks["node"] == out_deg["s"])
            .select(F.col("s"), F.expr("rank div deg").alias("share"))
        )
        inflow = (
            e.join(shares, "s")
            .groupBy(F.col("t").alias("node"))
            .agg(F.sum("share").alias("inflow"))
        )
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.expr(
                    f"({damping_num} * coalesce(inflow, CAST(0 AS BIGINT)))"
                    f" div {damping_den}"
                )
            ).alias("rank"),
        )
    return ranks


def pagerank_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000_000,
    eps_units: int | None = None,
    damping_num: int = 85,
    damping_den: int = 100,
    max_iter: int = 200,
) -> tuple[DataFrame, int]:
    """((node, rank), rounds) — ``pagerank_fixed_point`` run to
    CONVERGENCE instead of a pinned iteration count: rounds continue
    until the total L1 rank movement sum(|rank' - rank|), an EXACT
    integer in the same 1/scale units as the ranks, drops to
    ``eps_units`` or below (default: scale/1e6 per node — mean drift
    below 1e-6, which at damping d=0.85 takes ~log(1e-6)/log(d) ≈ 85
    rounds; the delta decays geometrically at ratio d, so each extra
    decade of precision costs ~14 more rounds and the floor-truncation
    quantization floor of a few units/node sits far below the
    default). The fixpoint sibling of
    ``kcore``/``bfs_depths`` for the gated constant-round ``g_pagerank``
    (plans/graph_q.py): each round's update expression is IDENTICAL to
    ``pagerank_fixed_point``'s, so running that with ``n_iter=rounds``
    reproduces this result bit-for-bit (pinned in test_graph) — the
    convergence wrapper adds a stopping rule, never different
    arithmetic.

    Lineage discipline: ranks are localCheckpointed per round (each
    round's frame is referenced by the NEXT update and by the delta
    aggregate — an unmaterialized unroll re-derives the whole history
    per reference, the k-core 1000-scan lesson); the edge list and node
    set are checkpointed once up front. Per round: the fixed-point
    iteration's |E|-join + destination-keyed sum, plus one node-keyed
    equi-join for the delta (both sides checkpointed; the sum is
    map-side combinable, accumulated in DECIMAL(38,0) so the bound is
    the 38-digit contract, not 2^63). ``max_iter`` is a runaway
    backstop and hitting it raises rather than returning a
    non-converged ranking."""
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).localCheckpoint(eager=True)
    out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    teleport = (damping_den - damping_num) * scale // damping_den
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    ranks = nodes.withColumn(
        "rank", F.lit(scale).cast("long")
    ).localCheckpoint(eager=True)
    if n_nodes == 0:
        # empty graph: already at the fixpoint (the delta aggregate
        # below would collect a NULL sum over zero rows)
        return ranks, 0
    if eps_units is None:
        eps_units = n_nodes * max(scale // 1_000_000, 1)
    for rounds in range(1, max_iter + 1):
        shares = (
            ranks.join(out_deg, ranks["node"] == out_deg["s"])
            .select(F.col("s"), F.expr("rank div deg").alias("share"))
        )
        inflow = (
            e.join(shares, "s")
            .groupBy(F.col("t").alias("node"))
            .agg(F.sum("share").alias("inflow"))
        )
        # Derive the new ranks from the CURRENT rank table (same node
        # set as ``nodes`` — ranks is nodes × rank by construction), so
        # the old rank is available as ``prev`` and the L1 delta rides
        # the round checkpoint's own materialization as an observed
        # metric: the old shape's whole node-keyed old⋈new delta join +
        # aggregate job per round is gone (guide §2.4). Ranks are
        # bit-identical — the update expression never reads prev.
        new_ranks, got = _observed_checkpoint(
            ranks.join(inflow, "node", "left").select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damping_num} * coalesce(inflow, CAST(0 AS BIGINT)))"
                        f" div {damping_den}"
                    )
                ).alias("rank"),
                F.col("rank").alias("prev"),
            ),
            [
                F.sum(
                    F.abs(F.col("rank") - F.col("prev")).cast("decimal(38,0)")
                ).alias("d")
            ],
            keep=["node", "rank"],
        )
        delta = got["d"]
        # the superseded round's checkpoint is dead once the delta is
        # computed — unpersist it so storage holds ONE rank table, not
        # up to max_iter of them
        _release_checkpoint(ranks)
        ranks = new_ranks
        if int(delta) <= eps_units:
            return ranks, rounds
    raise RuntimeError(
        f"pagerank_converged: L1 delta above {eps_units} after "
        f"max_iter={max_iter}"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 60,
) -> DataFrame:
    """(vertex, component) — same contract as ``connected_components``
    (component = min reachable vertex id), via alternating LARGE-STAR /
    SMALL-STAR rounds (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): the scale path for HIGH-DIAMETER graphs,
    converging in O(log² n) rounds where min-label propagation needs
    O(diameter) — a 1e6-hop chain finishes in ~tens of rounds instead
    of 1e6.

        large-star(u): for every neighbor v > u, connect v to
                       min(Γ(u) ∪ {u})
        small-star(u): for every neighbor v <= u (plus u itself),
                       connect it to min({v ∈ Γ(u): v <= u} ∪ {u})

    Both phases are one groupBy(min) + one edge-keyed equi-join over the
    current edge list — the identical shuffle shape as a min-label
    round, so everything said about skew/AQE there carries over. The
    edge list is localCheckpointed per phase (each feeds the next
    phase's aggregate AND join) and the superseded checkpoint is
    unpersisted. Convergence = a full (large, small) round leaves the
    edge set unchanged (checked by count equality — both sides are
    distinct sets — plus ONE exceptAll probe; set equality follows
    from |A| == |B| and A\\B == ∅). At the fixpoint the edges form
    stars (v -> component min). ``max_iter`` bounds (large, small)
    round PAIRS and raises on overrun: observed convergence is
    ~log2(n) pairs (18 pairs on a 2^17-edge path; exhaustively ≤ a
    handful on all 6-vertex graphs), so 60 gives order-of-magnitude
    headroom over the measured behavior up to astronomically large
    components — note the paper's worst-case O(log² n) bound is
    weaker, so a pathological input would raise here rather than
    silently spin.

    Equivalence to ``connected_components`` on every input is pinned in
    test_graph (random graphs + deep paths). Use the simple form for
    near-dup clique unions (diameter ~2, fewer shuffles per round);
    use this one when component diameter is unbounded (kNN graphs,
    social/web graphs, long event chains)."""
    # materialize the (possibly expensively derived — LSH joins, kNN
    # candidate generation) input ONCE; e and all_vertices both derive
    # from this checkpoint, so the upstream plan runs a single time
    # (the pagerank_fixed_point re-derivation lesson).
    raw = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=True)
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    all_vertices = (
        raw.select(F.col("a").alias("vertex"))
        .unionByName(raw.select(F.col("b").alias("vertex")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    _release_checkpoint(raw)

    def _sym(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).unionByName(df.select(F.col("b").alias("u"), F.col("a").alias("v")))

    # Each phase computes min(v) PER u while keeping every (u, v) row —
    # a window min over partitionBy(u), not the groupBy+join-back form:
    # the aggregate+join pays the same 2|E|-row exchange on u for the
    # join's sym side PLUS the aggregate's own exchange (and at scale
    # the per-u min table is |V| rows — beyond broadcast, so the join
    # adds a second full sort), whereas the window computes the min in
    # place after the one exchange (guide §2.4 — operations keyed the
    # same way share one exchange). Measured at sf0.1: ~20% off the
    # whole loop, identical edge sets every round
    # (OPTIMIZATION_r13.md batch 3).
    _w_u = Window.partitionBy("u")

    def _large_star(df: DataFrame) -> DataFrame:
        withm = _sym(df).withColumn(
            "m", F.least(F.min("v").over(_w_u), F.col("u"))
        )
        out = (
            withm.filter(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("a"), F.greatest("v", "m").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
        )
        return out

    def _small_star(df: DataFrame) -> DataFrame:
        # neighbors v <= u only (orient every edge toward the larger id)
        withm = _sym(df).filter(F.col("v") < F.col("u")).withColumn(
            "m", F.min("v").over(_w_u)  # m < u always
        )
        out = (
            withm.select(
                F.least("v", "m").alias("a"), F.greatest("v", "m").alias("b")
            )
            .unionByName(
                # center link for every u that HAS a v < u neighbor —
                # one (m, u) row per (u, v) input row; the dropDuplicates
                # collapses them to the old aggregate's row set
                withm.select(F.col("m").alias("a"), F.col("u").alias("b"))
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
        )
        return out

    n_edges = e.count()
    for _ in range(max_iter):
        after_large = _large_star(e).localCheckpoint(eager=True)
        # the per-round size rides the small-star checkpoint's own
        # materialization as an observed metric (no separate count job
        # per round — see _observed_checkpoint)
        after_small, got = _observed_checkpoint(
            _small_star(after_large), [F.count(F.lit(1)).alias("n")]
        )
        _release_checkpoint(after_large)
        # both sides are distinct sets: equal counts + one empty
        # difference direction is full set equality
        n_next = int(got["n"])
        unchanged = (
            n_next == n_edges
            and after_small.exceptAll(e).limit(1).count() == 0
        )
        _release_checkpoint(e)
        e = after_small
        n_edges = n_next
        if unchanged:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: edge set still changing after "
            f"max_iter={max_iter} (large,small) rounds — raise max_iter "
            f"(observed convergence is ~log2(n) rounds, so also check "
            f"the input for pathological structure)"
        )
    # The loop detects convergence on the COMPOSED round
    # (small(large(e)) == e); the label read-out below additionally
    # requires the fixpoint to be star-shaped (every edge (a, b) has a
    # as the component min and b as a leaf — no b-side vertex is also an
    # a-side center). Kiveris et al. prove stars at the per-phase
    # fixpoint; a composed-round cycle where large-star changes the edge
    # set and small-star restores it would satisfy the loop's check with
    # a NON-star edge set and silently mislabel. Never observed (random
    # graphs, deep paths, kNN graphs all pass), but cheap to rule out at
    # runtime: one leftsemi probe over the final edge list.
    non_star = (
        e.select("b")
        .join(e.select(F.col("a").alias("b")), "b", "leftsemi")
        .limit(1)
        .count()
    )
    if non_star:
        raise RuntimeError(
            "connected_components_star: converged edge set is not "
            "star-shaped (a leaf vertex also appears as a center) — "
            "labels would be wrong; raising instead of mislabeling"
        )
    # ...and that no leaf has TWO centers: {(c1,v),(c2,v)} with distinct
    # non-leaf centers passes the probe above but would emit duplicate,
    # conflicting rows for v from the read-out below. One aggregate.
    dup_center = (
        e.groupBy("b").count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup_center:
        raise RuntimeError(
            "connected_components_star: converged edge set is not "
            "star-shaped (a leaf vertex has more than one center) — "
            "labels would be wrong; raising instead of mislabeling"
        )
    # fixpoint edges are stars (min, v): label v -> min; centers and
    # isolated vertices label themselves
    labels = e.select(F.col("b").alias("vertex"), F.col("a").alias("component"))
    return (
        all_vertices.join(labels, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("component", F.col("vertex")).alias("component"),
        )
    )
