"""Iterative graph operators — connected components for dedup
clustering (beyond reference; the canonical last stage of a near-dup
pipeline: candidate PAIRS → duplicate CLUSTERS → one canonical doc),
k-core peeling, BFS depths and integer PageRank.

Spark has no recursion; components are computed by iterative min-label
propagation on DataFrames:

    label(v) ← min(label(v), min over neighbors' labels)

repeated until a fixpoint. Each iteration is one shuffle (join on the
edge list + min-aggregate); convergence in O(graph diameter) rounds —
near-dup graphs are unions of small cliques, so diameter is tiny. Every
fixpoint loop here runs through ``iterate``, which checkpoints, observes,
releases and caps each round the same way.

At 100 TB: ``connected_components`` is the simple-and-robust
formulation for low-diameter graphs (near-dup clique unions);
``connected_components_star`` (Kiveris et al. large-star/small-star,
round 6) is the log-round scale path for unbounded-diameter graphs —
same per-round shuffle shape (min-aggregate + edge-keyed join), but
O(log² n) rounds instead of O(diameter).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

_log = logging.getLogger("olympic_athletes_etl_spark.iterate")


def _observed_checkpoint(
    df: DataFrame,
    metrics: list,
    keep: list[str] | None = None,
) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` with aggregate ``metrics`` collected
    DURING the materialization job (``Dataset.observe``), so per-round
    bookkeeping — convergence probes, row counts, L1 deltas — costs no
    extra Spark job (a separate probe job per round, or a 2+-job
    ``limit(1).count()``, measured 3 jobs → 1 per label-CC round,
    OPTIMIZATION_r14.md batch 1). ``keep`` projects the checkpointed
    output ABOVE the observe node, so metric-only columns are never
    materialized into the checkpoint.
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


def _degrees(e: DataFrame) -> DataFrame:
    """(node, deg) over an undirected (pa, pb) edge list."""
    return (
        e.select(F.col("pa").alias("node"))
        .unionByName(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def iterate(
    state: DataFrame | None,
    step: Callable[[DataFrame | None, int], DataFrame],
    metrics: list,
    done: Callable[[dict, dict | None, DataFrame, DataFrame | None], bool],
    *,
    name: str,
    max_iter: int,
    rounds: int | None = None,
    keep: list[str] | None = None,
) -> tuple[DataFrame, list[dict]]:
    """``(final state, per-round records)`` — the one driver of every
    fixpoint loop in this module. Round ``i`` (from 1) eagerly
    checkpoints ``step(state, i)`` with ``metrics`` observed by that same
    job (``_observed_checkpoint``), then evaluates ``done(got, prev_got,
    nxt, state)`` while both frames are live (``prev_got`` is None in
    round 1).

    Lineage and release discipline: every state is a self-contained
    checkpoint, so the plan does not grow with the round count (an
    unmaterialized unroll re-derives the whole history per reference and
    the driver OOMs planning long before data size matters). Once
    ``done`` has run, the superseded state's blocks are freed, so
    storage holds one state, not one per round — but only states made
    here: the caller's initial frame, and whatever ``step`` closes over,
    stay the caller's to release.

    Fixpoint mode (``rounds=None``) raises RuntimeError after ``max_iter``
    rounds instead of returning a partial answer. ``rounds=R`` runs at
    most R rounds and never raises, stopping early at a fixpoint (the
    answer the remaining rounds would give). Each round's record,
    ``{round, wall_s, **metrics}``, is returned and logged at DEBUG on
    ``olympic_athletes_etl_spark.iterate``."""
    records: list[dict] = []
    prev_got = None
    for i in range(1, (max_iter if rounds is None else rounds) + 1):
        t0 = time.perf_counter()
        nxt, got = _observed_checkpoint(step(state, i), metrics, keep)
        stop = done(got, prev_got, nxt, state)
        if i > 1:
            _release_checkpoint(state)
        rec = {"round": i, "wall_s": round(time.perf_counter() - t0, 4), **got}
        records.append(rec)
        _log.debug("%s %s", name, rec)
        state, prev_got = nxt, got
        if stop:
            break
    else:
        if rounds is None:
            raise RuntimeError(f"{name}: no fixpoint within max_iter={max_iter}")
    return state, records


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
    ``max_iter`` is a runaway backstop: hitting it raises rather than
    returning a component split into wrong sub-components.

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

    def step(labels: DataFrame | None, i: int) -> DataFrame:
        rows = (
            sym.withColumn("component", F.col("b"))
            if i == 1
            else sym.join(labels.withColumnRenamed("vertex", "b"), "b")
        )
        return rows.groupBy(F.col("a").alias("vertex")).agg(
            F.min("component").alias("component"),
            F.min(F.when(F.col("a") == F.col("b"), F.col("component"))).alias("prev"),
        )

    # prev is consumed by the observed fixpoint probe below the ``keep``
    # projection, never materialized
    labels, _ = iterate(
        None,
        step,
        [F.count(F.when(F.col("component") != F.col("prev"), True)).alias("changed")],
        lambda got, *_: got["changed"] == 0,
        name="connected_components",
        max_iter=max_iter,
        keep=["vertex", "component"],
    )
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
    deg = _degrees(e)
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
    rounds: int | None = None,
) -> DataFrame:
    """(node, core_deg) — the k-CORE of an undirected edge list (one row
    per edge), peeled to the FIXPOINT: rounds continue until a round
    removes no edge, so callers on arbitrarily deep graphs get the true
    core. ``rounds=R`` stops after at most R peels instead (never
    raising) — plans/graph_q.py's ``g_kcore`` pins R so its oracle can
    unroll to chained CTEs, and the two agree whenever R reaches the
    fixpoint (pinned at test SF by test_graph's equivalence test).

    Per round: one degree aggregate plus two leftsemi joins on the edge
    key, all shuffle-partitioned by node/edge keys, over the shrinking
    edge list ``iterate`` checkpoints (the list is referenced three
    times per round — an unmaterialized unroll re-derives the input
    3^rounds times, the documented k-core 1000-scan lesson). The
    surviving-edge count is an observed metric of that checkpoint's own
    job; a round that keeps every edge (or none) is the fixpoint. Rounds
    needed is the graph's degeneracy-peel depth (typically tens).

    ``max_iter`` is a runaway backstop, not a tuning knob; hitting it
    raises rather than silently returning a partial peel."""
    n = [F.count(F.lit(1)).alias("n")]
    e0, got0 = _observed_checkpoint(
        edges.select(F.col(src).alias("pa"), F.col(dst).alias("pb")), n
    )

    def step(e: DataFrame, i: int) -> DataFrame:
        keep = _degrees(e).filter(F.col("deg") >= k).select("node")
        return e.join(keep.withColumnRenamed("node", "pa"), "pa", "leftsemi").join(
            keep.withColumnRenamed("node", "pb"), "pb", "leftsemi"
        )

    e, _ = iterate(
        e0,
        step,
        n,
        lambda got, prev, *_: got["n"] in (0, (prev or got0)["n"]),
        name="kcore",
        max_iter=max_iter,
        rounds=rounds,
    )
    _release_checkpoint(e0)
    return _degrees(e).withColumnRenamed("deg", "core_deg")


def bfs_depths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    symmetrize: bool = True,
    max_iter: int = 1000,
    rounds: int | None = None,
) -> DataFrame:
    """(node, depth) — hop distance from the seed set, level-synchronous
    BFS run to the FIXPOINT (empty frontier), so callers on arbitrarily
    deep graphs get full reachability. ``rounds=R`` stops after at most
    R hops instead (never raising): plans/graph_q.py's ``g_bfs_depth``
    pins R for oracle unrolling; equivalence at test SF is pinned in
    test_graph.

    ``sources`` is a one-column (``node``) DataFrame of seeds, all at
    depth 0 (a multi-source BFS is the same loop). The loop state is the
    visited (node, depth) set alone, one checkpoint per round: round i's
    frontier is ``visited`` at depth i - 1, joined against the edge list,
    deduped and anti-joined with ``visited``, so per-round join work is
    frontier-degree-sum. The observed ``max(depth)`` stops growing once
    a round finds no new node. Terminates in eccentricity-many rounds;
    ``max_iter`` is a runaway backstop and hitting it raises rather than
    returning partial depths."""
    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    if symmetrize:
        sym = sym.unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("t"))
        )
    sym = sym.localCheckpoint(eager=True)
    depth = [F.max("depth").alias("depth")]
    visited0, got0 = _observed_checkpoint(
        sources.select("node").withColumn("depth", F.lit(0).cast("long")), depth
    )

    def step(visited: DataFrame, i: int) -> DataFrame:
        frontier = visited.filter(F.col("depth") == i - 1).select(
            F.col("node").alias("s")
        )
        return visited.unionByName(
            sym.join(frontier, "s")
            .select(F.col("t").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(i).cast("long"))
        )

    visited, _ = iterate(
        visited0,
        step,
        depth,
        lambda got, prev, *_: got["depth"] == (prev or got0)["depth"],
        name="bfs_depths",
        max_iter=max_iter,
        rounds=rounds,
    )
    _release_checkpoint(visited0)
    _release_checkpoint(sym)
    return visited


def _pagerank_update(
    base: DataFrame,
    ranks: DataFrame,
    e: DataFrame,
    scale: int,
    damping_num: int,
    damping_den: int,
    *carry,
) -> DataFrame:
    """(node, rank, *carry) — one integer PageRank round, the arithmetic
    both PageRank forms share: ``base``'s nodes left-joined to the
    inflow that ``ranks`` sends along the (s, t) edges ``e``."""
    out_deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    shares = ranks.join(out_deg, ranks["node"] == out_deg["s"]).select(
        F.col("s"), F.expr("rank div deg").alias("share")
    )
    inflow = (
        e.join(shares, "s")
        .groupBy(F.col("t").alias("node"))
        .agg(F.sum("share").alias("inflow"))
    )
    teleport = (damping_den - damping_num) * scale // damping_den
    return base.join(inflow, "node", "left").select(
        "node",
        (
            F.lit(teleport)
            + F.expr(
                f"({damping_num} * coalesce(inflow, CAST(0 AS BIGINT)))"
                f" div {damping_den}"
            )
        ).alias("rank"),
        *carry,
    )


def _pagerank_start(
    edges: DataFrame, src: str, dst: str, scale: int
) -> tuple[DataFrame, DataFrame]:
    """(e, ranks0): the checkpointed (s, t) edge list and the lazy
    starting ranks, every node at ``scale``."""
    # materialized once: an expensively-derived edge list (the
    # co-purchase self-join) would otherwise be re-derived ~2+n_iter
    # times (measured 12.2s -> ~5s at sf0.1 for g_pagerank)
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("t").alias("node")))
        .dropDuplicates()
    )
    return e, nodes.withColumn("rank", F.lit(scale).cast("long"))


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
    result is bit-exact across engines and oracle-hashable (a float
    PageRank's sums depend on partition reduction order).

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
    simply leak their mass).

    Scale shape per iteration: one N-row projection (share), one
    edge-keyed equi-join shuffling |E| share rows, one map-side-
    combinable sum keyed on the destination node, one N-row left join.
    Hub skew on the aggregate side is AQE-splittable because the sum is
    associative. The iteration count is a constant (default 3), so the
    rounds stay one lazy plan with shallow lineage and no per-round
    checkpoint: run through ``iterate``, the gated g_pagerank's 3 rounds
    cost 34 jobs instead of 17 (sf0.01, local[4]) for the same rows.

    Overflow bound: sum(rank) stays <= N*scale + N (teleport + damped
    inflow is a contraction), so d_num * inflow <= d_num * N * scale
    must stay under 2^63 — at scale=1e9 that holds to N ~ 1e8 nodes;
    shrink ``scale`` for larger vertex sets.
    """
    e, ranks = _pagerank_start(edges, src, dst, scale)
    nodes = ranks.select("node")
    for _ in range(n_iter):
        ranks = _pagerank_update(nodes, ranks, e, scale, damping_num, damping_den)
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
    default). Each ``iterate`` round is ``_pagerank_update``, the
    arithmetic of ``pagerank_fixed_point`` (which backs the gated
    ``g_pagerank``), so that with ``n_iter=rounds`` reproduces this
    result bit-for-bit (pinned in test_graph). The old rank rides along
    as ``prev``, so the L1 delta is an observed metric of the round's
    checkpoint job, summed in DECIMAL(38,0). ``max_iter`` is a runaway
    backstop and hitting it raises rather than returning a
    non-converged ranking."""
    e, start = _pagerank_start(edges, src, dst, scale)
    ranks0, got0 = _observed_checkpoint(start, [F.count(F.lit(1)).alias("n")])
    n_nodes = got0["n"]
    if n_nodes == 0:
        # empty graph: already at the fixpoint (the delta aggregate
        # would collect a NULL sum over zero rows)
        _release_checkpoint(e)
        return ranks0, 0
    if eps_units is None:
        eps_units = n_nodes * max(scale // 1_000_000, 1)
    ranks, records = iterate(
        ranks0,
        lambda r, i: _pagerank_update(
            r, r, e, scale, damping_num, damping_den, F.col("rank").alias("prev")
        ),
        [F.sum(F.abs(F.col("rank") - F.col("prev")).cast("decimal(38,0)")).alias("d")],
        lambda got, *_: int(got["d"]) <= eps_units,
        name="pagerank_converged",
        max_iter=max_iter,
        keep=["node", "rank"],
    )
    _release_checkpoint(ranks0)
    _release_checkpoint(e)
    return ranks, len(records)


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
    round, so everything said about skew/AQE there carries over. Each
    phase is one ``iterate`` round (large-star on odd rounds, small-star
    on even), so the edge list is checkpointed per phase (each feeds the
    next phase's aggregate AND join). Convergence = two phases in a row
    (one of each) leave the edge set unchanged. A phase is unchanged
    when its (count, sum of hash(a, b)) fingerprint, observed on every
    checkpoint, equals its input's AND one exceptAll probe is empty
    (both sides are distinct sets, so set equality follows from
    |A| == |B| and A\\B == ∅); a fingerprint mismatch skips the probe.
    At the fixpoint the edges form stars (v -> component min).
    ``max_iter`` bounds (large, small) round PAIRS and raises on
    overrun: observed convergence is
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
    # (size, hash-sum) set fingerprint, observed on every edge-list
    # checkpoint: unequal fingerprints prove a phase changed the edge
    # set, so the exact exceptAll probe runs only when they match
    witness = [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.hash("a", "b")), F.lit(0)).alias("h"),
    ]
    e0, got0 = _observed_checkpoint(
        raw.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .dropDuplicates(),
        witness,
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
    # a window min over partitionBy(u): one exchange on u, where a
    # groupBy + join-back pays the aggregate's exchange too (measured
    # ~20% off the whole loop at sf0.1, OPTIMIZATION_r13.md batch 3).
    _w_u = Window.partitionBy("u")

    def _large_star(df: DataFrame) -> DataFrame:
        withm = _sym(df).withColumn(
            "m", F.least(F.min("v").over(_w_u), F.col("u"))
        )
        return (
            withm.filter(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("a"), F.greatest("v", "m").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .dropDuplicates()
        )

    def _small_star(df: DataFrame) -> DataFrame:
        # neighbors v <= u only (orient every edge toward the larger id)
        withm = _sym(df).filter(F.col("v") < F.col("u")).withColumn(
            "m", F.min("v").over(_w_u)  # m < u always
        )
        return (
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

    quiet = 0  # consecutive phases that left the edge set unchanged

    def done(got: dict, prev: dict | None, nxt: DataFrame, e: DataFrame) -> bool:
        nonlocal quiet
        # both sides are distinct sets: equal counts + one empty
        # difference direction is full set equality
        same = got == (prev or got0) and nxt.exceptAll(e).limit(1).count() == 0
        quiet = quiet + 1 if same else 0
        return quiet == 2

    e, _ = iterate(
        e0,
        lambda e, i: _large_star(e) if i % 2 else _small_star(e),
        witness,
        done,
        name="connected_components_star (large/small phases)",
        max_iter=2 * max_iter,
    )
    _release_checkpoint(e0)
    # The loop stops only when both phases are fixpoints of the edge
    # set, where Kiveris et al. prove stars; one phase alone is not
    # enough ({(1,3),(2,3)} is a large-star fixpoint but no star). The
    # read-out below still requires the result to be star-shaped
    # (every edge (a, b) has a as the component min and b as a leaf —
    # no b-side vertex is also an a-side center) rather than silently
    # mislabel: one leftsemi probe over the final edge list.
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
