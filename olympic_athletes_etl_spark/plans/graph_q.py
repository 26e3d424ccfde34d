"""Graph analytics over the co-purchase graph, every answer exact and
oracle-hashable: the single-pass statistics (degree profile, triangle
counting with degree orientation, link prediction, assortativity) and
the bounded-round iterative queries (g_kcore, g_bfs_depth, integer
g_pagerank). The iterative queries call the library forms in
``operators/graph.py`` with a pinned round count, so each oracle unrolls
the same rounds as chained CTEs; connected components is oracle-gated
via d_dup_clusters' recursive-CTE twin. All of them run over the same
edge list every basket-analysis pipeline already derives
(q_copurchase_pairs' within-order part pairs).

Graph: nodes = parts, undirected edge (a, b) when the pair is bought in
the same order at least _MIN_SUPPORT times (the support threshold keeps
the graph at the density basket analysis actually uses, and bounds the
hub degrees the triangle join touches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.operators.graph import (
    _degrees,
    _release_checkpoint,
    bfs_depths,
    kcore,
    pagerank_fixed_point,
    triangle_stats,
)
from olympic_athletes_etl_spark.plans.registry import query
from olympic_athletes_etl_spark.plans.tables import load

_MIN_SUPPORT = 2

# Total orientation order: degree first, node id as tie-break, packed
# into one BIGINT so both engines compare identically (1e11 stride keeps
# ids and degrees disjoint up to 1e11 ids / 9e7 max degree).
_OKEY_STRIDE = 100_000_000_000

_EDGES_DUCK = f"""
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_MIN_SUPPORT}
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT pa AS node FROM edges
            UNION ALL SELECT pb AS node FROM edges)
      GROUP BY 1
    )
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa, pb) with pa < pb — the supported co-purchase edge list.

    spread_on l_orderkey (tables.spread, guide §2.5): the bench layout's
    single-row-group fact file would pin the distinct's partial
    aggregation AND the within-order self-join probe to ONE populated
    scan task for every graph query built on this list; a no-op on any
    layout that splits. The spread's hash partitioning on l_orderkey
    satisfies both the (l_orderkey, l_partkey) distinct clustering and
    the self-join's l_orderkey distribution, so no further exchange is
    needed until the (pa, pb) support aggregate (guide §2.4).
    Layout-invariance: the edge list is set-shaped (distinct pairs with
    an exact count filter) — no result bit depends on partitioning."""
    items = (
        load(spark, sf_dir, "lineitem", spread_on="l_orderkey")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, (F.col("ok") == F.col("ok_b")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _MIN_SUPPORT)
        .select("pa", "pb")
    )


@query(
    "g_degree_histogram",
    oracle=f"""
    WITH {_EDGES_DUCK}
    SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY deg
    """,
)
def g_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the first profile
    run on any production graph (it is how you SIZE the triangle /
    neighborhood joins below before launching them: the max degree
    bounds the within-key quadratic work). Two aggregations, both
    map-side combinable; the histogram itself is bounded by max degree,
    not graph size."""
    return (
        _degrees(_edges(spark, sf_dir))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


@query(
    "g_triangle_count",
    oracle=f"""
    WITH {_EDGES_DUCK},
    ek AS (
      SELECT e.pa, e.pb,
             da.deg * {_OKEY_STRIDE} + e.pa AS ka,
             db.deg * {_OKEY_STRIDE} + e.pb AS kb
      FROM edges e
      JOIN deg da ON da.node = e.pa
      JOIN deg db ON db.node = e.pb
    ),
    oriented AS (
      SELECT CASE WHEN ka < kb THEN pa ELSE pb END AS src,
             CASE WHEN ka < kb THEN pb ELSE pa END AS dst,
             CASE WHEN ka < kb THEN kb ELSE ka END AS kdst
      FROM ek
    ),
    wedges AS (
      SELECT o1.dst AS v, o2.dst AS w
      FROM oriented o1 JOIN oriented o2
        ON o1.src = o2.src AND o1.kdst < o2.kdst
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM wedges x JOIN oriented o ON o.src = x.v AND o.dst = x.w
    ),
    wtot AS (
      SELECT sum(deg * (deg - 1) // 2) AS n_wedges FROM deg
    )
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           round(CASE WHEN wtot.n_wedges = 0 THEN 0.0
                 ELSE 3.0 * tri.n_triangles / wtot.n_wedges END, 4)
             AS global_clustering
    FROM tri, wtot
    """,
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient via DEGREE
    ORIENTATION (Schank–Wagner / Cohen's MapReduce formulation): orient
    every undirected edge from its lower-(degree, id) endpoint to the
    higher one, enumerate wedges only from each node's OUT-edges, and
    close them against the oriented edge list. Each triangle is counted
    exactly once (its minimum-order vertex is the only wedge apex).

    Why this survives 100 TB where the naive 3-way self-join dies:
    orientation bounds every node's out-degree by O(sqrt(m)) — a
    hub with a million neighbors contributes wedges only through the
    few higher-order nodes above it, not its million^2 neighbor pairs —
    so the wedge join's within-key quadratic work is capped at
    out-deg^2 <= m per node and the whole plan is three equi-join
    shuffles keyed on node ids. The clustering coefficient divides by
    the exact wedge total sum(d*(d-1)/2), computed in the same pass.

    The edge-list-in, stats-out core lives in
    ``operators.graph.triangle_stats`` so synthetic adversarial shapes
    (complete graph, star hub, degree ties) pin the orientation logic
    independently of this query's co-purchase edge derivation."""
    return triangle_stats(
        _edges(spark, sf_dir), src="pa", dst="pb", normalized=True
    )


_PR_SCALE = 1_000_000_000
_PR_ITERS = 3
_PR_TELEPORT = 15 * _PR_SCALE // 100
_PR_TOPN = 20

_PR_ITER_DUCK = """
    i{i} AS (
      SELECT sym.t AS node, sum(r.rank // r.deg) AS inflow
      FROM sym JOIN r{p} r ON r.node = sym.s
      GROUP BY 1
    ),
    r{i} AS (
      SELECT d.node, d.deg,
             {teleport} + (85 * coalesce(i.inflow, 0)) // 100 AS rank
      FROM deg d LEFT JOIN i{i} i ON i.node = d.node
    )"""


@query(
    "g_pagerank",
    oracle=f"""
    WITH {_EDGES_DUCK},
    sym AS (
      SELECT pa AS s, pb AS t FROM edges
      UNION ALL
      SELECT pb AS s, pa AS t FROM edges
    ),
    r0 AS (
      SELECT node, deg, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg
    ),
    {",".join(
        _PR_ITER_DUCK.format(i=i, p=i - 1, teleport=_PR_TELEPORT)
        for i in range(1, _PR_ITERS + 1)
    )}
    SELECT node AS part, CAST(rank AS BIGINT) AS rank_x1e9
    FROM r{_PR_ITERS}
    ORDER BY rank DESC, node
    LIMIT {_PR_TOPN}
    """,
)
def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-central parts of the co-purchase graph by PageRank —
    FIXED-POINT integer PageRank (operators.graph.pagerank_fixed_point),
    3 iterations, damping 0.85, ranks scaled by 1e9, over the
    symmetrized supported edge list (undirected, so every node has
    out-degree >= 1 and no dangling-mass correction is needed).

    Why fixed-point: float PageRank sums depend on partition reduction
    order, so it can never be hash-checked across engines; integer floor
    division makes every iteration bit-exact in both Spark (``div``) and
    DuckDB (``//``), turning an iterative algorithm into an
    oracle-gated query (same trick as the integer k-means in
    s_ann_ivf_kmeans). The oracle unrolls the 3 iterations as chained
    CTEs — identical dataflow, no recursion needed because the
    iteration count is a constant.

    Scale: per iteration one |E|-row equi-join + one destination-keyed
    map-side-combinable sum; the top-20 is TakeOrderedAndProject (per-
    partition heaps, no global sort). Ties broken by node id so the
    boundary of the top-N is deterministic."""
    edges = _edges(spark, sf_dir)
    sym = edges.select(
        F.col("pa").alias("s"), F.col("pb").alias("t")
    ).unionByName(edges.select(F.col("pb").alias("s"), F.col("pa").alias("t")))
    ranks = pagerank_fixed_point(
        sym, src="s", dst="t", scale=_PR_SCALE, n_iter=_PR_ITERS
    )
    return (
        ranks.select(F.col("node").alias("part"), F.col("rank").alias("rank_x1e9"))
        .orderBy(F.desc("rank_x1e9"), "part")
        .limit(_PR_TOPN)
    )


_LP_MAX_MID_DEG = 50
_LP_TOPN = 20


@query(
    "g_link_prediction",
    oracle=f"""
    WITH {_EDGES_DUCK},
    sym AS (
      SELECT pa AS s, pb AS t FROM edges
      UNION ALL
      SELECT pb AS s, pa AS t FROM edges
    ),
    mids AS (
      SELECT sym.s, sym.t FROM sym
      JOIN deg ON deg.node = sym.s
      WHERE deg.deg <= {_LP_MAX_MID_DEG}
    ),
    wedges AS (
      SELECT a.t AS u, b.t AS w, CAST(count(*) AS BIGINT) AS common_n
      FROM mids a JOIN mids b
        ON a.s = b.s AND a.t < b.t
      GROUP BY 1, 2
    )
    SELECT u AS part_a, w AS part_b, common_n
    FROM wedges
    WHERE NOT EXISTS (
      SELECT 1 FROM edges e WHERE e.pa = wedges.u AND e.pb = wedges.w
    )
    ORDER BY common_n DESC, part_a, part_b
    LIMIT {_LP_TOPN}
    """,
)
def g_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by COMMON-NEIGHBOR count: the top-20 part pairs
    NOT directly co-purchased that share the most co-purchase neighbors
    — the 'customers who bought these also bought...' candidate
    generator, and the simplest of the classic link-prediction scores
    (common neighbors ⊂ Adamic-Adar ⊂ Katz).

    Scale discipline: wedge enumeration through a hub vertex is
    deg^2 — one 10^6-degree hub emits 10^12 wedges — so mid vertices
    with degree > {_LP_MAX_MID_DEG} are EXCLUDED as wedge centers (the
    hot-shingle-cap move; for ranking-by-association it is also the
    right semantics — a hub everyone buys with predicts nothing,
    exactly why Adamic-Adar down-weights high-degree commons to
    ~nothing). The cap lives in both engines' plans, so the oracle
    hashes the same capped semantics. Remaining wedge work is bounded
    by capped-deg^2 per vertex; the non-edge screen is a broadcast-able
    anti-join on the supported edge list; top-20 is
    TakeOrderedAndProject on a total order."""
    edges = _edges(spark, sf_dir)
    deg = _degrees(edges)
    sym = edges.select(
        F.col("pa").alias("s"), F.col("pb").alias("t")
    ).unionByName(edges.select(F.col("pb").alias("s"), F.col("pa").alias("t")))
    mids = (
        sym.join(
            deg.filter(F.col("deg") <= _LP_MAX_MID_DEG).select(
                F.col("node").alias("s")
            ),
            "s",
        )
    )
    a, b = mids.alias("a"), mids.alias("b")
    wedges = (
        a.join(
            b, (F.col("a.s") == F.col("b.s")) & (F.col("a.t") < F.col("b.t"))
        )
        .groupBy(F.col("a.t").alias("part_a"), F.col("b.t").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("common_n"))
    )
    return (
        wedges.join(
            edges,
            (F.col("part_a") == F.col("pa")) & (F.col("part_b") == F.col("pb")),
            "left_anti",
        )
        .orderBy(F.desc("common_n"), "part_a", "part_b")
        .limit(_LP_TOPN)
    )


# --------------------------------------------------------------------------
# k-core — bounded-round peel of the co-purchase graph
# --------------------------------------------------------------------------
_KCORE_K = 2
_KCORE_ROUNDS = 3

_KCORE_ROUND_DUCK = """
    d{i} AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT pa AS node FROM e{p}
            UNION ALL SELECT pb AS node FROM e{p})
      GROUP BY 1
    ),
    k{i} AS (SELECT node FROM d{i} WHERE deg >= {k}),
    e{i} AS (
      SELECT pa, pb FROM e{p}
      WHERE pa IN (SELECT node FROM k{i})
        AND pb IN (SELECT node FROM k{i})
    )
"""


@query(
    "g_kcore",
    oracle=f"""
    WITH {_EDGES_DUCK},
    e0 AS (SELECT pa, pb FROM edges),
    {",".join(
        _KCORE_ROUND_DUCK.format(i=i, p=i - 1, k=_KCORE_K)
        for i in range(1, _KCORE_ROUNDS + 1)
    )}
    SELECT node AS part, CAST(count(*) AS BIGINT) AS core_deg
    FROM (SELECT pa AS node FROM e{_KCORE_ROUNDS}
          UNION ALL SELECT pb AS node FROM e{_KCORE_ROUNDS})
    GROUP BY 1
    """,
)
def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-CORE of the co-purchase graph by iterative peeling: each
    round drops every node whose degree fell below {k} and the edges
    touching it, because removing a weak node can strip a neighbor
    below the bar too. The surviving subgraph is where every part has
    at least {k} surviving co-purchase partners — the standard
    'dense-enough neighborhood' screen before community detection or
    embedding training.

    The round count is a CONSTANT ({r}), not a convergence test, so the
    oracle unrolls the identical dataflow as chained CTEs (the
    g_pagerank move): the query is operators/graph.py's ``kcore`` with
    ``rounds={r}`` (a round that peels nothing ends it early, same
    answer). Tests pin that {r} rounds reach the fixpoint at test scale;
    at 100 TB you call ``kcore`` without ``rounds``, which iterates to
    the fixpoint (peel depth is the graph's degeneracy ordering depth,
    typically tens)."""
    return kcore(
        _edges(spark, sf_dir), k=_KCORE_K, src="pa", dst="pb", rounds=_KCORE_ROUNDS
    ).select(F.col("node").alias("part"), "core_deg")


g_kcore.__doc__ = g_kcore.__doc__.format(k=_KCORE_K, r=_KCORE_ROUNDS)


# --------------------------------------------------------------------------
# BFS depth — bounded-hop traversal from the canonical source part
# --------------------------------------------------------------------------
_BFS_ROUNDS = 3

_BFS_ROUND_DUCK = """
    f{i} AS (
      SELECT DISTINCT sym.t AS node
      FROM sym JOIN f{p} ON sym.s = f{p}.node
      WHERE sym.t NOT IN (SELECT node FROM v{p})
    ),
    v{i} AS (
      SELECT node, depth FROM v{p}
      UNION ALL
      SELECT node, {i} AS depth FROM f{i}
    )
"""


@query(
    "g_bfs_depth",
    oracle=f"""
    WITH {_EDGES_DUCK},
    sym AS (
      SELECT pa AS s, pb AS t FROM edges
      UNION ALL
      SELECT pb AS s, pa AS t FROM edges
    ),
    f0 AS (SELECT min(node) AS node FROM deg),
    v0 AS (SELECT node, 0 AS depth FROM f0),
    {",".join(
        _BFS_ROUND_DUCK.format(i=i, p=i - 1)
        for i in range(1, _BFS_ROUNDS + 1)
    )}
    SELECT node AS part, CAST(depth AS BIGINT) AS depth
    FROM v{_BFS_ROUNDS}
    """,
)
def g_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-HOP BFS from the lowest-id part in the co-purchase
    graph: every part within {r} hops labeled with its hop distance —
    the traversal primitive behind 'related products within N steps'
    expansion and ego-network extraction. Level-synchronous frontier
    BFS, the standard distributed formulation: each round joins the
    CURRENT frontier (not the visited set) against the symmetrized
    edge list, dedups the neighbor set, and anti-joins the visited
    set, so per-round work is frontier-degree-sum, not graph size.

    The round count is a constant (the g_kcore/g_pagerank convention)
    so the oracle unrolls to chained CTEs: the query is
    operators/graph.py's ``bfs_depths`` with ``rounds={r}`` (one visited
    checkpoint per round; an empty frontier ends it early, same answer).
    At 100 TB you call ``bfs_depths`` without ``rounds``, which runs to
    the empty frontier; visited stays (node, depth)-thin regardless of
    edge count.

    The edge list is checkpointed once, so the seed — the lowest node,
    which is the lowest ``pa`` since every edge has pa < pb — reads the
    materialized edges instead of re-deriving the co-purchase
    self-join."""
    edges = _edges(spark, sf_dir).localCheckpoint(eager=True)
    seed = edges.agg(F.min("pa").alias("node"))
    visited = bfs_depths(edges, seed, src="pa", dst="pb", rounds=_BFS_ROUNDS)
    _release_checkpoint(edges)
    return visited.select(F.col("node").alias("part"), "depth")


g_bfs_depth.__doc__ = g_bfs_depth.__doc__.format(r=_BFS_ROUNDS)


# --------------------------------------------------------------------------
# Degree assortativity — do hubs co-purchase with hubs?
# --------------------------------------------------------------------------
@query(
    "g_assortativity",
    oracle=f"""
    WITH {_EDGES_DUCK},
    sym AS (
      SELECT pa AS s, pb AS t FROM edges
      UNION ALL
      SELECT pb AS s, pa AS t FROM edges
    ),
    dd AS (
      SELECT ds.deg AS dx, dt.deg AS dy
      FROM sym
      JOIN deg ds ON ds.node = sym.s
      JOIN deg dt ON dt.node = sym.t
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dx) AS BIGINT) AS sx,
             CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy
      FROM dd
    )
    SELECT n AS n_endpoints,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 4)
             AS assortativity
    FROM m
    """,
)
def g_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the co-purchase graph — the Pearson
    correlation of endpoint degrees over every directed edge (Newman's
    r): positive means hubs co-purchase with hubs (assortative mixing,
    social-network-like), negative means hubs pair with leaves
    (hub-and-spoke catalogs). The single number that says which joins
    will skew before you run them.

    Determinism discipline (the a_corr_regression / v_chi2 rule): all
    five moments accumulate as EXACT BIGINT sums over integer degrees
    — aggregation order can't change them — and the correlation is
    one scalar double expression evaluated after aggregation, so the
    4-decimal round has ~12 orders of magnitude of slack over any
    1-ulp libm divergence. Plan: two degree-table joins onto the edge
    list (vocabulary... node-cardinality sides, AQE picks broadcast
    vs shuffle), one 6-column map-side-combinable aggregate, output
    one row. Overflow headroom: sum(dx*dy) <= E*maxdeg² — descale
    degrees first past ~1e12 edge-endpoints (documented, the
    moment-query convention)."""
    edges = _edges(spark, sf_dir)
    deg = _degrees(edges)
    sym = edges.select(
        F.col("pa").alias("s"), F.col("pb").alias("t")
    ).unionByName(edges.select(F.col("pb").alias("s"), F.col("pa").alias("t")))
    dd = (
        sym.join(deg.select(F.col("node").alias("s"), F.col("deg").alias("dx")), "s")
        .join(deg.select(F.col("node").alias("t"), F.col("deg").alias("dy")), "t")
        .select("dx", "dy")
    )
    m = dd.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.expr("dx * dx")).cast("long").alias("sxx"),
        F.sum(F.expr("dy * dy")).cast("long").alias("syy"),
        F.sum(F.expr("dx * dy")).cast("long").alias("sxy"),
    )
    return m.select(
        F.col("n").alias("n_endpoints"),
        F.round(
            F.expr(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
                "        * CAST(n * syy - sy * sy AS DOUBLE))"
            ),
            4,
        ).alias("assortativity"),
    )
