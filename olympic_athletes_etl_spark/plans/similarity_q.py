"""Similarity search over the ``embeddings`` table.

- s_knn_bruteforce — exact cosine top-k: the correctness baseline.
- s_ann_lsh        — random-hyperplane LSH buckets, search only the
                     query's bucket: the scale path (candidates shrink
                     by ~2^planes; recall tunable via plane count /
                     multi-probe).

Determinism: hyperplane weights are integer-arithmetic pseudo-randoms
(no RNG, no floats until the final dot product), so Spark and DuckDB
compute bit-identical bucket ids and similarities.
"""

from __future__ import annotations

import math
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olympic_athletes_etl_spark.operators.graph import (
    _observed_checkpoint,
    _release_checkpoint as _release_ckpt,
)
from olympic_athletes_etl_spark.operators.store import GenStore, TableSpec
from olympic_athletes_etl_spark.plans.registry import query
from olympic_athletes_etl_spark.plans.tables import load

_QUERY_VEC_ID = 0  # the fixed probe vector for both queries
_K = 5
_N_PLANES = 8
_DIM = 64

# plane(p, d) weight: integers in [-998, 998], deterministic in (p, d).
# The d² term is load-bearing: it makes the weight NONLINEAR in d per
# plane with a plane-dependent coefficient, so consecutive planes are
# not near-shifts of each other. (The previous affine family
# ((p·9973 + d·7919) % 1997) − 998 had plane p+1 ≡ plane p − 12 mod
# 1997 — wrap-arounds aside, a constant shift — so sign bits across
# planes were highly correlated: at sf0.001 only 25 of 256 buckets were
# populated with a 180-member hot bucket. This family yields 200
# buckets, max occupancy 10, on the same data.)
_PLANE_W = "(((({p} + 1) * (d * d * 31 + d * 7919 + 1) + {p} * {p} * 104729) % 1997) - 998)"


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_on vec_id (tables.spread, guide §2.5): the bench layout's
    # single-row-group file would pin every downstream vector derivation
    # (norms, quantization, ADC ladders, bucket hashes) to ONE populated
    # scan task; a no-op on any layout that splits. Layout-invariance:
    # serve paths are per-row deterministic expressions, and both fits
    # (_km_fit/_pq_fit) accumulate integer-valued quantized components
    # (exact far below 2^53) with set-shaped bounded collects — no
    # result bit depends on partitioning.
    return load(spark, sf_dir, "embeddings", spread_on="vec_id").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )


_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)


# --------------------------------------------------------------------------
# Brute-force exact top-k
# --------------------------------------------------------------------------
@query(
    "s_knn_bruteforce",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), q AS (SELECT v, nrm FROM n WHERE vec_id = {_QUERY_VEC_ID}),
    scored AS (
      SELECT n.vec_id,
             list_dot_product(n.v, q.v) / (n.nrm * q.nrm) AS cos_raw
      FROM n CROSS JOIN q WHERE n.vec_id != {_QUERY_VEC_ID}
    )
    SELECT vec_id, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (ORDER BY cos_raw DESC, vec_id ASC) AS rank
    FROM scored
    QUALIFY rank <= {_K}
    """,
)
def s_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for a fixed probe vector: broadcast the 1-row
    query against all vectors (map-side only — no shuffle until the
    final top-k, which TakeOrderedAndProject handles without a global
    sort). Rank ties break on vec_id; ranking runs on the raw double
    (bit-identical across engines), rounding only in the output."""
    n = _emb_double(spark, sf_dir).withColumn(
        "nrm", F.sqrt(F.expr(_DOT.format(a="v", b="v")))
    )
    q = n.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cos = F.expr(_DOT.format(a="v", b="qv")) / (F.col("nrm") * F.col("qnrm"))
    scored = (
        n.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cos_raw"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-k, then k-way merge on the driver) — never a global-window
    # single-partition sort; the rank window then sees only K rows.
    topk = scored.orderBy(F.desc("cos_raw"), F.asc("vec_id")).limit(_K)
    # Unpartitioned window over exactly K rows (post-limit). Spark still
    # logs its "No Partition Defined" warning — accepted: the input is K
    # rows by construction, so the single partition is the correct plan,
    # not a scale hazard. (partitionBy(lit(1)) does NOT silence it — the
    # optimizer constant-folds the literal back to an empty partition spec.)
    w = Window.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# --------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes, integer-deterministic)
# --------------------------------------------------------------------------
def _bucket_expr_spark(n_planes: int = _N_PLANES) -> F.Column:
    """Sum over planes of (dot(v, plane_p) > 0) << p."""
    bits = []
    for p in range(n_planes):
        plane = f"transform(sequence(0, {_DIM - 1}), d -> CAST({_PLANE_W.format(p=p)} AS DOUBLE))"
        dot = _DOT.format(a="v", b=plane)
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return F.expr(" + ".join(bits))


def _bucket_sql_duck(n_planes: int = _N_PLANES) -> str:
    bits = []
    for p in range(n_planes):
        plane = (
            f"list_transform(range(0, {_DIM}),"
            f" d -> CAST({_PLANE_W.format(p=p)} AS DOUBLE))"
        )
        bits.append(
            f"(CASE WHEN list_dot_product(v, {plane}) > 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(bits)


@query(
    "s_ann_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
             {_bucket_sql_duck()} AS bucket
      FROM e
    ), q AS (SELECT v, nrm, bucket FROM b WHERE vec_id = {_QUERY_VEC_ID}),
    cand AS (
      SELECT b.vec_id,
             list_dot_product(b.v, q.v) / (b.nrm * q.nrm) AS cos_raw
      FROM b JOIN q ON b.bucket = q.bucket
      WHERE b.vec_id != {_QUERY_VEC_ID}
    )
    SELECT vec_id, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (ORDER BY cos_raw DESC, vec_id ASC) AS rank
    FROM cand
    QUALIFY rank <= {_K}
    """,
)
def s_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: 8 sign-bits → 256 buckets; rank
    only the query's bucket. The bucket id is computed in one narrow
    projection per vector (scan-bound); the candidate join keys on the
    bucket — at 100 TB this is a broadcast of the 1-row query side plus
    a pruned scan, ~2^8 smaller than brute force. Recall < 1 by design
    (LSH); raise plane count / probe neighboring buckets to trade
    compute for recall."""
    b = _emb_double(spark, sf_dir).select(
        "vec_id",
        "v",
        F.sqrt(F.expr(_DOT.format(a="v", b="v"))).alias("nrm"),
        _bucket_expr_spark().alias("bucket"),
    )
    q = b.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm"), F.col("bucket").alias("qbucket")
    )
    cos = F.expr(_DOT.format(a="v", b="qv")) / (F.col("nrm") * F.col("qnrm"))
    cand = (
        b.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", cos.alias("cos_raw"))
    )
    # distributed top-k (TakeOrderedAndProject), then rank K rows only
    topk = cand.orderBy(F.desc("cos_raw"), F.asc("vec_id")).limit(_K)
    # Unpartitioned window over exactly K rows (post-limit); the logged
    # "No Partition Defined" warning is accepted — see s_knn_bruteforce.
    w = Window.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# --------------------------------------------------------------------------
# IVF-style ANN (inverted file over deterministic centroids)
# --------------------------------------------------------------------------
_N_CENTROIDS = 16
_N_PROBE = 2


@query(
    "s_ann_ivf",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), cent AS (
      SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n
      WHERE vec_id < {_N_CENTROIDS}
    ), assign AS (
      SELECT n.vec_id, n.v, n.nrm,
             (SELECT c.c_id FROM cent c
              ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC,
                       c.c_id ASC
              LIMIT 1) AS list_id
      FROM n
    ), probe AS (SELECT v, nrm FROM n WHERE vec_id = {_QUERY_VEC_ID}),
    probe_lists AS (
      SELECT c.c_id FROM cent c CROSS JOIN probe p
      ORDER BY list_dot_product(p.v, c.cv) / (p.nrm * c.cnrm) DESC, c.c_id ASC
      LIMIT {_N_PROBE}
    ), cand AS (
      SELECT a.vec_id,
             list_dot_product(a.v, p.v) / (a.nrm * p.nrm) AS cos_raw
      FROM assign a CROSS JOIN probe p
      WHERE a.list_id IN (SELECT c_id FROM probe_lists)
        AND a.vec_id != {_QUERY_VEC_ID}
    )
    SELECT vec_id, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (ORDER BY cos_raw DESC, vec_id ASC) AS rank
    FROM cand
    QUALIFY rank <= {_K}
    """,
)
def s_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: the first 16 vectors serve as deterministic
    centroids (s_ann_ivf_kmeans below LEARNS them with deterministic
    Lloyd iterations at the same plan shape);
    every vector joins its nearest-centroid list in one narrow pass
    (the numpy ranking kernel's argmax — no shuffle); the probe searches
    only its nprobe=2 nearest lists, ranked driver-side by the same
    kernel. At 100 TB: write the table
    partitioned BY list_id and the probe's scan prunes to nprobe
    partitions — the classic IVF speedup, expressed as partition pruning.
    Recall grows with nprobe at linear candidate cost."""
    n = _emb_double(spark, sf_dir).withColumn(
        "nrm", F.sqrt(F.expr(_DOT.format(a="v", b="v")))
    )
    # collect the 16 centroids once (bounded dim); the probe vector
    # (vec_id 0) is one of them, so its lists need no further job
    cents = sorted(
        (int(r["vec_id"]), list(r["v"]))
        for r in n.filter(F.col("vec_id") < _N_CENTROIDS)
        .select("vec_id", "v")
        .collect()
    )
    probe_lists = _km_probe_lists(dict(cents)[_QUERY_VEC_ID], cents, _N_PROBE)
    assigned = n.withColumn("list_id", _km_assign_np_col(cents, "v", "nrm"))
    probe = n.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cos = F.expr(_DOT.format(a="v", b="qv")) / (F.col("nrm") * F.col("qnrm"))
    cand = (
        assigned.filter(F.col("list_id").isin(probe_lists))
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", cos.alias("cos_raw"))
    )
    topk = cand.orderBy(F.desc("cos_raw"), F.asc("vec_id")).limit(_K)
    # Unpartitioned window over exactly K rows (post-limit); the logged
    # "No Partition Defined" warning is accepted — see s_knn_bruteforce.
    w = Window.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# --------------------------------------------------------------------------
# IVF with deterministic Lloyd k-means centroids
# --------------------------------------------------------------------------
# Spherical k-means in integer arithmetic: vectors are quantized once to
# integers (floor(x * 10^4) — exact in both engines), and because cosine is
# scale-invariant the centroid of a list is its raw elementwise INTEGER SUM
# vector (direction == mean's direction). No division ever happens inside
# the iteration, and every group sum is a sum of integer-valued doubles
# (< 2^53 by construction at test SFs), so the aggregation is exact and
# order-independent — Spark and DuckDB compute bit-identical centroids,
# assignments, and probe lists. At 100 TB the per-list component sums can
# exceed 2^53: the scale path re-quantizes the mean per iteration
# (sum/count at fixed precision) or carries DECIMAL sums — same plan shape.
# One Lloyd fit, _lloyd_fit, trains both quantizers: these IVF centroids
# are its one-subspace case (_km_fit), the PQ codebooks below its
# _PQ_M-subspace case (_pq_fit).
_KM_SCALE = 10_000
_KM_ITERS = 2


def _km_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _emb_double(spark, sf_dir).withColumn(
        "vnrm", F.sqrt(F.expr(_DOT.format(a="v", b="v")))
    )
    return n.withColumn(
        "vq", F.expr(f"transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE))")
    ).withColumn("qnrm", F.sqrt(F.expr(_DOT.format(a="vq", b="vq"))))


def _dlit(x: float) -> str:
    """An exact double literal: ``repr(x)`` is the shortest string that
    round-trips in Python's correctly-rounded parser, and Spark's
    ``...D`` literal goes through Double.parseDouble — also correctly
    rounded — so the engine sees the identical bits the old
    CAST('...' AS DOUBLE) string form produced, at ONE AST node instead
    of a Cast+Literal pair (the ADC lookup maps carry hundreds of them;
    the plain form halves construction+parse time —
    OPTIMIZATION_r13.md). Non-finite values
    keep the cast form ('NaN'/'Infinity' are not lexable as D-literals);
    they never occur in quantized components."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        return f"CAST('{v!r}' AS DOUBLE)"
    return f"{v!r}D"


def _ieee_self_dot(comps: list) -> float:
    """The vector's self-dot folded sequentially in IEEE double — the
    same multiplies and left fold as the engine's
    ``aggregate(zip_with(v, v, *))`` and DuckDB's ``list_dot_product``,
    so a norm taken from it equals the engine-side norm bit for bit.
    For the quantized vectors here every partial sum is an integer far
    below 2^53 (the largest k-means centroid self-dot at sf0.1 measured
    1.5e-5 × 2^53), so the fold is also exact; an exact Python-int sum
    would agree there, but only the fold keeps agreeing past 2^53."""
    acc = 0.0
    for c in comps:
        acc += float(c) * float(c)
    return acc


# --------------------------------------------------------------------------
# The centroid-ranking kernel — ONE numpy closure, _np_sims_fn, ranks
# row vectors against a centroid set. Every ranking in this module is a
# view of its (rows × k) cosine matrix S, columns in c_id-ascending
# order:
#   * assignment (IVF list, fit rounds, PQ code): np.argmax(S, axis=1);
#   * probe lists: a stable argsort of -S — (sim DESC, c_id ASC);
#   * drift residual: S gathered at the stored code.
# The reference semantics are the DuckDB oracles' ORDER BY sim DESC,
# c_id ASC (_km_train_ctes, _pq_train_ctes); tests/test_annkernel.py
# pins every consumer against them.
#
# WHY NUMPY: a per-row `aggregate(zip_with(...))` is an interpreted
# higher-order function in Spark — one closure call per array element,
# ~4k per row for a k-means assignment plus a PQ encode. Handing whole
# Arrow batches to numpy (guide §4.2) replaces that with a few dozen
# vectorized ops per batch.
#
# WHY IT IS EXACT (the property every oracle hash rides on): per
# (row, centroid) the kernel executes the same IEEE-754 operation
# sequence as DuckDB's list_dot_product and Spark's aggregate fold —
#   * dot  = left fold ((0.0 + x0·c0) + x1·c1) + … : the fold is unrolled
#     dim by dim, each step one correctly-rounded multiply and add over
#     the whole (rows × k) block (no FMA, no pairwise reassociation);
#   * norms/similarities: np.sqrt and / are correctly rounded single
#     ops on identical operands; centroid self-dots are folded
#     driver-side by _ieee_self_dot;
#   * a zero denominator (Spark: NULL, DuckDB: NaN/inf) becomes -inf,
#     so a degenerate row loses to every real sim and an all-degenerate
#     row falls back to c_id order;
#   * ties: np.argmax keeps the FIRST maximum and the argsort is
#     stable, so both keep the lowest c_id; np.argmax also returns the
#     first NaN, matching Spark's total order (NaN greatest).
#
# The closure captures only plain data (component lists and folded
# self-dots) and imports numpy inside, so cloudpickle ships it BY VALUE
# — executors need no import of this package (the bpe_encode_pandas
# worker-closure convention).
# --------------------------------------------------------------------------
def _np_entry_data(
    cents: list[tuple[int, list[int]]],
) -> tuple[list[int], list[list[float]], list[float]]:
    """(c_ids, float components, driver-folded self-dots), c_id ASC —
    the plain-data payload of every _np_sims_fn closure. Raises if any
    centroid self-dot is 0: such an entry has no cosine on either
    engine (NULL/NaN sims), an ordering the kernel refuses to guess —
    never observed (centroid sums of real corpora are nonzero), and
    failing loud beats a silent ordering divergence."""
    ordered = sorted((int(c), [float(x) for x in comps]) for c, comps in cents)
    c_ids = [c for c, _ in ordered]
    comps = [cv for _, cv in ordered]
    cdots = [_ieee_self_dot(cv) for cv in comps]
    if any(cd == 0.0 for cd in cdots):
        raise ValueError(
            "numpy assignment kernel: zero-norm centroid — its "
            "NULL-sim ordering is not total; refusing"
        )
    return c_ids, comps, cdots


def _np_sims_fn(comps: list[list[float]], cdots: list[float]):
    """Factory for the module's one ranking kernel: returns
    ``sims(V, nrm) -> S``, the (rows × k) cosine matrix of the row
    vectors ``V`` (rows × dim) against the ``k`` centroids, column i
    for ``comps[i]``. ``nrm`` is the rows' norm; ``None`` derives it
    from ``V`` by the same fold (the PQ subvector norm). Zero
    denominators give -inf. Nested so cloudpickle ships it by value
    (see the section comment for the exactness argument)."""

    def sims(V, nrm):  # type: ignore[no-untyped-def]
        import numpy as np

        C = np.asarray(comps, dtype=np.float64)
        if nrm is None:
            sq = np.zeros(V.shape[0], dtype=np.float64)
            for d in range(V.shape[1]):
                sq = sq + V[:, d] * V[:, d]
            nrm = np.sqrt(sq)
        acc = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
        for d in range(C.shape[1]):
            acc = acc + V[:, d, None] * C[:, d]
        denom = np.asarray(nrm, dtype=np.float64)[:, None] * np.sqrt(
            np.asarray(cdots, dtype=np.float64)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            S = acc / denom
        return np.where(denom == 0.0, -np.inf, S)

    return sims


def _round_sums(
    n: DataFrame, books: dict[int, list[tuple[int, list[int]]]]
) -> list:
    """One _lloyd_fit round as collected rows: the per-(subspace ``j``,
    centroid ``code``, dim ``d``) component sums ``s``. Subspace ``j``
    is the ``j``-th contiguous ``_DIM // len(books)`` slice of ``vq``.
    In one pass over ``vq`` the worker assigns every slice to its
    codebook with the ranking kernel, folding the slice's norm in the
    kernel (``sims(sub, None)``), and scatter-adds the slice into a
    (k, subdim) accumulator (np.add.at); the engine then sums the
    ≤ m·k·subdim partials per partition. This replaced an assignment
    projection + posexplode + groupBy pipeline, which materialized
    rows × dims exploded records through a hash aggregate.

    EXACT by the module-note integer argument: every component is an
    integer-valued double and every partial/total stays far below 2^53
    at gated SFs, so float addition never rounds and summation ORDER
    cannot change a bit — in-worker accumulation, engine partial-agg,
    and the old exploded sum all produce the identical integers (the
    same argument that already made the exploded sum layout-invariant).
    The same argument makes the in-kernel norm of the one-subspace
    (k-means) case equal to the engine's ``qnrm``: both are the sqrt of
    the same exact integer self-dot. Only centroids with ≥ 1 member emit
    rows, matching groupBy semantics (an emptied centroid drops out of
    the next round's codebook).

    One Python task runs per partition of ``n``, and each task has a
    fixed cost that dwarfs the numpy work at small row counts: every
    task, on a reused worker too, calls ``importlib.invalidate_caches()``
    (pyspark's ``worker_util.setup_spark_files``), which makes each of
    the worker's 16 cached zipimporters of ``pyspark.zip`` re-read the
    zip directory — 0.19–0.24 CPU s per call, measured inside a worker
    on a 4-vCPU VM (PySpark 4.1). A 500-row mapInPandas costs ~1.05
    worker CPU s on 4 partitions and ~0.27 s on one. The fit therefore
    passes the row-count-sized view from _fit_base, not the raw base."""
    data = {j: _np_entry_data(cents) for j, cents in sorted(books.items())}
    ids = {j: [int(c) for c in c_ids] for j, (c_ids, _, _) in data.items()}
    fns = {
        j: _np_sims_fn(comps, cdots)
        for j, (_, comps, cdots) in data.items()
    }
    subdim = _DIM // len(books)

    def part(batches):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        acc: dict[int, object] = {}
        cnt: dict[int, object] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["vq"].to_numpy())
            for j, sims in fns.items():
                sub = V[:, j * subdim : (j + 1) * subdim]
                ix = np.argmax(sims(sub, None), axis=1)
                if j not in acc:
                    acc[j] = np.zeros((len(ids[j]), subdim), dtype=np.float64)
                    cnt[j] = np.zeros(len(ids[j]), dtype=np.int64)
                np.add.at(acc[j], ix, sub)
                np.add.at(cnt[j], ix, 1)
        if not acc:
            return
        js = []
        codes = []
        ds = []
        ss = []
        for j in sorted(acc):
            present = np.nonzero(cnt[j] > 0)[0]
            js.append(np.full(len(present) * subdim, j, dtype=np.int32))
            codes.append(
                np.repeat(
                    np.asarray(
                        [ids[j][i] for i in present], dtype=np.int32
                    ),
                    subdim,
                )
            )
            ds.append(np.tile(np.arange(subdim, dtype=np.int32), len(present)))
            ss.append(acc[j][present].reshape(-1))
        yield pd.DataFrame(
            {
                "j": np.concatenate(js),
                "code": np.concatenate(codes),
                "d": np.concatenate(ds),
                "s": np.concatenate(ss),
            }
        )

    return (
        n.select("vq")
        .mapInPandas(part, "j int, code int, d int, s double")
        .groupBy("j", "code", "d")
        .agg(F.sum("s").alias("s"))
        .collect()
    )


def _km_assign_np_col(
    cents: list[tuple[int, list[int]]], vec: str = "vq", nrm: str = "qnrm"
) -> F.Column:
    """Nearest-centroid ``list_id`` of each row's ``vec`` (norm ``nrm``)
    by (sim DESC, c_id ASC): the argmax of the ranking kernel. Defaults
    to the quantized (vq, qnrm) pair; s_ann_ivf passes its raw (v, nrm)."""
    c_ids, comps, cdots = _np_entry_data(cents)
    sims = _np_sims_fn(comps, cdots)

    @F.pandas_udf("integer")
    def _assign(vq, qnrm):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        if len(vq) == 0:  # np.stack rejects zero arrays (r13 ADVICE)
            return pd.Series([], dtype="int32")
        S = sims(np.stack(vq.to_numpy()), qnrm.to_numpy())
        return pd.Series(np.asarray(c_ids, dtype=np.int32)[np.argmax(S, axis=1)])

    return _assign(F.col(vec), F.col(nrm))


def _km_probe_ids_np_col(
    cents: list[tuple[int, list[int]]], nprobe: int
) -> F.Column:
    """Top-``nprobe`` list ids of each (vq, qnrm) row by (sim DESC, c_id
    ASC): a STABLE argsort of the negated kernel matrix — negating a
    double is exact and ties stay in column (c_id) order. A qnrm == 0
    row ranks by c_id via the -inf fill."""
    c_ids, comps, cdots = _np_entry_data(cents)
    sims = _np_sims_fn(comps, cdots)

    @F.pandas_udf("array<integer>")
    def _probe(vq, qnrm):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        if len(vq) == 0:  # np.stack rejects zero arrays (r13 ADVICE)
            return pd.Series([], dtype=object)
        S = sims(np.stack(vq.to_numpy()), qnrm.to_numpy())
        order = np.argsort(-S, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(np.asarray(c_ids, dtype=np.int32)[order]))

    return _probe(F.col("vq"), F.col("qnrm"))


def _km_probe_lists(
    probe: list[float], cents: list[tuple[int, list[int]]], nprobe: int
) -> list[int]:
    """Coarse-quantize one query vector driver-side: its nearest
    ``nprobe`` list ids by (cosine DESC, c_id ASC) — the step a deployed
    ANN service runs on the client/driver so the scan can be a LITERAL
    list_id filter. The kernel of _km_probe_ids_np_col on a one-row
    batch, with the query norm folded like the engine's
    (_ieee_self_dot), so it equals the in-plan ranking bit for bit."""
    import numpy as np

    c_ids, comps, cdots = _np_entry_data(cents)
    S = _np_sims_fn(comps, cdots)(
        np.asarray([probe], dtype=np.float64), [math.sqrt(_ieee_self_dot(probe))]
    )
    return [c_ids[i] for i in np.argsort(-S[0], kind="stable")[:nprobe]]


def _pq_codes_np_col(
    books: dict[int, list[tuple[int, list[int]]]]
) -> F.Column:
    """All ``_PQ_M`` PQ codes as ONE array<int> column: per subspace, the
    argmax of the ranking kernel over the subvector (one Arrow crossing
    for all subspaces). ``element_at(codes, j+1)`` is ``code{j}``."""
    data = {j: _np_entry_data(cents) for j, cents in sorted(books.items())}
    if sorted(data) != list(range(len(data))):
        # out[:, j] below indexes by the subspace key directly — a
        # sparse or re-keyed books dict would write out of bounds or
        # encode the wrong column (r13 ADVICE tripwire, driver-side)
        raise ValueError(
            f"_pq_codes_np_col: books keys must be 0..{len(data) - 1} "
            f"contiguous, got {sorted(data)}"
        )
    enc = {
        j: (c_ids, _np_sims_fn(comps, cdots))
        for j, (c_ids, comps, cdots) in data.items()
    }
    subdim = _PQ_SUBDIM

    @F.pandas_udf("array<integer>")
    def _encode(vq):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        if len(vq) == 0:  # np.stack rejects zero arrays (r13 ADVICE)
            return pd.Series([], dtype=object)
        V = np.stack(vq.to_numpy())
        out = np.empty((V.shape[0], len(enc)), dtype=np.int32)
        for j, (c_ids, sims) in enc.items():
            S = sims(V[:, j * subdim : (j + 1) * subdim], None)
            out[:, j] = np.asarray(c_ids, dtype=np.int32)[np.argmax(S, axis=1)]
        return pd.Series(list(out))

    return _encode(F.col("vq"))


def _pq_drift_err_np_col(
    books: dict[int, list[tuple[int, list[int]]]]
) -> F.Column:
    """Per-row total quantization error of the STORED codes: for each
    subspace the kernel's cosine at the stored code, err_j = 10000 -
    floor(10000 * sim_j), summed to one BIGINT — the oracle's drift{j}
    arithmetic. An unknown code or a zero denominator (the -inf fill)
    yields a NULL row err (pandas nullable Int64 -> Arrow null), which
    the engine-side sum skips while count(1) still counts the row — the
    books/index-mismatch tripwire ivfpq_drift_stats documents. vq is
    derived in-kernel as floor(v * scale), the same single
    multiply+floor the transform expression executes."""
    data = {j: _np_entry_data(cents) for j, cents in sorted(books.items())}
    if sorted(data) != list(range(_PQ_M)):
        # C[:, j] below indexes the code array (built for j in
        # 0.._PQ_M-1) by the subspace key directly — a sparse or
        # re-keyed books dict would score the wrong column (r13 ADVICE
        # tripwire, driver-side)
        raise ValueError(
            f"_pq_drift_err_np_col: books keys must be 0..{_PQ_M - 1} "
            f"contiguous, got {sorted(data)}"
        )
    enc = {
        j: (c_ids, _np_sims_fn(comps, cdots))
        for j, (c_ids, comps, cdots) in data.items()
    }
    subdim = _PQ_SUBDIM
    scale = float(_KM_SCALE)

    @F.pandas_udf("long")
    def _err(v, codes):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        if len(v) == 0:  # np.stack rejects zero arrays (r13 ADVICE)
            return pd.Series([], dtype="Int64")
        V = np.floor(np.stack(v.to_numpy()) * scale)
        C = np.stack(codes.to_numpy())
        rows = np.arange(V.shape[0])
        tot = np.zeros(V.shape[0], dtype=np.float64)
        bad = np.zeros(V.shape[0], dtype=bool)
        for j, (c_ids, sims) in enc.items():
            S = sims(V[:, j * subdim : (j + 1) * subdim], None)
            ids = np.asarray(c_ids)
            ix = np.minimum(np.searchsorted(ids, C[:, j]), len(ids) - 1)
            sim = S[rows, ix]
            # -inf is the kernel's zero-denominator fill (Spark: NULL)
            bad |= (ids[ix] != C[:, j]) | np.isneginf(sim)
            tot = tot + (10000.0 - np.floor(10000.0 * sim))
        # bad rows can carry inf/NaN through tot; zero them BEFORE the
        # int cast (undefined-value casting emits RuntimeWarnings on
        # newer numpy) — the values are masked to NULL anyway (r13
        # ADVICE)
        out = pd.array(
            np.where(bad, 0.0, tot).astype(np.int64), dtype="Int64"
        )
        out[bad] = None
        return pd.Series(out)

    return _err(F.col("v"), F.array(*[f"code{j}" for j in range(_PQ_M)]))


def _km_train_ctes(train_mod: int = 1) -> tuple[str, str]:
    """Unrolled Lloyd iterations as DuckDB CTEs (mirrors the Spark loop).

    Returns ``(ctes, final_cent)``: a WITH-clause body ending in the
    final-assignment CTE ``asgF(vec_id, v, vnrm, list_id)``, and the name
    of the final centroid CTE. Shared by every kmeans-backed oracle so the
    training definition can't desynchronize between them.

    ``train_mod`` mirrors _km_fit's sampled-training knob: the Lloyd
    iterations (init + assignment/sum passes) run over the vec_id-modulus
    sample ``tr`` while the FINAL assignment ``asgF`` still covers every
    row — exactly what the Spark path does. The default emits the
    original full-fit SQL byte-for-byte, so the existing oracles are
    untouched."""
    base = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), nq AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vnrm,
             list_transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE)) AS vq,
             sqrt(list_dot_product(
               list_transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE)),
               list_transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE)))) AS qnrm
      FROM e
    )"""
    if train_mod == 1:
        t = "nq"
        parts = [
            base
            + f""", cent0 AS (
      SELECT vec_id AS c_id, vq AS cv FROM nq WHERE vec_id < {_N_CENTROIDS}
    )"""
        ]
    else:
        t = "tr"
        parts = [
            base
            + f""", tr AS (
      SELECT * FROM nq WHERE vec_id % {train_mod} = 0
    ), cent0 AS (
      SELECT vec_id AS c_id, vq AS cv FROM tr
      ORDER BY vec_id LIMIT {_N_CENTROIDS}
    )"""
        ]
    prev = "cent0"
    assign = (
        "(SELECT c.c_id FROM {prev} c"
        " ORDER BY list_dot_product({t}.vq, c.cv)"
        " / ({t}.qnrm * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.c_id ASC"
        " LIMIT 1)"
    )
    for it in range(_KM_ITERS):
        parts.append(
            f""", asg{it} AS (
      SELECT {t}.*, {assign.format(prev=prev, t=t)} AS list_id FROM {t}
    ), sum{it} AS (
      SELECT list_id, d, CAST(sum(vq[d]) AS BIGINT) AS s
      FROM asg{it} CROSS JOIN range(1, {_DIM + 1}) t(d)
      GROUP BY list_id, d
    ), cent{it + 1} AS (
      SELECT list_id AS c_id, list(CAST(s AS DOUBLE) ORDER BY d) AS cv
      FROM sum{it} GROUP BY list_id
    )"""
        )
        prev = f"cent{it + 1}"
    parts.append(
        f""", asgF AS (
      SELECT nq.vec_id, nq.v, nq.vnrm, {assign.format(prev=prev, t="nq")} AS list_id
      FROM nq
    )"""
    )
    return "".join(parts), prev


def _km_ann_oracle(train_mod: int = 1) -> str:
    ctes, cent = _km_train_ctes(train_mod)
    return f"""{ctes}, probe AS (
      SELECT vq, qnrm, v AS pv, vnrm AS pnrm FROM nq
      WHERE vec_id = {_QUERY_VEC_ID}
    ), probe_lists AS (
      SELECT c.c_id FROM {cent} c CROSS JOIN probe p
      ORDER BY list_dot_product(p.vq, c.cv)
               / (p.qnrm * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.c_id ASC
      LIMIT {_N_PROBE}
    ), cand AS (
      SELECT a.vec_id,
             list_dot_product(a.v, p.pv) / (a.vnrm * p.pnrm) AS cos_raw
      FROM asgF a CROSS JOIN probe p
      WHERE a.list_id IN (SELECT c_id FROM probe_lists)
        AND a.vec_id != {_QUERY_VEC_ID}
    )
    SELECT vec_id, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (ORDER BY cos_raw DESC, vec_id ASC) AS rank
    FROM cand
    QUALIFY rank <= {_K}"""


def _train_sample(n: DataFrame, train_mod: int) -> DataFrame:
    """Deterministic training subsample: rows where vec_id % train_mod == 0.

    ``train_mod=1`` is the full-corpus fit (the form every gated oracle
    unrolls — their CTEs train on ALL rows, so the registered queries
    must keep the default). At 100 TB the fit's full-corpus scans
    (``_KM_ITERS`` for the coarse quantizer, ``_PQ_M × _PQ_ITERS`` for
    the PQ codebooks) dominate index-BUILD cost while contributing
    nothing to serving; production systems train on a sample (FAISS
    trains IVF/PQ on ~1-10% and assigns the rest). vec_id-modulus keeps
    the sample deterministic and layout-invariant — no Date/random
    state, same sample on any partitioning."""
    if train_mod < 1:
        raise ValueError(f"train_mod must be >= 1, got {train_mod}")
    if train_mod == 1:
        return n
    return n.filter(F.col("vec_id") % train_mod == 0)


def _fit_base(n: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(base, rounds) for _lloyd_fit. ``base`` is the eager checkpoint
    of ``n``'s ``vec_id, vq``: the init collect reads it, and the caller
    releases it (releasing ``rounds`` would be a silent no-op, since
    its plan is a Coalesce, not the checkpoint's LogicalRDD).
    ``rounds`` is ``base`` coalesced so that each Lloyd round's Python
    task gets at least one Arrow batch of rows:

        k = max(1, min(base partitions, ceil(rows / maxRecordsPerBatch)))

    The row count is observed during the checkpoint's own job, so the
    sizing costs no Spark job. The count is only ever lowered, never
    raised. A non-positive ``spark.sql.execution.arrow.maxRecordsPerBatch``
    means unbounded batches, so one task. Round sums are exact integers
    (module note), so the partition count cannot change a bit of the
    fit.

    With the default 10,000-row batch, k is 1 up to 10,000 rows (sf0.1
    has 2,000 embeddings), 2 at sf1's 20,000 rows for any core count,
    and min(P, 20) at sf10's 200,000 (20 of 32 partitions under
    local[32], unchanged for P <= 20). The trade, measured on a 4-vCPU
    VM: at sf1, local[4], a fit's CPU falls 15% (km) and 11% (pq) with
    wall time unchanged; a one-task round costs ~0.37 s wall fixed plus
    ~11 us (km) / ~18 us (pq) per row. Not measured: wall time on a
    host with many real cores, where the sf1 rounds give up
    parallelism (2 tasks of 10,000 rows instead of P smaller ones)."""
    base, metrics = _observed_checkpoint(
        n.select("vec_id", "vq"), [F.count(F.lit(1)).alias("rows")]
    )
    per_batch = int(
        n.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    k = 1
    if per_batch > 0:
        rows_k = math.ceil(metrics["rows"] / per_batch)
        k = max(1, min(base.rdd.getNumPartitions(), rows_k))
    return base, base.coalesce(k)


def _lloyd_fit(
    n: DataFrame, m: int, k: int, iters: int, train_mod: int
) -> dict[int, list[tuple[int, list[int]]]]:
    """Deterministic spherical k-means on ``m`` contiguous ``_DIM // m``
    subspaces of ``vq``: ``{j: [(c_id, integer components), ...]}``, at
    most ``k`` centroids per subspace after ``iters`` Lloyd rounds.
    Product quantization is the ``m = _PQ_M`` case (_pq_fit); the IVF
    coarse quantizer is the same k-means with one subspace (_km_fit).

    Init: the same ``k`` rows for every subspace, collected once as full
    vectors and sliced driver-side — ``vec_id < k`` on the full fit (the
    literal init the oracles unroll), else the sample's lowest-vec_id
    ``k`` rows (a bounded TakeOrdered collect; see _train_sample). Each
    round is ONE Spark job for all subspaces (_round_sums): a
    shuffle-free assignment pass plus a bounded (m·k·subdim)-row
    aggregate collected to the driver — the classic 'centroids fit on
    the driver' shape, independent of table size. The sums are
    integer-exact, so batching the subspaces is bit-identical to one
    job per subspace, minus the per-job scheduling overhead.

    Init and rounds read _fit_base's one eager checkpoint of the
    quantized training projection (OPTIMIZATION_r14.md: km round
    −12–18%, bit-identical fits), computed fresh on every call and
    released on return. The rounds read its coalesced view: one Python
    task per ``maxRecordsPerBatch`` rows, at most one per base
    partition, because each task pays ~0.2 CPU s of fixed worker set-up
    (_round_sums) — one task per round at the bench's 500 rows, two at
    sf1's 20,000."""
    n = _train_sample(n, train_mod)
    base, rounds = _fit_base(n)
    subdim = _DIM // m
    try:
        if train_mod == 1:
            init_rows = base.filter(F.col("vec_id") < k).collect()
        else:
            init_rows = base.orderBy(F.asc("vec_id")).limit(k).collect()
        init = sorted(
            (int(r["vec_id"]), [int(x) for x in r["vq"]]) for r in init_rows
        )
        books = {
            j: [(vid, full[j * subdim : (j + 1) * subdim]) for vid, full in init]
            for j in range(m)
        }
        for _ in range(iters):
            by_j: dict[int, dict[int, dict[int, int]]] = {}
            for r in _round_sums(rounds, books):
                by_j.setdefault(int(r["j"]), {}).setdefault(
                    int(r["code"]), {}
                )[int(r["d"])] = int(r["s"])
            books = {
                j: sorted(
                    (c_id, [comp[d] for d in range(subdim)])
                    for c_id, comp in by_j.get(j, {}).items()
                )
                for j in range(m)
            }
        return books
    finally:
        _release_ckpt(base)


def _km_fit(n: DataFrame, train_mod: int = 1) -> list[tuple[int, list[int]]]:
    """The IVF coarse quantizer: _N_CENTROIDS centroids as (c_id,
    integer components) after _KM_ITERS Lloyd rounds — _lloyd_fit with
    one subspace, the whole vector. ``train_mod`` fits on the
    vec_id-modulus sample (see _train_sample)."""
    return _lloyd_fit(n, 1, _N_CENTROIDS, _KM_ITERS, train_mod)[0]


# Harness-level training memo. The centroids/codebooks are DETERMINISTIC
# functions of (sf_dir, train_mod) — no random state, no Date — so within
# one process every kmeans/PQ-backed query can share one fit instead of
# re-training per call (the r10 bench showed per-call re-training
# dominating the IVFPQ family: the parity sweep + bench re-fit identical
# codebooks dozens of times). Keyed by the *path*, so the cache is only
# valid while the table files are immutable — exactly the harness
# situation (read-only testdata); a deployed index build trains once per
# generation anyway (ivfpq_index_store) and never hits this path.
_FIT_CACHE: dict[tuple, object] = {}


def _km_fit_for(
    spark: SparkSession, sf_dir: str, train_mod: int = 1
) -> list[tuple[int, list[int]]]:
    key = ("km", os.path.normpath(sf_dir), train_mod)
    if key not in _FIT_CACHE:
        _FIT_CACHE[key] = _km_fit(_km_base(spark, sf_dir), train_mod)
    return _FIT_CACHE[key]  # type: ignore[return-value]


def _pq_fit_for(
    spark: SparkSession, sf_dir: str, train_mod: int = 1
) -> dict[int, list[tuple[int, list[int]]]]:
    key = ("pq", os.path.normpath(sf_dir), train_mod)
    if key not in _FIT_CACHE:
        _FIT_CACHE[key] = _pq_fit(_km_base(spark, sf_dir), train_mod)
    return _FIT_CACHE[key]  # type: ignore[return-value]


@query("s_ann_ivf_kmeans", oracle=_km_ann_oracle())
def s_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over LEARNED centroids: deterministic spherical k-means
    (init = first k vectors, _KM_ITERS fixed Lloyd rounds, argmax cosine with
    c_id tie-break, centroid = elementwise integer sum — see module note on
    why that is exact cross-engine). Each round is one shuffle-free
    broadcast assignment pass plus one (k·dim)-row aggregate collected to
    the driver — the classic 'centroids fit on the driver' k-means shape,
    independent of table size. Final search = partition-prunable nprobe
    list scan, identical to s_ann_ivf. Supersedes s_ann_ivf's first-16
    placeholder centroids with learned ones at the same plan shape."""
    n = _km_base(spark, sf_dir)
    return _km_ann_search(n, _km_fit_for(spark, sf_dir))


def _probe_q(n: DataFrame) -> list[int]:
    """The query vector's quantized components (one collected row)."""
    row = n.filter(F.col("vec_id") == _QUERY_VEC_ID).select("vq").collect()[0]
    return [int(x) for x in row["vq"]]


def _km_ann_search(
    n: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """The IVF serving path against an already-fitted centroid set —
    factored from s_ann_ivf_kmeans so the sampled-training knob
    (_km_fit(train_mod=...)) can be recall-tested through the SAME
    search the gated query runs. Train and serve are separate phases by
    design: at scale the fit happens once per index build while this
    search runs per query (bench.py times them separately)."""
    probe_q = _probe_q(n)
    probe_lists = _km_probe_lists(probe_q, cents, _N_PROBE)
    assigned = n.withColumn("list_id", _km_assign_np_col(cents))
    probe = n.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("pv"), F.col("vnrm").alias("pnrm")
    )
    cos = F.expr(_DOT.format(a="v", b="pv")) / (F.col("vnrm") * F.col("pnrm"))
    cand = (
        assigned.filter(F.col("list_id").isin(probe_lists))
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", cos.alias("cos_raw"))
    )
    topk = cand.orderBy(F.desc("cos_raw"), F.asc("vec_id")).limit(_K)
    # Unpartitioned window over exactly K rows (post-limit); the logged
    # "No Partition Defined" warning is accepted — see s_knn_bruteforce.
    w = Window.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# The registered sampled-training demonstration: fit on every 4th
# vector (a 25% deterministic sample), assign + search over everything.
_TRAIN_MOD_DEMO = 4


@query("s_ann_ivf_sampled", oracle=_km_ann_oracle(_TRAIN_MOD_DEMO))
def s_ann_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s_ann_ivf_kmeans with SAMPLED quantizer training — the index-build
    cost knob production uses at 100 TB (the full fit pays _KM_ITERS
    whole-corpus scans; the sampled fit scans vec_id % {m} == 0 rows
    only, while the final assignment and the search still cover every
    vector). Gated on its own mod-{m} unrolled oracle, so the claim the
    knob rests on — the sampled fit is bit-identical cross-engine
    (integer-exact Lloyd arithmetic is sample-independent; init = the
    sample's lowest-vec_id k rows on both engines) — is driver-proven,
    not just asserted. Recall floors for this exact configuration are
    pinned in test_round8_ops; serving plan identical to
    s_ann_ivf_kmeans (only the fitted centroids differ)."""
    n = _km_base(spark, sf_dir)
    return _km_ann_search(n, _km_fit_for(spark, sf_dir, train_mod=_TRAIN_MOD_DEMO))


s_ann_ivf_sampled.__doc__ = s_ann_ivf_sampled.__doc__.format(m=_TRAIN_MOD_DEMO)


def _km_clusters_oracle() -> str:
    ctes, cent = _km_train_ctes()
    return f"""{ctes}
    SELECT a.vec_id, a.list_id AS cluster,
           round(list_dot_product(a.v, c.cv)
                 / (a.vnrm * sqrt(list_dot_product(c.cv, c.cv))), 4)
             AS centroid_sim
    FROM asgF a JOIN {cent} c ON c.c_id = a.list_id"""


@query("s_kmeans_clusters", oracle=_km_clusters_oracle())
def s_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment for EVERY vector under the learned k-means
    centroids (same deterministic training as s_ann_ivf_kmeans), plus the
    cosine similarity to the assigned centroid — the training-data
    workhorse behind semantic bucketing, cluster-balanced sampling, and
    cluster-level dedup/filtering. The assignment pass is shuffle-free
    (one numpy-kernel projection); output is one narrow
    row per vector, so at 100 TB this is scan-bound and trivially
    partitionable — write it partitioned BY cluster and every downstream
    per-cluster op becomes partition-pruned."""
    n = _km_base(spark, sf_dir)
    cents = _km_fit_for(spark, sf_dir)
    assigned = n.withColumn("cluster", _km_assign_np_col(cents).cast("bigint"))
    # centroid_sim is computed against the ORIGINAL vector (not quantized)
    # via a broadcast join of the k-row centroid table — the quality
    # signal users threshold on, at zero shuffles.
    cent_df = n.sparkSession.createDataFrame(
        [(c_id, [float(x) for x in comps]) for c_id, comps in cents],
        "c_id bigint, cv array<double>",
    )
    sim = F.expr(_DOT.format(a="v", b="cv")) / (
        F.col("vnrm") * F.sqrt(F.expr(_DOT.format(a="cv", b="cv")))
    )
    return (
        assigned.join(F.broadcast(cent_df), F.col("cluster") == F.col("c_id"))
        .select(
            "vec_id",
            "cluster",
            F.round(sim, 4).alias("centroid_sim"),
        )
    )


# --------------------------------------------------------------------------
# Multi-probe LSH — probe the query bucket and every 1-bit-flip neighbor
# --------------------------------------------------------------------------
# The standard recall knob for sign-bit LSH: a near neighbor that disagrees
# on exactly one hyperplane lands in a bucket at hamming distance 1, so
# probing the 8 one-flip buckets (+ the exact bucket) recovers most of the
# recall lost to boundary flips at ~9× the candidate cost — still ~2^5
# smaller than brute force, with NO extra index state (contrast with more
# bands/tables, which multiply the index size).
_MP_MASKS = [0] + [1 << p for p in range(_N_PLANES)]


@query(
    "s_ann_lsh_multiprobe",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
             {_bucket_sql_duck()} AS bucket
      FROM e
    ), q AS (SELECT v, nrm, bucket FROM b WHERE vec_id = {_QUERY_VEC_ID}),
    probes AS (
      SELECT xor(q.bucket, m.m) AS pb
      FROM q CROSS JOIN (VALUES {", ".join(f"({m})" for m in _MP_MASKS)}) m(m)
    ), cand AS (
      SELECT b.vec_id,
             list_dot_product(b.v, q.v) / (b.nrm * q.nrm) AS cos_raw
      FROM b CROSS JOIN q
      WHERE b.bucket IN (SELECT pb FROM probes)
        AND b.vec_id != {_QUERY_VEC_ID}
    )
    SELECT vec_id, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (ORDER BY cos_raw DESC, vec_id ASC) AS rank
    FROM cand
    QUALIFY rank <= {_K}
    """,
)
def s_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s_ann_lsh with 1-bit multi-probe: candidates come from the query's
    bucket plus its 8 hamming-1 neighbors. Plan shape is unchanged — the
    9-row probe-bucket set broadcasts into a semi-join against the bucket
    column, so the scan stays pruned/parallel and no shuffle is added;
    only the candidate count grows (~9×)."""
    b = _emb_double(spark, sf_dir).select(
        "vec_id",
        "v",
        F.sqrt(F.expr(_DOT.format(a="v", b="v"))).alias("nrm"),
        _bucket_expr_spark().alias("bucket"),
    )
    q = b.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    probes = q.select(
        F.explode(
            F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in _MP_MASKS])
        ).alias("pb")
    )
    cos = F.expr(_DOT.format(a="v", b="qv")) / (F.col("nrm") * F.col("qnrm"))
    cand = (
        b.join(F.broadcast(probes), F.col("bucket") == F.col("pb"), "left_semi")
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cos_raw"))
    )
    topk = cand.orderBy(F.desc("cos_raw"), F.asc("vec_id")).limit(_K)
    # Unpartitioned window over exactly K rows (post-limit); the logged
    # "No Partition Defined" warning is accepted — see s_knn_bruteforce.
    w = Window.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# --------------------------------------------------------------------------
# Product-quantization ANN (per-subspace codebooks + ADC shortlist)
# --------------------------------------------------------------------------
# The vector splits into _PQ_M contiguous subspaces of _PQ_SUBDIM dims;
# each subspace trains its own _PQ_KSUB-centroid spherical k-means
# codebook (the IVF k-means above run per subspace — one _lloyd_fit:
# init = first k subvectors, sum-as-centroid — valid because cosine
# assignment is scale-invariant). A vector's code word is its per-subspace centroid
# ids; search scores every vector from the probe's precomputed ADC lookup
# tables (pdot[j][c] = <probe_j, codebook_j[c]>, |codebook_j[c]|² — all
# exact integer arithmetic, identical in both engines), shortlists
# _PQ_SHORTLIST candidates by approximate cosine, then re-ranks exactly.
# See Jégou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011 (ADC = asymmetric distance computation).
_PQ_M = 16
_PQ_SUBDIM = _DIM // _PQ_M
_PQ_KSUB = 16
_PQ_ITERS = 1
_PQ_SHORTLIST = 50


def _pq_fit(
    n: DataFrame, train_mod: int = 1
) -> dict[int, list[tuple[int, list[int]]]]:
    """The PQ codebooks: one _PQ_KSUB-centroid codebook per _PQ_SUBDIM-dim
    subspace ``j``, as ``{j: [(c_id, integer components), ...]}``, after
    _PQ_ITERS Lloyd rounds — _lloyd_fit with _PQ_M subspaces, every
    subspace batched into the same init collect and round jobs.
    ``train_mod`` fits every codebook on the vec_id-modulus sample (see
    _train_sample)."""
    return _lloyd_fit(n, _PQ_M, _PQ_KSUB, _PQ_ITERS, train_mod)


def _pq_train_ctes(base: str) -> str:
    """Unrolled per-subspace PQ training as DuckDB CTEs over ``base`` (a
    CTE exposing ``vec_id, vq``): emits, for each subspace j, the
    ``sub{{j}}`` slices, ``cent{{j}}_*`` codebook iterations, final
    ``codes{{j}}`` assignments, the probe subvector ``probe{{j}}``, and
    the per-subspace ADC partials ``part{{j}}(vec_id, num, cn2)``.
    Shared by _pq_oracle and _ivfpq_oracle so the codebook training
    definition can't desynchronize between them (the _km_train_ctes
    pattern)."""
    parts = []
    assign = (
        "(SELECT c.c_id FROM {cent} c"
        " ORDER BY list_dot_product(s.sq, c.cv)"
        " / (s.sqn * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.c_id ASC"
        " LIMIT 1)"
    )
    for j in range(_PQ_M):
        lo = j * _PQ_SUBDIM + 1
        hi = (j + 1) * _PQ_SUBDIM
        parts.append(
            f""", sub{j} AS (
      SELECT vec_id, list_slice(vq, {lo}, {hi}) AS sq,
             sqrt(list_dot_product(list_slice(vq, {lo}, {hi}),
                                   list_slice(vq, {lo}, {hi}))) AS sqn
      FROM {base}
    ), cent{j}_0 AS (
      SELECT vec_id AS c_id, sq AS cv FROM sub{j} WHERE vec_id < {_PQ_KSUB}
    )"""
        )
        prev = f"cent{j}_0"
        for it in range(_PQ_ITERS):
            parts.append(
                f""", asg{j}_{it} AS (
      SELECT s.*, {assign.format(cent=prev)} AS code FROM sub{j} s
    ), sum{j}_{it} AS (
      SELECT code, d, CAST(sum(sq[d]) AS BIGINT) AS su
      FROM asg{j}_{it} CROSS JOIN range(1, {_PQ_SUBDIM + 1}) t(d)
      GROUP BY code, d
    ), cent{j}_{it + 1} AS (
      SELECT code AS c_id, list(CAST(su AS DOUBLE) ORDER BY d) AS cv
      FROM sum{j}_{it} GROUP BY code
    )"""
            )
            prev = f"cent{j}_{it + 1}"
        parts.append(
            f""", codes{j} AS (
      SELECT s.vec_id, {assign.format(cent=prev)} AS code FROM sub{j} s
    ), probe{j} AS (
      SELECT sq AS psq FROM sub{j} WHERE vec_id = {_QUERY_VEC_ID}
    ), part{j} AS (
      SELECT k.vec_id,
             list_dot_product(p.psq, c.cv) AS num,
             list_dot_product(c.cv, c.cv) AS cn2
      FROM codes{j} k
      JOIN {prev} c ON c.c_id = k.code
      CROSS JOIN probe{j} p
    )"""
        )
    return "".join(parts)


_PQ_ADC_JOINS = " ".join(f"JOIN part{j} USING (vec_id)" for j in range(1, _PQ_M))
_PQ_ADC_NUMS = " + ".join(f"part{j}.num" for j in range(_PQ_M))
_PQ_ADC_CN2S = " + ".join(f"part{j}.cn2" for j in range(_PQ_M))


def _pq_oracle() -> str:
    """Unrolled per-subspace training + ADC + exact re-rank as CTEs."""
    header = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), nq2 AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vnrm,
             list_transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE)) AS vq,
             sqrt(list_dot_product(
               list_transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE)),
               list_transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE)))) AS qnrm
      FROM e
    )"""
    return (
        header
        + _pq_train_ctes("nq2")
        + f""", pn AS (
      SELECT qnrm AS pqnrm, v AS pv, vnrm AS pnrm FROM nq2
      WHERE vec_id = {_QUERY_VEC_ID}
    ), adc AS (
      SELECT part0.vec_id, ({_PQ_ADC_NUMS}) / (pn.pqnrm * sqrt({_PQ_ADC_CN2S})) AS score
      FROM part0 {_PQ_ADC_JOINS} CROSS JOIN pn
      WHERE part0.vec_id != {_QUERY_VEC_ID}
    ), shortlist AS (
      SELECT vec_id FROM adc ORDER BY score DESC, vec_id ASC
      LIMIT {_PQ_SHORTLIST}
    ), rescored AS (
      SELECT n.vec_id,
             list_dot_product(n.v, pn.pv) / (n.vnrm * pn.pnrm) AS cos_raw
      FROM nq2 n CROSS JOIN pn
      WHERE n.vec_id IN (SELECT vec_id FROM shortlist)
    )
    SELECT vec_id, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (ORDER BY cos_raw DESC, vec_id ASC) AS rank
    FROM rescored
    QUALIFY rank <= {_K}"""
    )


def _pq_adc_exprs(
    books: dict[int, list[tuple[int, list[int]]]],
    probe_q: list[int],
) -> tuple[F.Column, F.Column]:
    """The ADC accumulators over the ``code{j}`` columns for a collected
    integer probe vector: returns ``(num_expr, cn2_expr)``.
    The pdot/cn2 lookup tables are exact Python-int arithmetic folded into
    literal maps (bounded: _PQ_KSUB entries per subspace), so the scored
    scan touches only the code columns — shared by s_ann_pq (full-corpus
    ADC), s_ann_ivfpq (probed-lists ADC) and the stored-index serve."""
    num_terms: list[str] = []
    cn2_terms: list[str] = []
    for j, cents in sorted(books.items()):
        psub = probe_q[j * _PQ_SUBDIM : (j + 1) * _PQ_SUBDIM]
        pdot_items = ", ".join(
            f"{int(c_id)}, "
            f"{_dlit(sum(p * c for p, c in zip(psub, comps)))}"
            for c_id, comps in cents
        )
        cn2_items = ", ".join(
            f"{int(c_id)}, {_dlit(sum(c * c for c in comps))}"
            for c_id, comps in cents
        )
        num_terms.append(f"element_at(map({pdot_items}), code{j})")
        cn2_terms.append(f"element_at(map({cn2_items}), code{j})")
    # left-associated sums — same fold order as the previous
    # lit(0.0) + e0 + e1 + ... Column chain (0.0 + e0 == e0)
    num_expr = F.expr("(" + " + ".join(num_terms) + ")")
    cn2_expr = F.expr("(" + " + ".join(cn2_terms) + ")")
    return num_expr, cn2_expr


def _with_np_codes(
    df: DataFrame, books: dict[int, list[tuple[int, list[int]]]]
) -> DataFrame:
    """One numpy-kernel ``codes`` column plus the per-subspace
    ``code{j}`` views the ADC map lookups / index schema read (see
    _pq_codes_np_col)."""
    return df.withColumn("codes", _pq_codes_np_col(books)).withColumns(
        {f"code{j}": F.element_at("codes", j + 1) for j in range(_PQ_M)}
    )


@query("s_ann_pq", oracle=_pq_oracle())
def s_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 16 subspace codebooks × 16 centroids
    give a 16-symbol (8-byte) code per vector; the probe's ADC lookup tables (an
    8-entry literal map per subspace, built driver-side from the trained
    codebooks and the collected 64-int probe — both bounded) score every
    vector from its codes alone, shortlist _PQ_SHORTLIST by approximate
    cosine via TakeOrderedAndProject, and only the shortlist re-ranks
    against the exact vectors. At 100 TB the codes would be precomputed
    columns (8 bytes/vector vs 256 for the raw floats), so the scored
    scan reads ~3% of the bytes and the full vectors are touched for
    exactly _PQ_SHORTLIST rows."""
    n = _km_base(spark, sf_dir)
    return _pq_ann_search(n, _pq_fit_for(spark, sf_dir))


def _pq_ann_search(
    n: DataFrame, books: dict[int, list[tuple[int, list[int]]]]
) -> DataFrame:
    """The PQ serving path (ADC shortlist + exact re-rank) against
    already-fitted codebooks — factored from s_ann_pq for the same
    reasons as _km_ann_search: the sampled-training knob
    (_pq_fit(train_mod=...)) is recall-tested through the exact search
    the gated query runs, and bench.py times the one-per-build fit
    separately from the per-query search."""
    probe_q = _probe_q(n)

    num_expr, cn2_expr = _pq_adc_exprs(books, probe_q)
    scored = _with_np_codes(n, books)

    # ADC cosine denominator: PROBE's quantized norm (a constant — exact
    # Python int arithmetic under the sqrt) × the reconstructed-candidate
    # norm. Dividing by the CANDIDATE's own qnrm here instead was a bug:
    # it reweights every score by a per-candidate factor and only matched
    # the oracle because the shipped embeddings are unit-normalized
    # (caught by the round-3 self-review; the oracle always had it right).
    probe_qnrm = float(sum(x * x for x in probe_q)) ** 0.5
    adc = num_expr / (F.lit(probe_qnrm) * F.sqrt(cn2_expr))
    shortlist = (
        scored.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", "v", "vnrm", adc.alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(_PQ_SHORTLIST)
    )
    probe = n.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("pv"), F.col("vnrm").alias("pnrm")
    )
    cos = F.expr(_DOT.format(a="v", b="pv")) / (F.col("vnrm") * F.col("pnrm"))
    rescored = shortlist.crossJoin(F.broadcast(probe)).select(
        "vec_id", cos.alias("cos_raw")
    )
    topk = rescored.orderBy(F.desc("cos_raw"), F.asc("vec_id")).limit(_K)
    # Unpartitioned window over exactly K rows (post-limit); the logged
    # "No Partition Defined" warning is accepted — see s_knn_bruteforce.
    w = Window.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# --------------------------------------------------------------------------
# IVF + PQ composed (the deployed-at-scale ANN architecture)
# --------------------------------------------------------------------------
def _ivfpq_oracle() -> str:
    """Coarse k-means lists (shared _km_train_ctes) + per-subspace PQ
    codebooks (shared _pq_train_ctes over the SAME quantized base) +
    list-restricted ADC + exact re-rank."""
    km_ctes, cent = _km_train_ctes()
    return (
        km_ctes
        + _pq_train_ctes("nq")
        + f""", pn AS (
      SELECT qnrm AS pqnrm, v AS pv, vnrm AS pnrm, vq AS pvq FROM nq
      WHERE vec_id = {_QUERY_VEC_ID}
    ), probe_lists AS (
      SELECT c.c_id FROM {cent} c CROSS JOIN pn
      ORDER BY list_dot_product(pn.pvq, c.cv)
               / (pn.pqnrm * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.c_id ASC
      LIMIT {_N_PROBE}
    ), adc AS (
      SELECT part0.vec_id, ({_PQ_ADC_NUMS}) / (pn.pqnrm * sqrt({_PQ_ADC_CN2S})) AS score
      FROM part0 {_PQ_ADC_JOINS}
      JOIN asgF a ON a.vec_id = part0.vec_id
      CROSS JOIN pn
      WHERE part0.vec_id != {_QUERY_VEC_ID}
        AND a.list_id IN (SELECT c_id FROM probe_lists)
    ), shortlist AS (
      SELECT vec_id FROM adc ORDER BY score DESC, vec_id ASC
      LIMIT {_PQ_SHORTLIST}
    ), rescored AS (
      SELECT n.vec_id,
             list_dot_product(n.v, pn.pv) / (n.vnrm * pn.pnrm) AS cos_raw
      FROM nq n CROSS JOIN pn
      WHERE n.vec_id IN (SELECT vec_id FROM shortlist)
    )
    SELECT vec_id, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (ORDER BY cos_raw DESC, vec_id ASC) AS rank
    FROM rescored
    QUALIFY rank <= {_K}"""
    )


@query("s_ann_ivfpq", oracle=_ivfpq_oracle())
def s_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed — the index you'd actually deploy for ANN at
    100 TB (FAISS's IndexIVFPQ with by_residual=false, the standard form
    for cosine/inner-product metrics; Jégou et al., TPAMI 2011, §V
    "IVFADC"). Composition of the two existing pieces at their exact
    shared training definitions:

    - COARSE: deterministic spherical k-means lists (same _km_fit as
      s_ann_ivf_kmeans) assign every vector a ``list_id``; the probe
      searches its _N_PROBE nearest lists only. At 100 TB the table is
      written partitioned BY list_id, so this step is partition pruning —
      the scan never touches the other lists' files.
    - FINE: per-subspace PQ codebooks (same _pq_fit as s_ann_pq) score
      the pruned scan from 8-byte codes via literal ADC lookup maps — no
      raw vectors read until the final _PQ_SHORTLIST re-rank.

    Against s_ann_pq the scored scan shrinks from the whole corpus to
    nprobe/k_lists of it; against s_ann_ivf_kmeans the scored bytes drop
    ~32x (codes vs raw doubles). Candidates surviving both filters
    re-rank exactly. Plan: a literal list_id filter (probe lists ranked
    driver-side), in-row encode + map lookups, TakeOrderedAndProject shortlist, broadcast
    re-rank — zero shuffles before the bounded top-k merges."""
    n = _km_base(spark, sf_dir)
    return _ivfpq_search(n, _km_fit_for(spark, sf_dir), _pq_fit_for(spark, sf_dir))


def _ivfpq_search(
    n: DataFrame,
    cents: list[tuple[int, list[int]]],
    books: dict[int, list[tuple[int, list[int]]]],
) -> DataFrame:
    """The IVFADC serving path against already-fitted coarse centroids +
    PQ codebooks — factored from s_ann_ivfpq so bench.py can time the
    one-per-build training (coarse _km_fit + _PQ_M codebook fits — the
    dominant index-build cost at scale) separately from this per-query
    search, and so the sampled-training knob composes here too."""
    probe_q = _probe_q(n)
    probe_lists = _km_probe_lists(probe_q, cents, _N_PROBE)
    num_expr, cn2_expr = _pq_adc_exprs(books, probe_q)
    # Restrict BEFORE encoding: only probed-list rows pay the in-row code
    # assignment (at 100 TB both the codes and list_id are precomputed
    # columns and this is pure partition pruning + a narrow scan).
    scored = _with_np_codes(
        n.withColumn("list_id", _km_assign_np_col(cents)).filter(
            F.col("list_id").isin(probe_lists)
        ),
        books,
    )
    probe_qnrm = float(sum(x * x for x in probe_q)) ** 0.5
    adc = num_expr / (F.lit(probe_qnrm) * F.sqrt(cn2_expr))
    shortlist = (
        scored.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", "v", "vnrm", adc.alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(_PQ_SHORTLIST)
    )
    probe = n.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("pv"), F.col("vnrm").alias("pnrm")
    )
    cos = F.expr(_DOT.format(a="v", b="pv")) / (F.col("vnrm") * F.col("pnrm"))
    rescored = shortlist.crossJoin(F.broadcast(probe)).select(
        "vec_id", cos.alias("cos_raw")
    )
    topk = rescored.orderBy(F.desc("cos_raw"), F.asc("vec_id")).limit(_K)
    # Unpartitioned window over exactly K rows (post-limit); the logged
    # "No Partition Defined" warning is accepted — see s_knn_bruteforce.
    w = Window.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# --------------------------------------------------------------------------
# IVFPQ stored index — the serving shape the in-plan query documents
# --------------------------------------------------------------------------
_IVFPQ_INDEX_COLS = ("vec_id", "v", "vnrm") + tuple(
    f"code{j}" for j in range(_PQ_M)
)


def ivfpq_index_build(
    n: DataFrame,
    cents: list[tuple[int, list[int]]],
    books: dict[int, list[tuple[int, list[int]]]],
) -> DataFrame:
    """One index row per vector: (vec_id, v, vnrm, code0..code{M-1},
    list_id) — the encode pass a 100 TB deployment runs ONCE at ingest
    so that serving never pays it. ``v``/``vnrm`` ride along for the
    exact re-rank; columnar storage means the ADC scan still reads only
    the 1-byte code columns (column pruning), and the raw vectors are
    fetched for shortlist rows alone."""
    return (
        _with_np_codes(n.withColumn("list_id", _km_assign_np_col(cents)), books)
        .select(*_IVFPQ_INDEX_COLS, "list_id")
    )


def _ivfpq_store(path: str) -> GenStore:
    return GenStore(
        path,
        [
            TableSpec(
                name="",
                columns=(*_IVFPQ_INDEX_COLS, "list_id"),
                partition_by=("list_id",),
            )
        ],
    )


def ivfpq_index_store(index: DataFrame, path: str) -> None:
    """Write the index PARTITIONED BY list_id — the physical layout that
    turns the probe-list restriction into partition pruning: a query
    that probes nprobe of k lists opens nprobe/k of the files and the
    other lists' data is never read (the in-plan s_ann_ivfpq can only
    document this; the stored form exhibits it — PartitionFilters on
    the scan, pinned in test_round8_ops). Generation-versioned
    (operators/store.py): re-storing — the re-train-on-drift rebuild
    path s_ivfpq_drift's threshold triggers — is an atomic snapshot
    replace, so a crash mid-rebuild never loses the serving index."""
    missing = [c for c in (*_IVFPQ_INDEX_COLS, "list_id") if c not in index.columns]
    if missing:
        raise ValueError(
            f"ivfpq_index_store: index is missing {missing}; build it "
            "with ivfpq_index_build"
        )
    # Cluster by the partition key before the partitionBy write (guide
    # §6 file sizing): without this every input partition writes its own
    # file into every list_id dir it touches — a 32-partition encode
    # input × 16 lists lands ~500 tiny files and the stored serve /
    # drift diagnose pays a footer open per file (measured r13: the
    # drift lifecycle went 10.4 s → 23 s when the encode input became
    # 32-way parallel). One task per list = one file per list dir —
    # exactly the layout ivfpq_index_compact restores. Content is
    # row-identical; only file placement changes.
    _ivfpq_store(path).create({"": index.repartition("list_id")})


def ivfpq_index_load(spark: SparkSession, path: str) -> DataFrame:
    return _ivfpq_store(path).load(spark)[""]


def ivfpq_index_append(
    n_batch: DataFrame,
    cents: list[tuple[int, list[int]]],
    books: dict[int, list[tuple[int, list[int]]]],
    path: str,
) -> None:
    """Encode a NEW vector batch with the EXISTING quantizers and append
    it to the stored index — the standard inverted-file add() path: the
    coarse centroids and PQ codebooks are fit once per index generation
    (re-trained only on distribution drift), while ingestion batches
    pay exactly one encode projection each and land in their list_id
    partitions. Serving needs no change — the literal partition filter
    sees old ∪ new files (appended-store serve pinned equal to a
    rebuilt-store serve with the same quantizers in test_round8_ops).
    Parquet append under the list_id partitioning; each append lands
    one file set per batch — run ivfpq_index_compact on a cadence to
    fold them back to one file per list (serve-invariant, pinned).
    The batch is clustered by list_id before the write (guide §6) so
    each append lands ONE file per touched list, not one per input
    partition × list — see ivfpq_index_store."""
    _ivfpq_store(path).append(
        {"": ivfpq_index_build(n_batch, cents, books).repartition("list_id")}
    )


@query("s_ann_ivfpq_compacted", oracle=_ivfpq_oracle())
def s_ann_ivfpq_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s_ann_ivfpq_stored through the MAINTAINED index — the add()-path
    lifecycle end-to-end: half the corpus stored, the other half
    APPENDED with the frozen quantizers (ivfpq_index_append), the
    fragmented list partitions COMPACTED to one file each
    (ivfpq_index_compact), then served purely from storage with the
    literal partition filter. Shares s_ann_ivfpq's oracle verbatim:
    encode is deterministic per row and append/compact are exact
    file-level rewrites, so the maintained index must serve the
    identical top-k — one hash gates
    train→encode→store→append→compact→serve. Per-call temp dir for
    re-entrancy."""
    n = _km_base(spark, sf_dir)
    cents = _km_fit_for(spark, sf_dir)
    books = _pq_fit_for(spark, sf_dir)
    path = os.path.join(
        tempfile.mkdtemp(prefix="s_ann_ivfpq_compacted_"), "index"
    )
    is_new = F.col("vec_id") % 2 == 1
    ivfpq_index_store(ivfpq_index_build(n.filter(~is_new), cents, books), path)
    ivfpq_index_append(n.filter(is_new), cents, books, path)
    ivfpq_index_compact(spark, path)
    probe = (
        n.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("v", "vnrm", "vq")
        .collect()[0]
    )
    probe_q = [int(x) for x in probe["vq"]]
    return _ivfpq_search_stored(
        ivfpq_index_load(spark, path),
        books,
        probe_q,
        [float(x) for x in probe["v"]],
        float(probe["vnrm"]),
        _km_probe_lists(probe_q, cents, _N_PROBE),
    )


def ivfpq_drift_stats(
    idx: DataFrame, books: dict[int, list[tuple[int, list[int]]]]
) -> DataFrame:
    """Per-batch quantization-error profile of a stored IVFPQ index —
    the re-train signal the frozen-quantizer add() path
    (ivfpq_index_append) otherwise lacks: s_list_stats sees occupancy
    drift, but a distribution shift that the codebooks no longer fit
    shows up FIRST as growing reconstruction error on new batches.
    Per vector: for each subspace, the angular residual between the
    subvector and its STORED code's centroid, as the exact integer
    ``10000 - floor(10000 * cos(sq, cv_code))`` (identical-operand
    IEEE ops on both engines, so the floor is cross-engine stable —
    the s_ann_* determinism argument); summed over the 16 subspaces
    into one BIGINT per vector, then mean (integer div) and max per
    batch — integer aggregates, no float-sum order sensitivity.

    Reads only (vec_id, v, code0..15) from the index — at 100 TB this
    is a narrow columnar scan of the probed batches' partitions, one
    map-side-combinable aggregate, no joins (the codebooks ride in the
    kernel closure). An operator watches mean_err_x10000 of appended
    batches against the training batch's own value: the training
    residual is the noise floor, and a sustained climb (we flag ≥ ~2×
    in SCALE.md) says re-train the quantizers and re-encode."""
    # One numpy-kernel pass over (v, code0..15): per subspace the
    # ASSIGNED entry's cosine residual (an unknown code or zero
    # denominator yields a NULL row err, preserving the
    # n_vecs-vs-sum(err) mismatch tripwire) — see _pq_drift_err_np_col.
    return (
        idx.withColumn("err", _pq_drift_err_np_col(books))
        .select((F.col("vec_id") % 2).cast("long").alias("batch"), "err")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.expr("CAST(sum(err) div count(1) AS BIGINT)").alias(
                "mean_err_x10000"
            ),
            F.max("err").cast("long").alias("max_err_x10000"),
        )
    )


def _ivfpq_drift_oracle() -> str:
    """Shared PQ training CTEs + per-subspace residual of each vector's
    ASSIGNED centroid (the same (sim DESC, c_id) argmax the codes CTE
    uses), totalled and grouped by the vec_id%2 batch split."""
    header = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), nq2 AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vnrm,
             list_transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE)) AS vq,
             sqrt(list_dot_product(
               list_transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE)),
               list_transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE)))) AS qnrm
      FROM e
    )"""
    parts = [header, _pq_train_ctes("nq2")]
    for j in range(_PQ_M):
        parts.append(
            f""", drift{j} AS (
      SELECT k.vec_id,
             CAST(10000 - CAST(floor(10000 * (list_dot_product(s.sq, c.cv)
               / (s.sqn * sqrt(list_dot_product(c.cv, c.cv))))) AS BIGINT)
               AS BIGINT) AS err
      FROM codes{j} k
      JOIN sub{j} s USING (vec_id)
      JOIN cent{j}_{_PQ_ITERS} c ON c.c_id = k.code
    )"""
        )
    joins = " ".join(f"JOIN drift{j} USING (vec_id)" for j in range(1, _PQ_M))
    total = " + ".join(f"drift{j}.err" for j in range(_PQ_M))
    parts.append(
        f""", dt AS (
      SELECT drift0.vec_id, ({total}) AS err
      FROM drift0 {joins}
    )
    SELECT CAST(vec_id % 2 AS BIGINT) AS batch,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(CAST(sum(err) AS BIGINT) // count(*) AS BIGINT) AS mean_err_x10000,
           CAST(max(err) AS BIGINT) AS max_err_x10000
    FROM dt GROUP BY batch"""
    )
    return "".join(parts)


@query("s_ivfpq_drift", oracle=_ivfpq_drift_oracle())
def s_ivfpq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift diagnostic run the way an operator would: quantizers
    trained once, the corpus half stored (ivfpq_index_store), a second
    half APPENDED with the frozen quantizers (ivfpq_index_append — the
    add() path), then ivfpq_drift_stats over the LOADED index, stats
    per batch. The vec_id%2 split stands in for ingestion batches; on
    this stationary corpus the two batches' mean errors agree, which
    is exactly the healthy baseline reading (the test asserts the
    ratio bound, the oracle the exact integers). Gated end-to-end:
    the hash proves codes round-trip storage and the residual
    arithmetic is cross-engine exact through train→encode→store→
    append→load→diagnose. Per-call temp dir for re-entrancy like the
    other stored-index queries."""
    n = _km_base(spark, sf_dir)
    cents = _km_fit_for(spark, sf_dir)
    books = _pq_fit_for(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="s_ivfpq_drift_"), "index")
    is_new = F.col("vec_id") % 2 == 1
    ivfpq_index_store(ivfpq_index_build(n.filter(~is_new), cents, books), path)
    ivfpq_index_append(n.filter(is_new), cents, books, path)
    return ivfpq_drift_stats(ivfpq_index_load(spark, path), books)


def ivfpq_index_compact(spark: SparkSession, path: str) -> None:
    """Rewrite the stored IVFPQ index as one compact file set per
    list_id partition — the maintenance twin of lsh_postings_compact
    for the other append store: each ivfpq_index_append lands a file
    set per batch, and serving latency degrades with file count inside
    the probed partitions (footer opens dominate tiny reads). The
    repartition keys on list_id so every list lands in one task → one
    file per list directory; content is untouched, so a stored serve
    after compaction equals the pre-compaction serve exactly (pinned
    in test_round9_ops, row count re-verified before the commit) and
    the literal PartitionFilters pruning is unchanged. Generation-swap
    rewrite with an atomic manifest commit (operators/store.py) — a
    crash mid-rewrite leaves the old generation serving; same 100 TB
    file-sizing note as lsh_postings_compact."""
    _ivfpq_store(path).compact(spark)


def _ivfpq_search_stored(
    idx: DataFrame,
    books: dict[int, list[tuple[int, list[int]]]],
    probe_q: list[int],
    probe_v: list[float],
    probe_nrm: float,
    probe_lists: list[int],
) -> DataFrame:
    """IVFADC serving against the STORED index: literal list_id filter
    (partition pruning — zero non-probed bytes read), ADC from the
    stored code columns (no in-row encode — the expensive
    codebook-argmax projection of the in-plan form is gone), shortlist,
    exact re-rank against the stored raw vectors with the probe shipped
    as literals. Zero joins, zero shuffles before the bounded top-ks."""
    num_expr, cn2_expr = _pq_adc_exprs(books, probe_q)
    probe_qnrm = float(sum(x * x for x in probe_q)) ** 0.5
    adc = num_expr / (F.lit(probe_qnrm) * F.sqrt(cn2_expr))
    shortlist = (
        idx.filter(F.col("list_id").isin(probe_lists))
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", "v", "vnrm", adc.alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(_PQ_SHORTLIST)
    )
    pv = F.array(*[F.lit(float(x)) for x in probe_v])
    cos = F.expr(_DOT.format(a="v", b="pv")) / (
        F.col("vnrm") * F.lit(probe_nrm)
    )
    rescored = shortlist.withColumn("pv", pv).select(
        "vec_id", cos.alias("cos_raw")
    )
    topk = rescored.orderBy(F.desc("cos_raw"), F.asc("vec_id")).limit(_K)
    # Unpartitioned window over exactly K rows (post-limit); accepted —
    # see s_knn_bruteforce.
    w = Window.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


@query("s_ann_ivfpq_stored", oracle=_ivfpq_oracle())
def s_ann_ivfpq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s_ann_ivfpq in its DEPLOYED shape: train, encode ONCE into a
    list_id-partitioned parquet index (ivfpq_index_build/store), then
    serve entirely from storage — driver-side coarse quantization of
    the query (_km_probe_lists), the same literal list_id filter as
    the in-plan form but now a partition filter, ADC from the STORED 1-byte
    code columns (the in-row encode is gone from the serving plan), and
    the exact re-rank against stored vectors with the probe as
    literals. Shares s_ann_ivfpq's oracle: training is deterministic,
    codes/assignments round-trip parquet exactly, and every arithmetic
    step is either integer-exact or an identical-operand IEEE fold —
    so stored serving must equal in-plan serving bit-for-bit, and the
    hash gate proves the whole build→store→serve loop. Per-call temp
    dir for re-entrancy, like s_knn_graph_stored."""
    n = _km_base(spark, sf_dir)
    cents = _km_fit_for(spark, sf_dir)
    books = _pq_fit_for(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="s_ann_ivfpq_stored_"), "index")
    ivfpq_index_store(ivfpq_index_build(n, cents, books), path)
    probe = (
        n.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("v", "vnrm", "vq")
        .collect()[0]
    )
    probe_q = [int(x) for x in probe["vq"]]
    return _ivfpq_search_stored(
        ivfpq_index_load(spark, path),
        books,
        probe_q,
        [float(x) for x in probe["v"]],
        float(probe["vnrm"]),
        _km_probe_lists(probe_q, cents, _N_PROBE),
    )


# --------------------------------------------------------------------------
# KNN-graph construction — top-k neighbors for EVERY vector
# --------------------------------------------------------------------------
_K_GRAPH = 3
# Target-side cap per bucket (the house hot-bucket guard, the
# m_image_neardup / d_minhash_lsh stop-cap recipe applied to the LSH
# self-join): a bucket contributes at most this many candidate TARGETS
# (the first `cap` members by vec_id — deterministic, so the DuckDB
# oracle mirrors it exactly with a row_number QUALIFY). This bounds the
# bucket join at O(n · probes · cap) candidates TOTAL — linear in corpus
# size — where the uncapped join is quadratic within a bucket and a
# degenerate bucket (near-duplicate embedding factories, zero vectors)
# would make it the asymptotic cost of all-pairs/2^planes.
_GRAPH_BUCKET_CAP = 64
# Broadcast the capped target side of a graph-build join only while its
# STATIC row bound (buckets/lists × cap) fits comfortably: ~2^18 rows of
# 64-dim doubles ≈ 140 MB. Beyond that (corpus-scale knob settings, e.g.
# 2^20 buckets) the bound is no longer broadcastable and the list-keyed
# shuffle join is the right physical plan — the hint must not force it.
_BROADCAST_ROW_BOUND = 1 << 18


def knn_graph(
    emb: DataFrame,
    k: int = _K_GRAPH,
    n_planes: int = _N_PLANES,
    bucket_cap: int = _GRAPH_BUCKET_CAP,
    multiprobe: bool = False,
    raw_scores: bool = False,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """(src, dst, cos_sim, rank) — top-``k`` cosine neighbors for EVERY
    vector of ``emb`` (columns ``vec_id``, ``v: array<double>``), the
    batch primitive under semantic dedup, embedding clustering, and
    graph-based retrieval. Candidates come from deterministic
    random-hyperplane LSH buckets; each source scores only its probed
    bucket(s), then a per-source row_number window keeps k.

    Scale knobs (the three that matter at corpus scale):

    - ``n_planes``: buckets = 2^n_planes, expected bucket population =
      n / 2^n_planes. Choose ≈ log2(n / target_bucket_size) — e.g. a
      1e9-vector corpus targeting ~1k-vector buckets wants ~20 planes.
      The plane family is closed-form in (p, d), so raising the count
      changes no stored state.
    - ``bucket_cap``: hard per-bucket TARGET cap (first ``cap`` members
      by vec_id). Candidate volume is ≤ n · probes · cap regardless of
      skew — the guard that keeps one degenerate bucket (duplicate
      embedding factories, zero vectors) from going quadratic. Sized so
      cap ≥ the expected bucket population it only binds on hot
      buckets; vectors beyond the cap still get THEIR OWN neighbor
      lists (they stay on the probe side), they just stop being
      candidate targets.
    - ``multiprobe``: also probe the source's n_planes hamming-1
      buckets (the s_ann_lsh_multiprobe trick). Recovers the
      singleton-bucket recall gap — a vector alone in its bucket emits
      no edges without it — at ~(1 + n_planes)× the candidate volume
      and an identical plan shape (the probe side explodes; no new
      shuffle).

    Plan shape: the bucketed corpus (id, vector, norm, bucket) is
    materialized once (localCheckpoint — the target and probe branches
    would otherwise each re-scan and re-run the plane-dot bucket map);
    two shuffles regardless of corpus size — the target-cap window's
    bucket exchange and the per-src rank — plus the bucket join, which
    broadcasts the capped target side while its static 2^planes·cap
    bound fits (_BROADCAST_ROW_BOUND) and shuffle-joins beyond."""
    if n_planes < 1:
        raise ValueError(f"n_planes must be >= 1, got {n_planes}")
    if bucket_cap < 1:
        raise ValueError(f"bucket_cap must be >= 1, got {bucket_cap}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Materialize the bucketed corpus ONCE: the capped-target and probe
    # branches below otherwise each re-scan the input and re-run the
    # norm + n_planes-dot-product bucket map — the most expensive map of
    # the build, doubled (the same fix as the IVF twin's assignment
    # checkpoint). ``bucketed`` lets a composing caller (the stored
    # build→merge lifecycle) hand in an ALREADY-bucketed frame — e.g. a
    # filter over one shared corpus checkpoint — so the corpus is
    # scanned and bucket-mapped once per lifecycle instead of once per
    # stage; the bucket map is a per-row deterministic function, so
    # bucketing-then-filtering equals filtering-then-bucketing row for
    # row (r14; guide §2.4).
    if bucketed is None:
        n = _bucketed_corpus(emb, n_planes)
    else:
        n = _check_bucketed(bucketed, n_planes)
    t = _capped_targets(n, bucket_cap)
    probes = _graph_probes(n, n_planes, multiprobe)
    # no duplicate (src, dst) pairs possible: a target lives in exactly
    # one bucket and the probe masks are distinct, so at most one probe
    # bucket matches — the rank window needs no pre-distinct.
    pairs = _pair_edges(probes, t, _target_bound(n_planes, bucket_cap))
    ranked = _topk_raw(pairs, k)
    if raw_scores:
        # Merge-compatible form: keep the FULL-precision score.
        # knn_graph_merge re-ranks the stored edges against fresh batch
        # candidates; feeding it the rounded cos_sim would flip near-tie
        # ranks (two raw scores inside the same 1e-4 rounding cell
        # compare equal after rounding but not before). Store THIS
        # output (knn_graph_store) when the graph will be maintained
        # incrementally; the rounded default is the human/oracle form.
        return ranked.select("src", "dst", "cos_raw", "rank")
    return ranked.select(
        "src", "dst", F.round("cos_raw", 4).alias("cos_sim"), "rank"
    )


def _bucketed_corpus(emb: DataFrame, n_planes: int) -> DataFrame:
    """(vec_id, v, nrm, bucket) — one eager checkpoint every graph-build
    branch (target cap, probes, old/new splits) derives from. The
    ``bucket`` column carries its plane count as field metadata, which
    survives the checkpoint, filters and selects, so _check_bucketed
    can verify a ``bucketed=`` frame without a job."""
    return emb.select(
        "vec_id",
        "v",
        F.sqrt(F.expr(_DOT.format(a="v", b="v"))).alias("nrm"),
        _bucket_expr_spark(n_planes).alias(
            "bucket", metadata={"n_planes": n_planes}
        ),
    ).localCheckpoint(eager=True)


def _check_bucketed(bucketed: DataFrame, n_planes: int) -> DataFrame:
    """``bucketed`` itself, if its buckets were hashed with ``n_planes``
    planes; a frame bucketed with another count would silently probe
    the wrong buckets (and break the multiprobe masks), so it raises."""
    tag = bucketed.schema["bucket"].metadata.get("n_planes")
    if tag != n_planes:
        raise ValueError(
            f"bucketed frame has n_planes={tag}, expected {n_planes}; "
            f"build it with _bucketed_corpus(emb, {n_planes})"
        )
    return bucketed


def _capped_targets(n: DataFrame, bucket_cap: int) -> DataFrame:
    """First ``bucket_cap`` members of each bucket by vec_id — the
    deterministic hot-bucket guard (oracle-mirrored via QUALIFY)."""
    wb = Window.partitionBy("bucket").orderBy(F.asc("vec_id"))
    return (
        n.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= bucket_cap)
        .select(
            F.col("vec_id").alias("dst"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
            F.col("bucket").alias("bucket_b"),
        )
    )


def _graph_probes(n: DataFrame, n_planes: int, multiprobe: bool) -> DataFrame:
    src_cols = [
        F.col("vec_id").alias("src"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    ]
    if multiprobe:
        masks = [0] + [1 << p for p in range(n_planes)]
        return n.select(
            *src_cols,
            F.explode(
                F.array(
                    *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
                )
            ).alias("pb"),
        )
    return n.select(*src_cols, F.col("bucket").alias("pb"))


def _target_bound(n_planes: int, bucket_cap: int) -> float:
    """Static row bound of the capped target side: 2^planes · cap."""
    return (1 << n_planes) * bucket_cap if n_planes < 63 else float("inf")


def _pair_edges(probes: DataFrame, t: DataFrame, t_bound: float) -> DataFrame:
    """Bucket-keyed candidate join → (src, dst, cos_raw). The capped
    target side is statically bounded (see _target_bound) — broadcast it
    iff that bound actually fits (the checkpoint hides the bound from
    the size estimator, and an UNCONDITIONAL hint would break the
    corpus-scale knob settings, where 2^20 buckets · cap is shuffle-join
    territory)."""
    cos = F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb"))
    return (
        probes.join(
            F.broadcast(t) if t_bound <= _BROADCAST_ROW_BOUND else t,
            (F.col("pb") == F.col("bucket_b"))
            & (F.col("src") != F.col("dst")),
        )
        .select("src", "dst", cos.alias("cos_raw"))
    )


def _topk_raw(pairs: DataFrame, k: int) -> DataFrame:
    """Per-src rank over (src, dst, cos_raw); keeps rank <= k."""
    w = Window.partitionBy("src").orderBy(F.desc("cos_raw"), F.asc("dst"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_graph_merge(
    emb: DataFrame,
    is_new,
    old_graph: DataFrame | None = None,
    k: int = _K_GRAPH,
    n_planes: int = _N_PLANES,
    bucket_cap: int = _GRAPH_BUCKET_CAP,
    raw_scores: bool = False,
    multiprobe: bool = False,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL kNN-graph maintenance: merge a NEW vector batch into
    an existing graph without re-running the old×old candidate join —
    the operation a 100 TB embedding store actually performs per
    ingestion batch (a full rebuild re-pays the whole corpus's candidate
    volume for every batch; the merge pays only the edges the batch can
    change).

    ``emb``: the full corpus (old ∪ new), ``is_new``: a Column predicate
    marking the new batch, ``old_graph``: the stored top-``k`` graph
    over the OLD vectors with RAW scores — columns (src, dst, cos_raw)
    — e.g. read back from the parquet the previous build wrote. Pass
    ``None`` to have it rebuilt in-plan from the old side (the
    self-contained form the registered query uses; production passes
    the stored graph and skips that cost entirely).

    Construction: candidate pairs are exactly the bucket-join pairs that
    INVOLVE the new batch — (all probes × capped NEW targets) ∪ (new
    probes × capped ALL targets) — unioned with the old graph's edges,
    deduped on (src, dst) (max(cos_raw) — the score is identical where
    both sides produced the pair), then the standard per-src top-k.
    Candidate volume is ≤ n·(new-per-bucket, capped) + |new|·cap —
    proportional to the BATCH's bucket footprint, not the corpus's.

    Exactness: when the bucket cap does not bind, the merge equals the
    full rebuild EXACTLY — any rebuild top-k neighbor of an old source
    is either new (generated by the batch join) or old, and an old
    neighbor that survives against the union ranks at least as high
    among old-only candidates, so it is already in ``old_graph``
    (pinned in test_round3_ops). Where the cap binds, the capped target
    sets differ (old-only vs union caps) and the merge is the documented
    approximation every incremental-ANN maintenance scheme makes.

    Plan shape: one checkpointed bucket map over the corpus, the two
    batch joins (capped sides conditionally broadcast — _target_bound),
    one (src, dst) dedup aggregate, one per-src rank — every shuffle
    keyed on bucket or src exactly like the full build.

    ``raw_scores=True`` emits (src, dst, cos_raw, rank) — the form
    ``knn_graph_store`` accepts, which is what lets the ingest loop
    COMPOSE: store → merge batch → store → merge next batch, each
    iteration equal to the full rebuild while the cap doesn't bind
    (two-batch chain pinned in test_round8_ops).

    ``multiprobe`` must match the policy the OLD graph was built with —
    a graph built at multiprobe recall cannot be maintained by
    single-probe merges (batch edges reachable only through hamming-1
    buckets would be silently missed, degrading recall batch over
    batch). With matching policies the merge-equals-rebuild exactness
    argument holds per (probe-bucket, target) pair, so the contract
    carries over unchanged (pinned in test_round8_ops). Within one leg
    a (src, dst) still can't repeat (a target lives in one bucket and
    the probe masks are distinct — the knn_graph argument); across the
    two batch legs the existing max(cos_raw) dedup already absorbs the
    overlap either way."""
    if bucket_cap < 1:
        raise ValueError(f"bucket_cap must be >= 1, got {bucket_cap}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # ``bucketed``: the knn_graph escape hatch — reuse a caller-shared
    # bucketed-corpus checkpoint instead of re-scanning + re-bucketing
    if bucketed is None:
        n = _bucketed_corpus(emb, n_planes)
    else:
        n = _check_bucketed(bucketed, n_planes)
    new_n = n.filter(is_new)
    t_bound = _target_bound(n_planes, bucket_cap)
    if old_graph is None:
        old_n = n.filter(~is_new)
        old_pairs = _pair_edges(
            _graph_probes(old_n, n_planes, multiprobe),
            _capped_targets(old_n, bucket_cap),
            t_bound,
        )
        old_graph = _topk_raw(old_pairs, k).select("src", "dst", "cos_raw")
    cand_new_dst = _pair_edges(
        _graph_probes(n, n_planes, multiprobe),
        _capped_targets(new_n, bucket_cap),
        t_bound,
    )
    cand_new_src = _pair_edges(
        _graph_probes(new_n, n_planes, multiprobe),
        _capped_targets(n, bucket_cap),
        t_bound,
    )
    merged = (
        old_graph.select("src", "dst", "cos_raw")
        .unionByName(cand_new_dst)
        .unionByName(cand_new_src)
        .groupBy("src", "dst")
        .agg(F.max("cos_raw").alias("cos_raw"))
    )
    ranked = _topk_raw(merged, k)
    if raw_scores:
        # Merge-compatible output — REQUIRED for the loop to compose:
        # the next ingest batch stores THIS graph and merges against it
        # (store → merge → store → merge ... equals the full rebuild
        # while the cap doesn't bind; pinned across two batches in
        # test_round8_ops). Without it the rounded output dead-ends the
        # chain after one batch — the same near-tie hazard
        # knn_graph_store rejects.
        return ranked.select("src", "dst", "cos_raw", "rank")
    return ranked.select(
        "src", "dst", F.round("cos_raw", 4).alias("cos_sim"), "rank"
    )


_GRAPH_STORE_COLS = ("src", "dst", "cos_raw")


def knn_graph_store(graph: DataFrame, path: str) -> None:
    """Persist a kNN graph in the MERGE-COMPATIBLE form: (src, dst,
    cos_raw) parquet, full-precision scores.

    This is the missing half of the incremental-maintenance contract:
    ``knn_graph_merge`` requires RAW scores in ``old_graph``, but
    ``knn_graph``'s default output rounds to 4 decimals — a user who
    wrote THAT to parquet and fed it back would hit near-tie rank flips
    the next merge. Build with ``knn_graph(..., raw_scores=True)`` and
    store through here; the rounded form is rejected loudly instead of
    corrupting ranks silently. Generation-versioned snapshot
    (operators/store.py): the merge→re-store maintenance cycle
    (s_knn_graph_incremental's loop) rewrites the WHOLE graph each
    pass, and the atomic replace means a crash mid-rewrite never loses
    the serving graph — under the old plain ``mode("overwrite")`` the
    previous graph was deleted before the new one existed. At corpus
    scale, partition the write by a src prefix upstream if the graph
    itself is 100 TB-class."""
    missing = [c for c in _GRAPH_STORE_COLS if c not in graph.columns]
    if missing:
        raise ValueError(
            f"knn_graph_store: graph is missing {missing}; build it with "
            "knn_graph(..., raw_scores=True) — the rounded cos_sim form "
            "is not merge-safe (near-tie ranks flip on re-merge)"
        )
    _knn_graph_gen_store(path).create({"": graph})


def _knn_graph_gen_store(path: str) -> GenStore:
    return GenStore(path, [TableSpec(name="", columns=_GRAPH_STORE_COLS)])


def knn_graph_load(spark: SparkSession, path: str) -> DataFrame:
    """Read a graph written by ``knn_graph_store`` back in the exact
    shape ``knn_graph_merge(old_graph=...)`` consumes."""
    return _knn_graph_gen_store(path).load(spark)[""]


def _knn_graph_oracle(multiprobe: bool) -> str:
    probes = (
        f"""probes AS (
      SELECT n.vec_id AS src, n.v AS va, n.nrm AS na,
             xor(n.bucket, m.m) AS pb
      FROM n CROSS JOIN (VALUES {", ".join(f"({m})" for m in _MP_MASKS)}) m(m)
    )"""
        if multiprobe
        else """probes AS (
      SELECT vec_id AS src, v AS va, nrm AS na, bucket AS pb FROM n
    )"""
    )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
             {_bucket_sql_duck()} AS bucket
      FROM e
    ),
    t AS (
      SELECT vec_id, v, nrm, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
               AS rn
      FROM n QUALIFY rn <= {_GRAPH_BUCKET_CAP}
    ),
    {probes},
    pairs AS (
      SELECT p.src, t.vec_id AS dst,
             list_dot_product(p.va, t.v) / (p.na * t.nrm) AS cos_raw
      FROM probes p JOIN t
        ON t.bucket = p.pb AND t.vec_id <> p.src
    )
    SELECT src, dst, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (PARTITION BY src
                              ORDER BY cos_raw DESC, dst ASC) AS rank
    FROM pairs
    QUALIFY rank <= {_K_GRAPH}
    """


@query("s_knn_graph", oracle=_knn_graph_oracle(multiprobe=False))
def s_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN-GRAPH construction over the corpus — ``knn_graph`` (see its
    docstring for the scale knobs) at the registered defaults: 8
    planes, per-bucket target cap 64, single-probe. Vectors alone in
    their bucket emit no edges (documented sparsity — see
    s_knn_graph_multiprobe for the recall-recovering variant).
    Ranking runs on raw doubles (bit-identical), rounding on output."""
    return knn_graph(_emb_double(spark, sf_dir))


@query("s_knn_graph_multiprobe", oracle=_knn_graph_oracle(multiprobe=True))
def s_knn_graph_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s_knn_graph with 1-bit multi-probe: every source also probes its
    8 hamming-1 buckets, recovering the singleton-bucket recall gap
    (recall vs the exact all-pairs graph is pinned in
    test_round3_ops) at ~9× the candidate volume — same plan shape,
    same per-bucket target cap, no new shuffle."""
    return knn_graph(_emb_double(spark, sf_dir), multiprobe=True)


def _knn_graph_ivf_oracle() -> str:
    ctes, cent = _km_train_ctes()
    return f"""{ctes}, t AS (
      SELECT vec_id, v, vnrm, list_id,
             row_number() OVER (PARTITION BY list_id ORDER BY vec_id)
               AS rn
      FROM asgF QUALIFY rn <= {_GRAPH_BUCKET_CAP}
    ), plists AS (
      SELECT nq.vec_id AS src, nq.v AS va, nq.vnrm AS na, c.c_id AS pl,
             row_number() OVER (
               PARTITION BY nq.vec_id
               ORDER BY list_dot_product(nq.vq, c.cv)
                        / (nq.qnrm * sqrt(list_dot_product(c.cv, c.cv)))
                        DESC, c.c_id ASC) AS pr
      FROM nq CROSS JOIN {cent} c
      QUALIFY pr <= {_N_PROBE}
    ), pairs AS (
      SELECT p.src, t.vec_id AS dst,
             list_dot_product(p.va, t.v) / (p.na * t.vnrm) AS cos_raw
      FROM plists p JOIN t ON t.list_id = p.pl AND t.vec_id <> p.src
    )
    SELECT src, dst, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (PARTITION BY src
                              ORDER BY cos_raw DESC, dst ASC) AS rank
    FROM pairs
    QUALIFY rank <= {_K_GRAPH}
    """


@query("s_knn_graph_ivf", oracle=_knn_graph_ivf_oracle())
def s_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph build over LEARNED inverted lists: the s_knn_graph
    construction with the deterministic k-means lists of
    s_ann_ivf_kmeans instead of random hyperplane buckets — the
    data-ADAPTIVE variant. Random planes split space uniformly, so a
    clustered corpus concentrates in few buckets; k-means lists follow
    the density, and each source probes its _N_PROBE nearest lists
    (the IVF search rule applied to the batch graph build), which
    recovers the list-boundary recall the single-assignment join
    loses. Same scale guards as knn_graph: per-list target cap (first
    cap members by vec_id, oracle-mirrored) bounds candidates at
    n·nprobe·cap; the capped target side is ≤ n_centroids·cap rows and
    broadcasts while that bound fits _BROADCAST_ROW_BOUND (beyond it —
    the √n-centroid regime — the list-keyed shuffle join takes over
    rather than forcing an over-limit broadcast). Centroid count is the
    scale knob (≈ √n at corpus
    scale — 16 here is the test-scale codebook): it sets both list
    granularity and the parallelism of the cap window's list-keyed
    shuffle, so at 100 TB raise it with the corpus the same way
    n_planes scales for the LSH variant. Training cost is independent
    of table size (broadcast assignment passes + a (k·dim)-row
    driver aggregate per round — the bounded collect documented in
    _km_fit)."""
    n = _km_base(spark, sf_dir)
    return _knn_graph_ivf_build(n, _km_fit_for(spark, sf_dir))


def _knn_graph_ivf_build(
    n: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """The graph-build phase of s_knn_graph_ivf against already-fitted
    centroids — factored so bench.py times the one-per-index k-means
    training separately from the per-batch graph construction."""
    # Materialize the per-vector probe lists ONCE. `t` and `probes` are
    # two branches over the same corpus, and without this checkpoint each
    # branch re-evaluates the k-dot-product assignment — the most
    # expensive map of the build (k ≈ √n centroid dots per row at corpus
    # scale) — plus a second full scan. This is the cluster-scale "write
    # assignments, then join" IVF shape. Both consumers read only the
    # list ids (_km_probe_ids_np_col); pls[0] is the row's own list.
    asg = n.select(
        "vec_id",
        "v",
        "vnrm",
        _km_probe_ids_np_col(cents, _N_PROBE).alias("pls"),
    ).localCheckpoint(eager=True)
    wl = Window.partitionBy("list_b").orderBy(F.asc("dst"))
    t = (
        asg.select(
            F.col("vec_id").alias("dst"),
            F.col("v").alias("vb"),
            F.col("vnrm").alias("nb"),
            F.col("pls")[0].alias("list_b"),
        )
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") <= _GRAPH_BUCKET_CAP)
        .drop("rn")
    )
    probes = asg.select(
        F.col("vec_id").alias("src"),
        F.col("v").alias("va"),
        F.col("vnrm").alias("na"),
        F.explode("pls").alias("pl"),
    ).select("src", "va", "na", "pl")
    cos = F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb"))
    # no duplicate (src, dst): a target lives in exactly one list, the
    # probe lists are distinct — at most one probe matches.
    # The capped target side is statically bounded at n_centroids·cap
    # rows, a bound the checkpoint hides from the size estimator (a
    # LogicalRDD defaults to "huge") — broadcast iff it actually fits:
    # at the corpus-scale recipe (k ≈ √n centroids) the bound outgrows
    # any broadcast and the list-keyed shuffle join takes over.
    t_bound = _N_CENTROIDS * _GRAPH_BUCKET_CAP
    pairs = (
        probes.join(
            F.broadcast(t) if t_bound <= _BROADCAST_ROW_BOUND else t,
            (F.col("pl") == F.col("list_b")) & (F.col("src") != F.col("dst")),
        )
        .select("src", "dst", cos.alias("cos_raw"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_raw"), F.asc("dst"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K_GRAPH)
        .select("src", "dst", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# --------------------------------------------------------------------------
# Incremental kNN-graph maintenance (merge a new batch into the graph)
# --------------------------------------------------------------------------
_INCR_MOD = 8  # new batch = vec_id % _INCR_MOD == 0 (deterministic 1/8)


def _knn_graph_incr_oracle() -> str:
    cap, k, m = _GRAPH_BUCKET_CAP, _K_GRAPH, _INCR_MOD
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
             {_bucket_sql_duck()} AS bucket
      FROM e
    ),
    old AS (SELECT * FROM n WHERE vec_id % {m} <> 0),
    nw  AS (SELECT * FROM n WHERE vec_id % {m} = 0),
    tOld AS (
      SELECT vec_id, v, nrm, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
      FROM old QUALIFY rn <= {cap}
    ),
    gOld AS (
      SELECT p.vec_id AS src, t.vec_id AS dst,
             list_dot_product(p.v, t.v) / (p.nrm * t.nrm) AS cos_raw,
             row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY list_dot_product(p.v, t.v) / (p.nrm * t.nrm) DESC,
                        t.vec_id ASC) AS rk
      FROM old p JOIN tOld t
        ON t.bucket = p.bucket AND t.vec_id <> p.vec_id
      QUALIFY rk <= {k}
    ),
    tNew AS (
      SELECT vec_id, v, nrm, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
      FROM nw QUALIFY rn <= {cap}
    ),
    tAll AS (
      SELECT vec_id, v, nrm, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
      FROM n QUALIFY rn <= {cap}
    ),
    candA AS (
      SELECT p.vec_id AS src, t.vec_id AS dst,
             list_dot_product(p.v, t.v) / (p.nrm * t.nrm) AS cos_raw
      FROM n p JOIN tNew t
        ON t.bucket = p.bucket AND t.vec_id <> p.vec_id
    ),
    candB AS (
      SELECT p.vec_id AS src, t.vec_id AS dst,
             list_dot_product(p.v, t.v) / (p.nrm * t.nrm) AS cos_raw
      FROM nw p JOIN tAll t
        ON t.bucket = p.bucket AND t.vec_id <> p.vec_id
    ),
    merged AS (
      SELECT src, dst, max(cos_raw) AS cos_raw FROM (
        SELECT src, dst, cos_raw FROM gOld
        UNION ALL SELECT src, dst, cos_raw FROM candA
        UNION ALL SELECT src, dst, cos_raw FROM candB
      ) u GROUP BY 1, 2
    )
    SELECT src, dst, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (PARTITION BY src
                              ORDER BY cos_raw DESC, dst ASC) AS rank
    FROM merged
    QUALIFY rank <= {k}
    """


@query("s_knn_graph_incr", oracle=_knn_graph_incr_oracle())
def s_knn_graph_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL kNN-graph maintenance — ``knn_graph_merge`` with the
    new batch = vec_id % {m} == 0 and the old graph rebuilt in-plan
    (registered queries are stateless; production reads the stored
    graph instead and pays only the batch joins — candidate volume
    proportional to the BATCH's bucket footprint, not the corpus's).
    Merge == full rebuild exactly while the bucket cap doesn't bind
    (pinned in test_round3_ops); same knobs and plan shape as
    knn_graph."""
    emb = _emb_double(spark, sf_dir)
    return knn_graph_merge(emb, F.col("vec_id") % _INCR_MOD == 0)


s_knn_graph_incr.__doc__ = s_knn_graph_incr.__doc__.format(m=_INCR_MOD)


@query("s_knn_graph_stored", oracle=_knn_graph_incr_oracle())
def s_knn_graph_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED-GRAPH incremental path, end-to-end: build the old-side
    graph with raw scores, persist it (knn_graph_store → parquet), read
    it back (knn_graph_load), and merge the new batch against the
    STORED frame — the exact sequence a production ingestion pipeline
    runs per batch, where s_knn_graph_incr's in-plan rebuild is the
    stateless stand-in. Same oracle as s_knn_graph_incr: the stored
    old graph round-trips full-precision doubles exactly (parquet is
    IEEE-754-lossless), so store→load→merge must equal the in-plan
    merge bit-for-bit — which is precisely the near-tie hazard gate:
    had the rounded cos_sim been stored instead, ranks would flip and
    the hash would catch it. The write lands in a per-call temp dir
    (registered queries are re-entrant; a fixed path would race
    concurrent sweeps)."""
    emb = _emb_double(spark, sf_dir)
    is_new = F.col("vec_id") % _INCR_MOD == 0
    # ONE bucketed-corpus checkpoint for the whole lifecycle: the old
    # build consumes a filter over it, the merge consumes it whole —
    # r13 paid the corpus scan + norm/bucket map + checkpoint twice
    # (once inside knn_graph on the old side, once inside
    # knn_graph_merge on the full corpus). Bucketing is per-row
    # deterministic, so filter-after-bucket equals bucket-after-filter
    # row for row and the stored bytes are identical (oracle-hash
    # pinned).
    n = _bucketed_corpus(emb, _N_PLANES)
    old = knn_graph(emb, raw_scores=True, bucketed=n.filter(~is_new))
    path = os.path.join(
        tempfile.mkdtemp(prefix="s_knn_graph_stored_"), "graph"
    )
    knn_graph_store(old, path)
    return knn_graph_merge(
        emb, is_new, old_graph=knn_graph_load(spark, path), bucketed=n
    )


# --------------------------------------------------------------------------
# Per-dimension embedding distribution profile
# --------------------------------------------------------------------------
@query(
    "s_dim_profile",
    oracle=f"""
    WITH el AS (
      SELECT i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               AS e6
      FROM embeddings, (SELECT unnest(range(1, {_DIM + 1})) AS i)
    )
    SELECT dim, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(e6) AS BIGINT) AS sum_e6,
           CAST(min(e6) AS BIGINT) AS min_e6,
           CAST(max(e6) AS BIGINT) AS max_e6
    FROM el GROUP BY 1
    """,
)
def s_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution profile (n/sum/min/max) —
    the feature-drift check a training pipeline runs before trusting a
    new embedding batch. Elements are fixed-pointed via floor(x·1e6):
    ``floor`` of the identical double is engine-exact where ``round``
    is not (Spark rounds the shortest decimal repr, DuckDB the binary
    value), and bigint sums are order-independent where double sums are
    not. posexplode keys the one shuffle on the dimension index — 64
    perfectly balanced groups; map-side partial aggregation collapses
    the explosion before it moves."""
    emb = _emb_double(spark, sf_dir)
    el = emb.select(
        F.posexplode("v").alias("dim", "x")
    ).select("dim", F.expr("CAST(floor(x * 1000000) AS BIGINT)").alias("e6"))
    return el.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("e6").alias("sum_e6"),
        F.min("e6").alias("min_e6"),
        F.max("e6").alias("max_e6"),
    )


# --------------------------------------------------------------------------
# Batched KNN — top-k for a SET of probe vectors in one scan
# --------------------------------------------------------------------------
_BATCH_PROBES = (0, 7, 42, 99, 123)


@query(
    "s_knn_batch",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), probes AS (
      SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm FROM n
      WHERE vec_id IN {_BATCH_PROBES}
    ), scored AS (
      SELECT p.probe_id, n.vec_id,
             list_dot_product(n.v, p.pv) / (n.nrm * p.pnrm) AS cos_raw
      FROM n CROSS JOIN probes p
      WHERE n.vec_id <> p.probe_id
    )
    SELECT probe_id, vec_id, round(cos_raw, 4) AS cos_sim,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY cos_raw DESC, vec_id ASC) AS rank
    FROM scored
    QUALIFY rank <= {_K}
    """,
)
def s_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED exact KNN: top-k for a whole set of probe vectors in ONE
    corpus scan — the retrieval-serving shape (a probe-at-a-time loop
    rescans the corpus per query; the batch amortizes the scan across
    all of them). The probe set broadcasts (bounded: requests-per-batch,
    never corpus-sized), every corpus row scores against all probes
    map-side, and a per-probe rank window keeps k — the one shuffle is
    keyed on probe_id, i.e. width = batch size. Scale: corpus-scan cost
    is paid once per BATCH instead of once per QUERY; combine with the
    LSH/IVF bucket filters for sublinear scans when the batch is small.
    """
    n = _emb_double(spark, sf_dir).withColumn(
        "nrm", F.sqrt(F.expr(_DOT.format(a="v", b="v")))
    )
    probes = (
        n.filter(F.col("vec_id").isin(*_BATCH_PROBES))
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("nrm").alias("pnrm"),
        )
    )
    cos = F.expr(_DOT.format(a="v", b="pv")) / (F.col("nrm") * F.col("pnrm"))
    scored = (
        n.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", cos.alias("cos_raw"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
        .select("probe_id", "vec_id", F.round("cos_raw", 4).alias("cos_sim"), "rank")
    )


# --------------------------------------------------------------------------
# LSH bucket-occupancy diagnostic
# --------------------------------------------------------------------------
@query(
    "s_bucket_stats",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT vec_id, {_bucket_sql_duck()} AS bucket FROM e
    ), occ AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1)
    SELECT CAST(CASE WHEN n = 1 THEN 0
                     WHEN n <= 2 THEN 1
                     WHEN n <= 4 THEN 2
                     WHEN n <= 8 THEN 3
                     WHEN n <= 16 THEN 4
                     ELSE 5 END AS BIGINT) AS occupancy_bucket,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n) AS BIGINT) AS n_vectors,
           CAST(max(n) AS BIGINT) AS max_occupancy
    FROM occ GROUP BY 1
    """,
)
def s_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy histogram (power-of-two bands over bucket
    sizes) — the ANN capacity diagnostic: probe cost is the PROBED
    bucket's size, so the tail of this histogram IS the worst-case
    latency, and a fat tail says add planes (split buckets) or
    multi-probe smaller ones. Integer CASE bands (the
    d_shingle_df_histogram rule — no float log); one bucket-keyed
    aggregate over per-row bucket ids computed at scan, then a 6-row
    roll-up."""
    b = _emb_double(spark, sf_dir).select(
        "vec_id", _bucket_expr_spark().alias("bucket")
    )
    occ = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    band = (
        F.when(F.col("n") == 1, 0)
        .when(F.col("n") <= 2, 1)
        .when(F.col("n") <= 4, 2)
        .when(F.col("n") <= 8, 3)
        .when(F.col("n") <= 16, 4)
        .otherwise(5)
        .cast("bigint")
    )
    return occ.groupBy(band.alias("occupancy_bucket")).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n").alias("n_vectors"),
        F.max("n").cast("bigint").alias("max_occupancy"),
    )


def _list_stats_oracle() -> str:
    ctes, _ = _km_train_ctes()
    return f"""{ctes}
    SELECT list_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id,
           CAST(max(vec_id) AS BIGINT) AS max_vec_id
    FROM asgF GROUP BY 1
    """


@query("s_list_stats", oracle=_list_stats_oracle())
def s_list_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list-occupancy profile — the capacity diagnostic for the
    LEARNED-list path (s_ann_ivf_kmeans / s_knn_graph_ivf), the twin of
    s_bucket_stats for random-plane buckets. Probe cost is the probed
    LIST's size, so this table's tail is the worst-case latency and the
    direct input to sizing the per-list cap and the centroid count: a
    fat list says raise n_centroids (split lists), an empty one says
    the codebook over-fits a sparse region. With only n_centroids rows
    out, it reports exact per-list occupancy (no histogram roll-up
    needed — the list count is the bounded dimension). One in-row
    broadcast assignment pass + one aggregate keyed on list_id."""
    n = _km_base(spark, sf_dir)
    asg = n.select(
        "vec_id", _km_assign_np_col(_km_fit_for(spark, sf_dir)).alias("list_id")
    )
    return asg.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


# --------------------------------------------------------------------------
# Embedding QA — centroid-distance outliers with integer-exact arithmetic
# --------------------------------------------------------------------------
@query(
    "s_centroid_outliers",
    oracle="""
    WITH q AS (
      SELECT vec_id, label, dim,
             CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000) AS BIGINT)
               AS qc
      FROM embeddings, (SELECT unnest(range(1, 65)) AS dim)
    ),
    cent AS (
      SELECT label, dim, CAST(sum(qc) AS BIGINT) AS s
      FROM q GROUP BY label, dim
    ),
    dots AS (
      SELECT q.vec_id, q.label,
             CAST(sum(q.qc * c.s) // 1000000 AS BIGINT) AS milli
      FROM q JOIN cent c USING (label, dim)
      GROUP BY q.vec_id, q.label
    ),
    stats AS (
      -- moments stay HUGEINT: m*sxx overflows BIGINT past ~1e5-row
      -- labels (caught by the r11 sf1 sweep); the milli*milli PRODUCT
      -- must itself be HUGEINT — DuckDB multiplies BIGINTs in INT64
      -- BEFORE sum() widens, overflowing at |milli| ~ 3e9 (labels only
      -- a few times sf1 scale). m is widened too so m*milli / m*sxx
      -- downstream never touch INT64. Only OUTPUT columns are
      -- narrowed, per the no-widened-outputs lint.
      SELECT label,
             CAST(count(*) AS HUGEINT) AS m,
             sum(CAST(milli AS HUGEINT)) AS sx,
             sum(CAST(milli AS HUGEINT) * milli) AS sxx
      FROM dots GROUP BY label
    )
    SELECT d.vec_id, d.label, d.milli AS centroid_dot_milli,
           round(CAST(m * milli - sx AS DOUBLE)
                 / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)), 3) AS zscore
    FROM dots d JOIN stats USING (label)
    WHERE (m * milli - sx) * (m * milli - sx) > 4 * (m * sxx - sx * sx)
          AND m * sxx > sx * sx
    """,
)
def s_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: vectors whose alignment with their LABEL CENTROID
    is more than 2 population standard deviations below/above the
    group mean — catches mislabeled or off-manifold vectors before
    they poison a cosine index (the norm variant is vacuous here: the
    shipped embeddings are unit-normalized, so norm dispersion is
    exactly zero).

    Determinism layering: coordinates quantize to micro-unit BIGINTs,
    the centroid is the exact INTEGER coordinate sum (no float mean —
    a parallel double mean would be partition-order-dependent), each
    vector's centroid dot product is an exact integer (descaled to
    milli-units), and the 2-sigma screen cross-multiplies into pure
    integer arithmetic (same pattern as e_anomaly_days /
    a_corr_regression).

    Scale shape: the exploded (vec, dim) join keys on (label, dim)
    against a centroid dim whose cardinality is labels x 64 —
    broadcast-sized at any corpus scale — then two
    map-side-combinable groupBys (per-vector dot, per-label moments).
    Overflow: qc ~ 1e6, s ~ n_label x 1e6, so sum(qc*s) holds to
    ~1e5 vectors per label in BIGINT before the dot descaling (beyond
    that quantize at 1e4); the per-label MOMENTS (m*sxx ~ m^3 x 1e12)
    pass BIGINT far sooner — the r11 sf1 sweep caught m=1990
    overflowing — so they are carried in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB), with the DuckDB products (milli*milli, m*milli,
    m*sxx) explicitly pre-widened because DuckDB multiplies BIGINTs in
    INT64 BEFORE sum() widens (r12 ADVICE fix; |milli| ~ 2e9 already
    at sf1). Headroom with 38-digit carriers, unit vectors (milli <~
    1e6*m by Cauchy-Schwarz): the moments themselves (~1e12*m^3) hold
    to ~4e8-row labels, but the cross-multiplied 2-sigma screen is
    m^4-order (dev^2 ~ 4e12*m^4), so the binding limit is ~1e6-row
    labels — beyond that re-quantize milli to coarser units (each
    10x unit coarsening buys ~3x label headroom). Outputs still
    BIGINT/DOUBLE."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.explode(F.sequence(F.lit(1), F.lit(64))).alias("dim"),
        "embedding",
    ).select(
        "vec_id",
        "label",
        "dim",
        F.expr(
            "CAST(round(CAST(element_at(embedding, dim) AS DOUBLE)"
            " * 1000000) AS BIGINT)"
        ).alias("qc"),
    )
    cent = q.groupBy("label", "dim").agg(F.sum("qc").alias("s"))
    dots = (
        q.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.expr("CAST(sum(qc * s) div 1000000 AS BIGINT)").alias("milli")
        )
    )
    # moment arithmetic in DECIMAL(38,0): milli ~ 1e6 * n_label, so
    # m*sxx passes BIGINT's 9.2e18 at ~1e5-row labels (the r11 sf1
    # sweep caught exactly that); decimal38 holds the m^4-order screen
    # to ~1e6-row labels (see docstring for the derivation). The
    # VALUES are unchanged — same exact integers, wider carrier — so
    # the sf0.01/sf0.1 gate hashes are identical.
    mdec = F.col("milli").cast("decimal(38,0)")
    stats = dots.groupBy("label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum(mdec).alias("sx"),
        F.sum(mdec * mdec).alias("sxx"),
    )
    dev = F.col("m") * F.col("milli").cast("decimal(38,0)") - F.col("sx")
    var_num = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        dots.join(F.broadcast(stats), "label")
        .filter((dev * dev > 4 * var_num) & (var_num > 0))
        .select(
            "vec_id",
            "label",
            F.col("milli").alias("centroid_dot_milli"),
            F.round(
                dev.cast("double") / F.sqrt(var_num.cast("double")), 3
            ).alias("zscore"),
        )
    )


# --------------------------------------------------------------------------
# Hybrid retrieval — BM25 lexical candidates re-ranked with embeddings,
# fused by Reciprocal Rank Fusion (integer-exact)
# --------------------------------------------------------------------------
_HS_CAND = 50
_HS_TOPN = 10
_HS_RRF_K = 60


def _hybrid_oracle() -> str:
    from olympic_athletes_etl_spark.plans.textstats import _BM25_CTES_DUCK

    return f"""
    WITH {_BM25_CTES_DUCK},
    bm AS (
      SELECT doc_id, score_x1000 FROM bm_scored
      ORDER BY score_x1000 DESC, doc_id
      LIMIT {_HS_CAND}
    ),
    br AS (
      SELECT doc_id, score_x1000,
             row_number() OVER (ORDER BY score_x1000 DESC, doc_id)
               AS bm_rank
      FROM bm
    ),
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ),
    q AS (SELECT v, nrm FROM n WHERE vec_id = {_QUERY_VEC_ID}),
    ce AS (
      SELECT br.doc_id, br.bm_rank,
             list_dot_product(n.v, q.v) / (n.nrm * q.nrm) AS cos_raw
      FROM br JOIN n ON n.vec_id = br.doc_id CROSS JOIN q
    ),
    cr AS (
      SELECT doc_id, bm_rank,
             row_number() OVER (ORDER BY cos_raw DESC, doc_id) AS cos_rank
      FROM ce
    )
    SELECT doc_id,
           CAST(bm_rank AS BIGINT) AS bm25_rank,
           CAST(cos_rank AS BIGINT) AS cos_rank,
           CAST(1000000 // ({_HS_RRF_K} + bm_rank)
                + 1000000 // ({_HS_RRF_K} + cos_rank) AS BIGINT)
             AS rrf_x1e6
    FROM cr
    ORDER BY rrf_x1e6 DESC, doc_id
    LIMIT {_HS_TOPN}
    """


@query("s_hybrid_search", oracle=_hybrid_oracle())
def s_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the RAG-stack workhorse: lexical BM25
    generates 50 candidates (integer-exact scorer shared with
    t_bm25_rank), each candidate's embedding (vec_id == doc_id in the
    testdata contract) is re-scored by cosine against the fixed query
    vector, and the two rankings fuse by RECIPROCAL RANK FUSION —
    floor(1e6/(60+r_bm25)) + floor(1e6/(60+r_cos)), the
    Cormack-Clarke-Buettcher formula in exact integer form, so the
    fused score hash-matches across engines even though the cosine leg
    is float (only its RANK enters the fusion — rank computed on the
    raw double, bit-identical in both engines, ties broken by doc_id).

    Scale shape: the candidate set caps every downstream stage — the
    embedding join touches {50} rows (semi-join pushdown against the
    vector table), both row_number windows range over the bounded
    candidate frame (never corpus rows), and the final top-10 is
    TakeOrderedAndProject. This is the textbook two-tower serving
    plan: cheap lexical recall wide, expensive vector precision narrow."""
    from olympic_athletes_etl_spark.plans.textstats import bm25_scores

    bm = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.desc("score_x1000"), "doc_id")
        .limit(_HS_CAND)
    )
    br = bm.withColumn(
        "bm_rank",
        F.row_number().over(
            Window.orderBy(F.desc("score_x1000"), "doc_id")
        ),
    )
    n = _emb_double(spark, sf_dir).withColumn(
        "nrm", F.sqrt(F.expr(_DOT.format(a="v", b="v")))
    )
    q = n.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cos = F.expr(_DOT.format(a="v", b="qv")) / (F.col("nrm") * F.col("qnrm"))
    ce = (
        br.join(n, br["doc_id"] == n["vec_id"])
        .crossJoin(F.broadcast(q))
        .select("doc_id", "bm_rank", cos.alias("cos_raw"))
    )
    cr = ce.withColumn(
        "cos_rank",
        F.row_number().over(Window.orderBy(F.desc("cos_raw"), "doc_id")),
    )
    return (
        cr.select(
            "doc_id",
            F.col("bm_rank").cast("long").alias("bm25_rank"),
            F.col("cos_rank").cast("long").alias("cos_rank"),
            F.expr(
                f"CAST(1000000 div ({_HS_RRF_K} + bm_rank)"
                f" + 1000000 div ({_HS_RRF_K} + cos_rank) AS BIGINT)"
            ).alias("rrf_x1e6"),
        )
        .orderBy(F.desc("rrf_x1e6"), "doc_id")
        .limit(_HS_TOPN)
    )


# --------------------------------------------------------------------------
# Retrieval evaluation — MRR and precision@k with label-match relevance
# --------------------------------------------------------------------------
_EVAL_PROBE_MOD = 50


@query(
    "s_retrieval_eval",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), probes AS (
      SELECT vec_id AS probe_id, label AS p_label, v AS pv, nrm AS pnrm
      FROM n WHERE vec_id % {_EVAL_PROBE_MOD} = 0
    ), ranked AS (
      SELECT p.probe_id, p.p_label, n.label,
             row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY list_dot_product(n.v, p.pv) / (n.nrm * p.pnrm) DESC,
                        n.vec_id ASC) AS rank
      FROM n CROSS JOIN probes p
      WHERE n.vec_id <> p.probe_id
      QUALIFY rank <= {_K}
    ), per_probe AS (
      SELECT probe_id,
             coalesce(min(CASE WHEN label = p_label THEN rank END), 0)
               AS first_rel,
             CAST(sum(CASE WHEN label = p_label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel
      FROM ranked GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN first_rel > 0
                         THEN 10000 // first_rel ELSE 0 END)
                // count(*) AS BIGINT) AS mrr_x10000,
           CAST((10000 * sum(n_rel)) // (count(*) * {_K}) AS BIGINT)
             AS p_at_{_K}_x10000
    FROM per_probe
    """,
)
def s_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL EVALUATION: MRR and precision@{k} of exact cosine
    top-{k} retrieval, with relevance = 'neighbor shares the probe's
    label' — the standing quality gate every ANN variant in this
    registry (LSH, IVF, PQ) is tuned against. Reciprocal ranks are
    x10000 INTEGER divisions per probe (a float 1/rank sum would make
    the aggregate order-dependent); probes with no relevant neighbor
    in the top-{k} contribute 0, not NULL-skipped — silently dropping
    misses is the classic way eval dashboards flatter themselves.

    Probe set = vec_id % {m} == 0 (deterministic, no RNG); corpus scan
    cost is probes×corpus map-side like s_knn_batch, the one shuffle
    keys on probe_id. Production pins an ABSOLUTE probe-sample size so
    eval cost stays flat as the corpus grows; the modulo form here
    keeps the driver row non-vacuous at every SF."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    n = emb.withColumn("nrm", F.sqrt(F.expr(_DOT.format(a="v", b="v"))))
    probes = n.filter(F.col("vec_id") % _EVAL_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("p_label"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pnrm"),
    )
    cos = F.expr(_DOT.format(a="v", b="pv")) / (F.col("nrm") * F.col("pnrm"))
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_raw"), F.asc("vec_id")
    )
    ranked = (
        n.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "p_label",
            "label",
            "vec_id",
            cos.alias("cos_raw"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
    )
    per_probe = ranked.groupBy("probe_id").agg(
        F.coalesce(
            F.min(
                F.when(F.col("label") == F.col("p_label"), F.col("rank"))
            ),
            F.lit(0),
        ).alias("first_rel"),
        F.sum(
            F.when(F.col("label") == F.col("p_label"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_rel"),
    )
    return per_probe.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.expr(
            "CAST(sum(CASE WHEN first_rel > 0 THEN 10000 div first_rel"
            " ELSE 0 END) div count(*) AS BIGINT)"
        ).alias("mrr_x10000"),
        F.expr(
            f"CAST((10000 * sum(n_rel)) div (count(*) * {_K}) AS BIGINT)"
        ).alias(f"p_at_{_K}_x10000"),
    )


s_retrieval_eval.__doc__ = s_retrieval_eval.__doc__.format(
    k=_K, m=_EVAL_PROBE_MOD
)


# --------------------------------------------------------------------------
# kNN-graph recall evaluation (every variant vs the exact graph, sampled)
# --------------------------------------------------------------------------
_RECALL_MOD = 10  # sampled sources = vec_id % _RECALL_MOD == 0


def _graph_recall_oracle() -> str:
    k, m = _K_GRAPH, _RECALL_MOD
    return f"""
    WITH g_lsh AS ({_knn_graph_oracle(multiprobe=False)}),
    g_multi AS ({_knn_graph_oracle(multiprobe=True)}),
    g_ivf AS ({_knn_graph_ivf_oracle()}),
    e2 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n2 AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e2
    ),
    probes AS (
      SELECT vec_id AS src, v AS pv, nrm AS pnrm FROM n2
      WHERE vec_id % {m} = 0
    ),
    exact AS (
      SELECT p.src, n2.vec_id AS dst,
             row_number() OVER (
               PARTITION BY p.src
               ORDER BY list_dot_product(n2.v, p.pv) / (n2.nrm * p.pnrm)
                        DESC, n2.vec_id ASC) AS rk
      FROM n2 CROSS JOIN probes p
      WHERE n2.vec_id <> p.src
      QUALIFY rk <= {k}
    ),
    ex_cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
    tagged AS (
      SELECT 'lsh' AS variant, src, dst FROM g_lsh WHERE src % {m} = 0
      UNION ALL
      SELECT 'multiprobe', src, dst FROM g_multi WHERE src % {m} = 0
      UNION ALL
      SELECT 'ivf', src, dst FROM g_ivf WHERE src % {m} = 0
    ),
    hits AS (
      SELECT t.variant, CAST(count(*) AS BIGINT) AS n_hit
      FROM tagged t JOIN exact x ON x.src = t.src AND x.dst = t.dst
      GROUP BY 1
    )
    SELECT h.variant, c.n_exact, h.n_hit,
           CAST((10000 * h.n_hit) // c.n_exact AS BIGINT) AS recall_x10000
    FROM hits h CROSS JOIN ex_cnt c
    """


@query("s_graph_recall", oracle=_graph_recall_oracle())
def s_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-GRAPH RECALL EVALUATION: every registered graph variant
    (single-probe LSH, 1-bit multiprobe, learned IVF lists) scored
    against the EXACT top-{k} graph over a deterministic source sample
    (src % {m} == 0) — the standing yardstick that says what the bucket
    knobs actually buy. The x10000 recall is an integer division
    (order-independent, engine-exact); edge sets join on (src, dst).

    Scale: exact ground truth costs sample × corpus dot products (the
    s_retrieval_eval recipe — production pins an ABSOLUTE sample size so
    eval cost stays flat as the corpus grows); each variant's graph is
    the build already benched, filtered to sampled sources (the filter
    is on the rank window's partition key, so it prunes BEFORE the
    window). The exact edge list is checkpointed once — it feeds both
    the per-variant hit join (broadcast: sample-bounded) and the
    denominator count."""
    n = _emb_double(spark, sf_dir).withColumn(
        "nrm", F.sqrt(F.expr(_DOT.format(a="v", b="v")))
    )
    probes = n.filter(F.col("vec_id") % _RECALL_MOD == 0).select(
        F.col("vec_id").alias("src"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pnrm"),
    )
    cos = F.expr(_DOT.format(a="v", b="pv")) / (F.col("nrm") * F.col("pnrm"))
    wx = Window.partitionBy("src").orderBy(F.desc("cos_raw"), F.asc("dst"))
    exact = (
        n.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("src"))
        .select("src", F.col("vec_id").alias("dst"), cos.alias("cos_raw"))
        .withColumn("rk", F.row_number().over(wx))
        .filter(F.col("rk") <= _K_GRAPH)
        .select("src", "dst")
        .localCheckpoint(eager=True)  # feeds the hit join AND the count
    )
    ex_cnt = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    variants = [
        ("lsh", s_knn_graph(spark, sf_dir)),
        ("multiprobe", s_knn_graph_multiprobe(spark, sf_dir)),
        ("ivf", s_knn_graph_ivf(spark, sf_dir)),
    ]
    tagged = None
    for name, g in variants:
        part = g.filter(F.col("src") % _RECALL_MOD == 0).select(
            F.lit(name).alias("variant"), "src", "dst"
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    hits = (
        tagged.join(F.broadcast(exact), ["src", "dst"])
        .groupBy("variant")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    return hits.crossJoin(F.broadcast(ex_cnt)).select(
        "variant",
        "n_exact",
        "n_hit",
        F.expr("CAST((10000 * n_hit) div n_exact AS BIGINT)").alias(
            "recall_x10000"
        ),
    )


s_graph_recall.__doc__ = s_graph_recall.__doc__.format(
    k=_K_GRAPH, m=_RECALL_MOD
)
