"""Deterministic sketch & layout queries — the bounded-state estimators a
100 TB engine runs INSTEAD of exact global aggregation, made
oracle-hashable by fixing every hash parameter.

The library operators in ``operators/sketches.py`` wrap Spark's native
HLL++ / KLL (``approx_count_distinct`` / ``approx_percentile``) — those
are tolerance-tested only, because their merge order is
engine-internal. The queries here re-derive the same sketch *ideas*
(KMV/minhash cardinality, count-min frequency, Bloom membership) from
fixed modular hashes, so Spark and DuckDB compute bit-identical results
and the driver's value-hash gate applies. That is the point: the scale
behavior (map-side-combinable, fixed-size state, broadcastable summaries)
is real, and correctness is pinned exactly rather than "close enough".

Reference parity note: the reference has no sketch layer (its pandas
engine holds everything in memory — e.g. plain ``nunique()`` /
``value_counts()`` in pandas_based/src/data_exploration.py); these
queries are the scale-path replacements for those exact per-column
profiles, a core part of re-expressing the same capability at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.operators.sketches import (
    _P,
    hll_bucket_sql,
    hll_rho_sql,
    cms_params,
    kmv_params,
    kmv_scramble_sql,
)
from olympic_athletes_etl_spark.operators.store import Rollup
from olympic_athletes_etl_spark.plans.registry import query
from olympic_athletes_etl_spark.plans.tables import load
from olympic_athletes_etl_spark.plans.textstats import polyhash_duck

# --------------------------------------------------------------------------
# KMV / minhash cardinality estimate — per-group distinct counting with
# K independent min aggregates (fully map-side-combinable; 16 BIGINTs of
# state per group, vs a hash-set of every distinct member for the exact
# count).
# --------------------------------------------------------------------------
_KMV_K = 16
# Hash parameters and the lattice-breaking scramble come from ONE
# definition in operators/sketches.py (kmv_params / kmv_scramble_sql):
# the Spark plan uses them through kmv_cardinality and the DuckDB
# oracle interpolates the same values below, so the two sides cannot
# silently desync.
_KMV_PARAMS = kmv_params(_KMV_K)
_KMV_SCRAMBLE_SQL = kmv_scramble_sql("user_id")


@query(
    "a_cardinality_sketch",
    oracle=f"""
    WITH s AS (
      SELECT event_type, user_id, {_KMV_SCRAMBLE_SQL} AS sk FROM events
    ),
    mins AS (
      SELECT event_type,
             {", ".join(
                 f"min((sk * {a} + {b}) % {_P}) AS m{k}"
                 for k, (a, b) in enumerate(_KMV_PARAMS)
             )},
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM s GROUP BY event_type
    )
    SELECT event_type, n_exact,
           CAST({_KMV_K * _P} AS BIGINT)
             // ({" + ".join(f"m{k}" for k in range(_KMV_K))}
             + {_KMV_K}) - 1 AS est_distinct
    FROM mins
    """,
)
def a_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimate per event type from K=16 fixed minhash
    permutations: E[min of n uniform hashes] = P/(n+1), pooled
    harmonically as n-hat = K*P / (sum of mins + K) - 1, all in exact
    BIGINT arithmetic so the estimate itself is hash-checkable.

    Scale shape: the sketch is 16 ``min()`` aggregates — map-side
    partial, 128 bytes of state per group, merge = elementwise min — so
    the shuffle carries one tiny row per (partition, group) regardless
    of how many billions of events feed it. The exact
    ``count(DISTINCT)`` rides along here only to expose the error; at
    100 TB you drop that column and keep the sketch (or use the native
    HLL++ wrapper in operators/sketches.py when cross-engine
    hash-stability isn't required)."""
    from olympic_athletes_etl_spark.operators.sketches import (
        kmv_cardinality,
    )

    return kmv_cardinality(
        load(spark, sf_dir, "events"),
        "user_id",
        group=["event_type"],
        k=_KMV_K,
        exact=True,
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters — fixed-size frequency summary
# --------------------------------------------------------------------------
_CMS_D = 4  # hash rows
_CMS_W = 512  # buckets per row
_CMS_A, _CMS_B = cms_params(_CMS_D)  # shared with cms_frequencies
# a token is a heavy-hitter candidate when its CMS estimate is at least
# total_tokens / _HH_INV_FRAC (the classic phi-heavy-hitter screen).
_HH_INV_FRAC = 200

@query(
    "t_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
      FROM documents
    ),
    tc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
    th AS (SELECT w, cnt, {polyhash_duck("w")} AS t FROM tc),
    posed AS (
      SELECT w, cnt, j,
             ((t * ([{", ".join(map(str, _CMS_A))}])[j + 1]
               + ([{", ".join(map(str, _CMS_B))}])[j + 1]) % {_P}) % {_CMS_W}
               AS pos
      FROM th, (SELECT unnest(range(0, {_CMS_D})) AS j)
    ),
    cells AS (
      SELECT j, pos, CAST(sum(cnt) AS BIGINT) AS cell
      FROM posed GROUP BY 1, 2
    ),
    est AS (
      SELECT p.w, p.cnt, min(c.cell) AS cms_est
      FROM posed p JOIN cells c USING (j, pos) GROUP BY 1, 2
    )
    SELECT w, cms_est, cnt AS n_exact
    FROM est, tot WHERE cms_est >= n // {_HH_INV_FRAC}
    """,
)
def t_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens via a 4x512 count-min sketch: every token
    increments one bucket per hash row, a token's estimate is the min of
    its 4 buckets (never under the true count), and tokens estimated at
    >= 1/200 of total token mass are reported with their exact counts.

    Scale shape: the sketch is a FIXED 2048-cell table however large the
    corpus — per-partition arrays merge by cell-wise sum, which is
    exactly the map-side-partial ``groupBy(j, pos).sum()`` here — and
    the candidate screen joins the distinct-token dim against the
    *broadcast* sketch, so no token-keyed shuffle of the fact is needed
    beyond the one distinct-count pass (itself only kept to report
    n_exact next to the estimate). CMS error is additive
    (<= total/W per row, min over 4 rows), which is why the 1/200
    screen with W=512 cannot miss a true heavy hitter."""
    from olympic_athletes_etl_spark.operators.sketches import (
        cms_frequencies,
    )

    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    )
    tot = tokens.agg(F.count(F.lit(1)).alias("n"))
    est = cms_frequencies(tokens, "w", depth=_CMS_D, width=_CMS_W)
    return (
        est.crossJoin(F.broadcast(tot))
        .filter(F.col("cms_est") >= F.expr(f"n div {_HH_INV_FRAC}"))
        .select("w", "cms_est", F.col("cnt").alias("n_exact"))
    )


# --------------------------------------------------------------------------
# Histogram median — bounded-state quantile estimation
# --------------------------------------------------------------------------
_HIST_NBUCKETS = 64
_HIST_OFF = 1000.0  # c_acctbal >= -999.99
_HIST_DIV = 172.0  # 11000 / 64, rounded up

_HIST_BUCKET = (
    f"least({_HIST_NBUCKETS - 1}, greatest(0,"
    f" CAST(floor((c_acctbal + {_HIST_OFF}) / {_HIST_DIV}) AS INT)))"
)


@query(
    "a_histogram_median",
    oracle=f"""
    WITH b AS (
      SELECT c_nationkey, {_HIST_BUCKET} AS bucket FROM customer
    ),
    agg AS (
      SELECT c_nationkey, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM b GROUP BY 1, 2
    ),
    cum AS (
      SELECT c_nationkey, bucket,
             sum(cnt) OVER (PARTITION BY c_nationkey ORDER BY bucket) AS cum,
             sum(cnt) OVER (PARTITION BY c_nationkey) AS n
      FROM agg
    ),
    med AS (
      SELECT c_nationkey,
             CAST(min(n) AS BIGINT) AS n_customers,
             CAST(min(CASE WHEN 2 * cum >= n THEN bucket END) AS BIGINT)
               AS med_bucket
      FROM cum GROUP BY 1
    ),
    ex AS (
      SELECT c_nationkey, round(median(c_acctbal), 4) AS exact_median
      FROM customer GROUP BY 1
    )
    SELECT c_nationkey, n_customers, med_bucket,
           round(CAST(-{_HIST_OFF} + {_HIST_DIV} * (med_bucket + 0.5)
                      AS DOUBLE), 4) AS est_median,
           exact_median
    FROM med JOIN ex USING (c_nationkey)
    """,
)
def a_histogram_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median estimated from a FIXED 64-bucket histogram (midpoint of
    the first bucket whose cumulative count reaches half the group),
    reported next to the exact median so the bucket-width error is
    visible.

    Scale shape: the histogram is the quantile analogue of the CMS —
    per-partition bucket counts merge by cell-wise sum (one map-side-
    combinable groupBy on (group, bucket), <= 64 cells of state per
    group), and the cumulative scan that extracts the quantile runs
    over AT MOST 64 rows per group, vs the exact median's full
    per-group sort. This is what per-column numeric profiling runs at
    100 TB (the exact median column here exists to expose the error;
    production drops it, or uses the native KLL wrapper in
    operators/sketches.py when a tunable error bound matters more than
    cross-engine hash-stability)."""
    from pyspark.sql import Window

    cust = load(spark, sf_dir, "customer")
    b = cust.select(
        "c_nationkey",
        F.expr(_HIST_BUCKET).alias("bucket"),
    )
    agg = b.groupBy("c_nationkey", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    exact = cust.groupBy("c_nationkey").agg(
        F.round(F.median("c_acctbal"), 4).alias("exact_median")
    )
    w_cum = (
        Window.partitionBy("c_nationkey")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("c_nationkey")
    cum = agg.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    med = cum.groupBy("c_nationkey").agg(
        F.min("n").alias("n_customers"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("bucket")))
        .cast("bigint")
        .alias("med_bucket"),
    )
    return med.join(exact, "c_nationkey").select(
        "c_nationkey",
        "n_customers",
        "med_bucket",
        F.round(
            F.lit(-_HIST_OFF) + _HIST_DIV * (F.col("med_bucket") + 0.5), 4
        ).alias("est_median"),
        "exact_median",
    )


# --------------------------------------------------------------------------
# Exact-moment correlation / OLS — float statistics from integer sums
# --------------------------------------------------------------------------
# Shared formula strings keep the FLOAT expression trees identical on
# both engines (double arithmetic is deterministic only if the operation
# sequence matches; the integer moments beneath are exact, so the only
# float ops are the final few divisions/sqrt).
_MOM = "(n * sqd - sq * sd)"
_VARQ = "(n * sqq - sq * sq)"
_VARD = "(n * sdd - sd * sd)"
_CORR = (
    f"CASE WHEN {_VARQ} = 0 OR {_VARD} = 0 THEN NULL ELSE "
    f"round(CAST({_MOM} AS DOUBLE)"
    f" / sqrt(CAST({_VARQ} AS DOUBLE) * CAST({_VARD} AS DOUBLE)), 6) END"
)
_SLOPE = (
    f"CASE WHEN {_VARQ} = 0 THEN NULL ELSE "
    f"round(CAST({_MOM} AS DOUBLE) / CAST({_VARQ} AS DOUBLE), 6) END"
)


@query(
    "a_corr_regression",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS sd,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sqq,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                      * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS sdd,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS sqd
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, sq, sd,
           {_CORR} AS corr_qty_disc,
           {_SLOPE} AS ols_slope
    FROM m
    """,
)
def a_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and OLS slope of (quantity, discount-pct) per
    return flag, computed from EXACT integer moments (n, Σx, Σy, Σx²,
    Σy², Σxy) with floats entering only in the final closed-form — so
    the result is bit-identical across engines and partitionings, unlike
    ``corr()``/``covar_samp()`` whose double partial sums reorder under
    parallel merge (the same exact-sums-first discipline as the q1/q17
    revenue queries, applied to second moments).

    Scale shape: one map-side-combinable groupBy carrying six BIGINTs of
    state per group — the moment vector is a mergeable sketch (element-
    wise sum), which is why single-pass distributed regression works at
    all. Overflow headroom: Σx² ≤ n·2500, so BIGINT holds to ~3.7e15
    rows per group; beyond that, shift to per-partition moments over
    DECIMAL(38) (documented, not needed at any test SF)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("qi"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("di"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qi").alias("sq"),
        F.sum("di").alias("sd"),
        F.sum(F.col("qi") * F.col("qi")).alias("sqq"),
        F.sum(F.col("di") * F.col("di")).alias("sdd"),
        F.sum(F.col("qi") * F.col("di")).alias("sqd"),
    )
    return m.select(
        "l_returnflag",
        "n",
        "sq",
        "sd",
        F.expr(_CORR).alias("corr_qty_disc"),
        F.expr(_SLOPE).alias("ols_slope"),
    )


# --------------------------------------------------------------------------
# Z-order layout — multi-dimensional clustering for scan pruning
# --------------------------------------------------------------------------
_Z_BITS = 5  # 5 bits per dimension -> 10-bit z-value -> 64 files of 16
_Z_Y_OFF = 1000.0  # shift c_acctbal (>= -999.99) to non-negative
_Z_Y_DIV = 344.0  # 11000 / 32 buckets, rounded up


def _z_interleave(x: str, y: str) -> str:
    """Bit-interleave two _Z_BITS-wide non-negative ints (x in the odd
    bit positions) — same string works as Spark SQL and DuckDB SQL."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


@query(
    "r_zorder_layout",
    oracle=f"""
    WITH b AS (
      SELECT c_nationkey AS x,
             least({2**_Z_BITS - 1}, greatest(0,
               CAST(floor((c_acctbal + {_Z_Y_OFF}) / {_Z_Y_DIV}) AS INT)))
               AS y
      FROM customer
    ),
    z AS (SELECT x, y, {_z_interleave("x", "y")} AS zval FROM b)
    SELECT CAST(zval // 16 AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS min_nation, max(x) AS max_nation,
           min(y) AS min_balbucket, max(y) AS max_balbucket
    FROM z GROUP BY 1
    """,
)
def r_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering of customers on
    (nation, balance-bucket): interleave the bits of the two 5-bit
    dimensions, assign 16 consecutive z-values per target file, and
    report each file's per-dimension min/max envelope.

    Why it matters at 100 TB: writing files in z order gives every file
    a TIGHT min/max range on BOTH columns simultaneously (the envelopes
    this query outputs are exactly what parquet row-group stats would
    record), so a predicate on either dimension prunes most files at
    scan time — one-dimensional sort can only do that for its leading
    column. The registered aggregate verifies the envelope math; the
    actual write path is ``df.repartitionByRange('zval').sortWithinPartitions
    ('zval').write``, whose range exchange is the only shuffle
    involved."""
    cust = load(spark, sf_dir, "customer")
    b = cust.select(
        F.col("c_nationkey").alias("x"),
        F.expr(
            f"least({2**_Z_BITS - 1}, greatest(0,"
            f" CAST(floor((c_acctbal + {_Z_Y_OFF}) / {_Z_Y_DIV}) AS INT)))"
        ).alias("y"),
    )
    z = b.withColumn("zval", F.expr(_z_interleave("x", "y")))
    return (
        z.groupBy(F.expr("CAST(zval div 16 AS BIGINT)").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_nation"),
            F.max("x").alias("max_nation"),
            F.min("y").alias("min_balbucket"),
            F.max("y").alias("max_balbucket"),
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter contamination prefilter — broadcast a bitset, not a table
# --------------------------------------------------------------------------
_BLOOM_M = 65_536  # bits
_BLOOM_A = [1031, 2087, 4093]
_BLOOM_B = [19, 23, 29]


def _bloom_pos(h: str, j: str) -> tuple[str, str]:
    """(spark_expr, duck_expr) for the j-th Bloom position of hash h."""
    a = ", ".join(map(str, _BLOOM_A))
    b = ", ".join(map(str, _BLOOM_B))
    spark = (
        f"(({h} * element_at(array({a}), {j} + 1)"
        f" + element_at(array({b}), {j} + 1)) % {_P}) % {_BLOOM_M}"
    )
    duck = (
        f"(({h} * ([{a}])[{j} + 1] + ([{b}])[{j} + 1]) % {_P}) % {_BLOOM_M}"
    )
    return spark, duck


def _register_bloom() -> None:
    # import here: dedup_q shares the shingle pipeline (same hashes on
    # both engines keep this query consistent with d_contamination)
    from olympic_athletes_etl_spark.plans.dedup_q import (
        _CONTAM_MOD,
        _SHINGLE_HASHES_DUCK,
        _doc_shingle_hashes,
    )

    spark_pos, duck_pos = _bloom_pos("h", "j")

    @query(
        "d_bloom_prefilter",
        oracle=f"""
        WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
        ev AS (SELECT DISTINCT h FROM hashed WHERE doc_id % {_CONTAM_MOD} = 0),
        evpos AS (
          SELECT DISTINCT {duck_pos} AS pos
          FROM ev, (SELECT unnest(range(0, {len(_BLOOM_A)})) AS j)
        ),
        train AS (
          SELECT doc_id, h FROM hashed WHERE doc_id % {_CONTAM_MOD} != 0
        ),
        tp AS (
          SELECT doc_id, h, {duck_pos} AS pos
          FROM train, (SELECT unnest(range(0, {len(_BLOOM_A)})) AS j)
        ),
        grp AS (
          SELECT doc_id, h,
                 count(*) FILTER (pos IN (SELECT pos FROM evpos)) AS n_in
          FROM tp GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(*) FILTER (n_in = {len(_BLOOM_A)}) AS BIGINT)
                 AS n_bloom_hits,
               CAST(count(*) FILTER (h IN (SELECT h FROM ev)) AS BIGINT)
                 AS n_exact_hits
        FROM grp GROUP BY 1
        HAVING count(*) FILTER (n_in = {len(_BLOOM_A)}) > 0
        """,
    )
    def d_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Decontamination prefilter via a fixed-hash Bloom filter: hash
        every EVAL shingle into 3 of 65536 bit positions, then flag a
        train shingle as a *possible* eval member when all 3 of its
        positions are set. Per train doc, report total shingles, Bloom
        hits (includes false positives), and exact hits — Bloom never
        misses (no false negatives), which the invariant test pins as
        n_bloom_hits >= n_exact_hits.

        Scale shape vs d_contamination's exact shingle join: the eval
        side collapses to a <= 8 KiB bitset (here a <= 65536-row distinct
        position dim, broadcast), so the 100-TB train side is screened
        map-side with NO shuffle — only the tiny fraction of docs that
        survive the screen proceed to the exact (shuffling) overlap
        join. That two-phase shape is the standard way to decontaminate
        a petabyte corpus against a benchmark suite; the oracle
        recomputes the same bit positions so even the false-positive
        set hash-matches."""
        sh = _doc_shingle_hashes(spark, sf_dir)
        ev_h = (
            sh.filter(F.col("doc_id") % _CONTAM_MOD == 0)
            .select("h")
            .distinct()
        )
        eval_pos = (
            ev_h.select(
                F.explode(
                    F.sequence(F.lit(0), F.lit(len(_BLOOM_A) - 1))
                ).alias("j"),
                "h",
            )
            .select(F.expr(spark_pos).alias("pos"))
            .distinct()
            .withColumn("present", F.lit(1))
        )
        train = sh.filter(F.col("doc_id") % _CONTAM_MOD != 0)
        tp = train.select(
            "doc_id",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(len(_BLOOM_A) - 1))).alias(
                "j"
            ),
        ).withColumn("pos", F.expr(spark_pos))
        grp = (
            tp.join(F.broadcast(eval_pos), "pos", "left")
            .groupBy("doc_id", "h")
            .agg(F.sum(F.coalesce(F.col("present"), F.lit(0))).alias("n_in"))
        )
        ex = train.join(
            F.broadcast(ev_h.withColumn("in_eval", F.lit(1))), "h", "left"
        )
        joined = grp.join(ex, ["doc_id", "h"])
        return (
            joined.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.sum(
                    F.when(F.col("n_in") == len(_BLOOM_A), 1).otherwise(0)
                ).alias("n_bloom_hits"),
                F.sum(F.coalesce(F.col("in_eval"), F.lit(0))).alias(
                    "n_exact_hits"
                ),
            )
            .filter(F.col("n_bloom_hits") > 0)
        )


_register_bloom()


# --------------------------------------------------------------------------
# HyperLogLog cardinality — register-based counterpart of the KMV sketch
# --------------------------------------------------------------------------
_HLL_BUCKET_SQL = hll_bucket_sql("user_id")
_HLL_RHO_SQL = hll_rho_sql("user_id")


@query(
    "a_hll_estimate",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             user_id,
             ({_HLL_BUCKET_SQL}) AS b,
             ({_HLL_RHO_SQL}) AS rho
      FROM events
    ),
    regs AS (
      SELECT event_type, b,
             max(rho) AS reg,
             count(DISTINCT user_id) AS nd
      FROM s GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             sum(CAST(1 AS BIGINT) << (25 - reg))
               + (64 - count(*)) * 33554432 AS S,
             CAST(sum(nd) AS BIGINT) AS n_exact
      FROM regs GROUP BY 1
    )
    SELECT event_type, n_exact,
           CAST((CAST({709 * 64 * 64} AS BIGINT) * 33554432)
                // (1000 * S) AS BIGINT) AS est_distinct
    FROM agg
    """,
)
def a_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimate per event type from a 64-register
    HyperLogLog — the register-based counterpart of a_cardinality_sketch
    (KMV), the sketch every production engine actually ships for
    COUNT(DISTINCT): 64 bytes of max-rank state per group vs KMV's k
    minima, with 1.04/sqrt(m) ~ 13% error at m=64.

    Deterministic cross-engine trick: the rank (leading-zero count) is
    ``RHO_MAX - length(bin(w))`` — both Spark and DuckDB render
    minimal-length binary strings — and the harmonic mean is computed as
    one exact BIGINT sum scaled by the constant 2^RHO_MAX, so the
    estimate itself hash-matches (raw HLL, no float anywhere; see
    operators/sketches.py:hll_cardinality for the registers-that-never-
    fired accounting). Both aggregation levels are map-side combinable;
    the shuffle carries at most 64 register rows per group no matter how
    many billions of events feed it. The exact count rides along to
    expose the sketch error, exactly as in the KMV query — at 100 TB
    drop that column and keep the sketch."""
    from olympic_athletes_etl_spark.operators.sketches import hll_cardinality

    return hll_cardinality(
        load(spark, sf_dir, "events"),
        "user_id",
        group=["event_type"],
        exact=True,
    )


# --------------------------------------------------------------------------
# KMV sketch ALGEBRA — union/intersection cardinality without recount
# --------------------------------------------------------------------------
_SK_A, _SK_B = "view", "click"


def _kmv_est(msum: str, k: int = _KMV_K) -> str:
    """Shared estimator text (valid in both dialects given dialect
    integer division is substituted by the caller)."""
    return f"CAST({k * _P} AS BIGINT) DIVOP ({msum} + {k}) - 1"


def _sketch_algebra_sqls() -> tuple[str, str, str]:
    """(per-type mins, union mins, estimate projection) pieces shared
    verbatim between the Spark plan and the DuckDB oracle."""
    mins_a = [f"ma{i}" for i in range(_KMV_K)]
    mins_b = [f"mb{i}" for i in range(_KMV_K)]
    est_a = _kmv_est(" + ".join(mins_a))
    est_b = _kmv_est(" + ".join(mins_b))
    est_u = _kmv_est(" + ".join(f"least(ma{i}, mb{i})" for i in range(_KMV_K)))
    return est_a, est_b, est_u


_EST_A, _EST_B, _EST_U = _sketch_algebra_sqls()


@query(
    "a_sketch_algebra",
    oracle=f"""
    WITH s AS (
      SELECT event_type, user_id, {_KMV_SCRAMBLE_SQL} AS sk FROM events
      WHERE event_type IN ('{_SK_A}', '{_SK_B}')
    ),
    mins AS (
      SELECT
        {", ".join(
            f"min((sk * {a} + {b}) % {_P})"
            f"  FILTER (WHERE event_type = '{_SK_A}') AS ma{i},"
            f" min((sk * {a} + {b}) % {_P})"
            f"  FILTER (WHERE event_type = '{_SK_B}') AS mb{i}"
            for i, (a, b) in enumerate(_KMV_PARAMS)
        )}
      FROM s
    ),
    flags AS (
      SELECT user_id,
             max(CASE WHEN event_type = '{_SK_A}' THEN 1 ELSE 0 END) AS ha,
             max(CASE WHEN event_type = '{_SK_B}' THEN 1 ELSE 0 END) AS hb
      FROM s GROUP BY 1
    ),
    exacts AS (
      SELECT CAST(sum(ha) AS BIGINT) AS n_a,
             CAST(sum(hb) AS BIGINT) AS n_b,
             CAST(count(*) AS BIGINT) AS n_union,
             CAST(sum(ha * hb) AS BIGINT) AS n_inter
      FROM flags
    )
    SELECT
      {_EST_A.replace("DIVOP", "//")} AS est_a,
      {_EST_B.replace("DIVOP", "//")} AS est_b,
      {_EST_U.replace("DIVOP", "//")} AS est_union,
      greatest(CAST(0 AS BIGINT),
               ({_EST_A.replace("DIVOP", "//")})
               + ({_EST_B.replace("DIVOP", "//")})
               - ({_EST_U.replace("DIVOP", "//")})) AS est_inter,
      n_a, n_b, n_union, n_inter
    FROM mins CROSS JOIN exacts
    """,
)
def a_sketch_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA — the property that makes sketches the 100 TB
    answer to COUNT(DISTINCT): two KMV sketches built independently
    (here: distinct users who 'view' vs who 'click') MERGE by
    elementwise min into the sketch OF THE UNION without touching the
    data again, and inclusion-exclusion on the three estimates prices
    the intersection. On a cluster this is how per-partition /
    per-day / per-source distinct sketches roll up: 16 BIGINTs per
    slice, merge = min, no re-scan of history.

    One pass over the (type-filtered, pushed-down) events: 32
    conditional min aggregates (both sketches) in a single map-side-
    combinable agg; the exact n_a/n_b/n_union/n_inter ride along from a
    user-keyed flag aggregate for error exposure — at 100 TB you drop
    the exact branch and keep the one-pass sketches. All arithmetic is
    exact BIGINT (est may floor 1 below by inclusion-exclusion;
    intersection clamps at 0), so the row hash-matches."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_SK_A, _SK_B)
    )
    sk = F.expr(kmv_scramble_sql("user_id"))
    min_aggs = []
    for i, (a, b) in enumerate(_KMV_PARAMS):
        perm = (sk * a + b) % _P
        min_aggs.append(
            F.min(F.when(F.col("event_type") == _SK_A, perm)).alias(f"ma{i}")
        )
        min_aggs.append(
            F.min(F.when(F.col("event_type") == _SK_B, perm)).alias(f"mb{i}")
        )
    mins = ev.agg(*min_aggs)
    flags = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == _SK_A, 1).otherwise(0)
        ).alias("ha"),
        F.max(
            F.when(F.col("event_type") == _SK_B, 1).otherwise(0)
        ).alias("hb"),
    )
    exacts = flags.agg(
        F.sum("ha").cast("long").alias("n_a"),
        F.sum("hb").cast("long").alias("n_b"),
        F.count(F.lit(1)).alias("n_union"),
        F.sum(F.expr("ha * hb")).cast("long").alias("n_inter"),
    )
    ea = _EST_A.replace("DIVOP", "div")
    eb = _EST_B.replace("DIVOP", "div")
    eu = _EST_U.replace("DIVOP", "div")
    return mins.crossJoin(F.broadcast(exacts)).select(
        F.expr(ea).alias("est_a"),
        F.expr(eb).alias("est_b"),
        F.expr(eu).alias("est_union"),
        F.expr(
            f"greatest(CAST(0 AS BIGINT), ({ea}) + ({eb}) - ({eu}))"
        ).alias("est_inter"),
        "n_a",
        "n_b",
        "n_union",
        "n_inter",
    )


# --------------------------------------------------------------------------
# Join-size estimation via count-min INNER PRODUCT — sketch-based planning
# --------------------------------------------------------------------------
_JS_D = 4
_JS_W = 512
_JS_A, _JS_B = cms_params(_JS_D)


def _js_pos_sql(j_a: int, j_b: int) -> str:
    """Cell position of user_id under CMS row j — shared dialect text."""
    sk = kmv_scramble_sql("user_id")
    return f"((({sk}) * {j_a} + {j_b}) % {_P}) % {_JS_W}"


@query(
    "v_join_size_estimate",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, user_id FROM events
      WHERE event_type IN ('view', 'click')
    ),
    cells AS (
      SELECT j, pos,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM (
        {" UNION ALL ".join(
            f"SELECT {j} AS j, {_js_pos_sql(a, b)} AS pos, event_type FROM ev"
            for j, (a, b) in enumerate(zip(_JS_A, _JS_B))
        )}
      )
      GROUP BY 1, 2
    ),
    rows_est AS (
      SELECT j, CAST(sum(ca * cb) AS BIGINT) AS ip FROM cells GROUP BY 1
    ),
    exact AS (
      SELECT CAST(coalesce(sum(nv * nc), 0) AS BIGINT) AS exact_rows
      FROM (
        SELECT user_id,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc
        FROM ev GROUP BY 1
      )
    )
    SELECT CAST(min(ip) AS BIGINT) AS est_rows, exact_rows
    FROM rows_est CROSS JOIN exact
    GROUP BY exact_rows
    """,
)
def v_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE estimation from two count-min sketches — the classic
    sketch inner-product result (Cormode & Muthukrishnan): the true
    join cardinality sum_k fA(k)*fB(k) is over-approximated by the
    inner product of any CMS row pair built with the same hashes, and
    min over the d rows tightens it. Sized here for the view⋈click
    self-join on user_id (what a multi-touch attribution join
    buffers), with the exact answer riding along to expose the error.

    This is the planning primitive behind join reordering and
    skew-aware sizing at 100 TB: each side's sketch is d*w = 2048
    BIGINT cells REGARDLESS of input size, built in one
    map-side-combinable pass (the union-explode costs d rows per
    event), mergeable across partitions/days by cell-wise sum — so you
    can price a petabyte join before launching it, from sketches
    collected at ingest. All arithmetic exact BIGINT; the CMS
    overestimate guarantee (est >= exact, every row, any data) is
    pinned in tests."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    rows = []
    for j, (a, b) in enumerate(zip(_JS_A, _JS_B)):
        rows.append(
            ev.select(
                F.lit(j).alias("j"),
                F.expr(_js_pos_sql(a, b)).alias("pos"),
                "event_type",
            )
        )
    posed = rows[0]
    for r in rows[1:]:
        posed = posed.unionByName(r)
    cells = posed.groupBy("j", "pos").agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).cast("long").alias("ca"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).cast("long").alias("cb"),
    )
    est = (
        cells.groupBy("j")
        .agg(F.sum(F.expr("ca * cb")).alias("ip"))
        .agg(F.min("ip").cast("long").alias("est_rows"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("nv"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("nc"),
        )
        .agg(
            F.coalesce(F.sum(F.expr("nv * nc")), F.lit(0))
            .cast("long")
            .alias("exact_rows")
        )
    )
    return est.crossJoin(F.broadcast(exact))


# --------------------------------------------------------------------------
# Stored HLL rollup — mergeable-sketch partials per day (store → append →
# compact → serve), the approximate-distinct counterpart of the exact
# rollup store (plans/relational.py:rollup_store): registers merge by
# MAX, so per-batch sketch partials fold in without raw-id rescans, and
# a day-RANGE estimate merges registers ACROSS days — the "HLL sketch
# per day, merged over the window" alternative e_weekly_active_users'
# docstring names, here as its deployed, driver-gated form.
# --------------------------------------------------------------------------
from olympic_athletes_etl_spark.operators.sketches import (  # noqa: E402
    _HLL_ALPHA_DEN,
    _HLL_ALPHA_NUM,
    _HLL_M,
    _HLL_RHO_MAX,
)

_HLL_RANGE_LO, _HLL_RANGE_HI = "2024-01-10", "2024-01-16"  # 7-day WAU window


def hll_rollup_partials(events: DataFrame) -> DataFrame:
    """Per-(day, register) max-rank partials for a batch — the HLL
    semigroup: state merges by MAX, so any partition of the events into
    batches stores the same information as one pass (max is idempotent,
    commutative, associative — double-counting is IMPOSSIBLE by
    algebra, unlike the (count, sum) rollup where replayed batches
    double; that robustness is why sketches are the distinct-count
    store at 100 TB). At most 64 rows per day per batch."""
    return (
        events.select(
            F.col("ts").cast("date").cast("string").alias("day"),
            F.expr(hll_bucket_sql("user_id")).alias("b"),
            F.expr(hll_rho_sql("user_id")).alias("rho"),
        )
        .groupBy("day", "b")
        .agg(F.max("rho").cast("long").alias("reg"))
    )


def _hll_merge(regs: DataFrame) -> DataFrame:
    return regs.groupBy("day", "b").agg(F.max("reg").cast("long").alias("reg"))


HLL_ROLLUP = Rollup(hll_rollup_partials, _hll_merge, ("day", "b", "reg"), "day")


def hll_rollup_store(partials: DataFrame, path: str) -> None:
    """Persist sketch partials partitioned BY day — a serve for any day
    range prunes to the window's directories, each holding ≤64-row
    register sets per batch. Generation-versioned (operators/store.py):
    re-storing over an existing path is an atomic snapshot replace."""
    HLL_ROLLUP.create(partials, path)


def hll_rollup_append(partials: DataFrame, path: str) -> None:
    """Append a batch's partials. Auto-creates the store on a fresh path
    (an ingest's first batch): GenStore.append alone requires an existing manifest and would raise ValueError."""
    HLL_ROLLUP.append(partials, path)


def hll_rollup_load(spark: SparkSession, path: str) -> DataFrame:
    # the day partition directory may be re-inferred as DATE; the
    # estimator groups and labels on the string form
    return HLL_ROLLUP.load(spark, path).withColumn(
        "day", F.col("day").cast("string")
    )


def hll_rollup_compact(spark: SparkSession, path: str) -> None:
    """Fold per-batch register rows to ONE row per (day, register) by
    MAX — the sketch-merge maintenance pass (generation-swap rewrite
    with an atomic manifest commit, operators/store.py; merging is max,
    not sum). Register-max is idempotent, so re-appending an
    already-folded batch cannot change any served estimate."""
    HLL_ROLLUP.compact(spark, path)


def _hll_estimate_from_regs(regs: DataFrame, group: list[str]) -> DataFrame:
    """Raw-HLL estimate from (possibly multi-row-per-register) stored
    partials: merge by MAX, then the same exact-BIGINT harmonic mean as
    operators/sketches.py:hll_cardinality — no float anywhere, so the
    stored serve hash-matches a from-raw-events recompute."""
    shift_max = 1 << _HLL_RHO_MAX
    merged = regs.groupBy(*group, "b").agg(F.max("reg").alias("_reg"))
    pow2 = F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_MAX} - _reg)")
    s_expr = (
        F.sum(pow2) + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(shift_max)
    ).alias("_S")
    out = merged.groupBy(*group).agg(s_expr) if group else merged.agg(s_expr)
    if not group:
        # ungrouped over an EMPTY register set (e.g. a day range with no
        # stored partials): the global agg emits one row with _S = NULL —
        # serve an empty frame, not a NULL estimate
        out = out.filter(F.col("_S").isNotNull())
    est = F.expr(
        f"CAST({_HLL_ALPHA_NUM * _HLL_M * _HLL_M} AS BIGINT)"
        f" * {shift_max} div ({_HLL_ALPHA_DEN} * _S)"
    ).alias("est_distinct")
    return out.select(*group, est)


def hll_rollup_serve(spark: SparkSession, path: str) -> DataFrame:
    """Per-day distinct-user estimate from the store alone — raw events
    (and raw user ids) are never re-read; the store holds 64 small
    integers per day per batch, period."""
    return _hll_estimate_from_regs(hll_rollup_load(spark, path), ["day"])


def hll_rollup_serve_range(
    spark: SparkSession, path: str, lo: str, hi: str
) -> DataFrame:
    """Distinct users over a day RANGE from the stored daily sketches —
    the query exact rollups cannot answer without re-scanning raw ids
    (distinct doesn't sum across days; registers MERGE by max). The
    day BETWEEN lands on the partition directories, so a 7-day WAU
    reads 7 × ≤64-row register sets."""
    regs = hll_rollup_load(spark, path).filter(F.col("day").between(lo, hi))
    return _hll_estimate_from_regs(regs, [])


def _hll_day_regs_duck(where: str = "") -> str:
    return f"""s AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             ({hll_bucket_sql("user_id")}) AS b,
             ({hll_rho_sql("user_id")}) AS rho
      FROM events {where}
    ),
    regs AS (SELECT day, b, max(rho) AS reg FROM s GROUP BY 1, 2)"""


_HLL_EST_DUCK_T = (
    f"CAST((CAST({_HLL_ALPHA_NUM * _HLL_M * _HLL_M} AS BIGINT)"
    f" * {1 << _HLL_RHO_MAX}) // ({_HLL_ALPHA_DEN} * S) AS BIGINT)"
)


@query(
    "a_hll_rollup_stored",
    oracle=f"""
    WITH {_hll_day_regs_duck()},
    agg AS (
      SELECT day,
             sum(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - reg))
               + ({_HLL_M} - count(*)) * {1 << _HLL_RHO_MAX} AS S
      FROM regs GROUP BY 1
    )
    SELECT day, {_HLL_EST_DUCK_T} AS est_distinct FROM agg
    """,
)
def a_hll_rollup_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH-rollup lifecycle end-to-end, driver-gated: daily HLL
    register partials from one half of the traffic stored
    (hll_rollup_store, partitioned by day), the other half's partials
    APPENDED (batches split by user parity, so every day appears in
    BOTH batches and the serve MUST merge registers across batches to
    be right), the store COMPACTED to one row per (day, register) by
    max (hll_rollup_compact), and per-day estimates SERVED from the
    registers alone. Gated on a from-raw-events recompute of the same
    integer-exact raw-HLL estimate, so the hash proves
    partial → store → append → compact → merge-serve loses nothing.

    This is the distinct-count store at 100 TB: per day per batch the
    write is ≤64 small integers, the serve never touches raw ids, and
    because max is idempotent a replayed batch cannot double-count —
    the robustness the exact (count, sum) rollup lacks. Per-call temp
    dir for re-entrancy."""
    import os
    import tempfile

    events = load(spark, sf_dir, "events")
    path = os.path.join(tempfile.mkdtemp(prefix="a_hll_rollup_"), "regs")
    even = events.filter(F.col("user_id") % 2 == 0)
    odd = events.filter(F.col("user_id") % 2 == 1)
    hll_rollup_store(hll_rollup_partials(even), path)
    hll_rollup_append(hll_rollup_partials(odd), path)
    hll_rollup_compact(spark, path)
    return hll_rollup_serve(spark, path)


@query(
    "a_hll_rollup_range",
    oracle=f"""
    WITH {_hll_day_regs_duck(
        f"WHERE CAST(CAST(ts AS DATE) AS VARCHAR) BETWEEN "
        f"'{_HLL_RANGE_LO}' AND '{_HLL_RANGE_HI}'"
    )},
    merged AS (SELECT b, max(reg) AS reg FROM regs GROUP BY 1),
    agg AS (
      SELECT sum(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - reg))
               + ({_HLL_M} - count(*)) * {1 << _HLL_RHO_MAX} AS S
      FROM merged
    )
    SELECT {_HLL_EST_DUCK_T} AS est_distinct FROM agg
    """,
)
def a_hll_rollup_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAU FROM STORED SKETCHES: distinct users over a 7-day window,
    served by merging the window's stored daily registers by max —
    the cross-window question no exact rollup can answer from partials
    (distinct doesn't sum; e_weekly_active_users pays an explode-join
    over raw (day, user) pairs for the exact form, and ITS docstring
    names this sketch store as the approximate alternative — this
    registers that alternative, driver-gated). Serves from the
    UNCOMPACTED two-batch store, so the hash also proves range-serve
    correctness is compaction-cadence-independent; the day BETWEEN
    prunes to the window's 7 partition directories (pinned in
    test_round9_ops). Oracle recomputes the same integer-exact raw-HLL
    estimate from raw events restricted to the window."""
    import os
    import tempfile

    events = load(spark, sf_dir, "events")
    path = os.path.join(tempfile.mkdtemp(prefix="a_hll_range_"), "regs")
    even = events.filter(F.col("user_id") % 2 == 0)
    odd = events.filter(F.col("user_id") % 2 == 1)
    hll_rollup_store(hll_rollup_partials(even), path)
    hll_rollup_append(hll_rollup_partials(odd), path)
    return hll_rollup_serve_range(spark, path, _HLL_RANGE_LO, _HLL_RANGE_HI)
