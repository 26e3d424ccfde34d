"""Derandomized sketches: KMV distinct counts, count-min frequencies
and HyperLogLog — the mergeable map-side alternatives to the exact
operators on the oracle surface (SCALE.md "known trade-offs"). Their
hash parameters are fixed, so results are reproducible across engines
and runs and CAN sit on the oracle surface (plans/sketch_q.py registers
them over the testdata tables).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_P = 1_000_000_007


def kmv_params(k: int) -> list[tuple[int, int]]:
    """(a, b) of the i-th KMV permutation h_i(s) = (a*s + b) mod P —
    THE single definition; plans/sketch_q.py interpolates these same
    pairs into the DuckDB oracle so the two sides cannot desync."""
    return [
        ((2_654_435_761 * (i + 1)) % _P, (999_983 * (i + 7)) % _P)
        for i in range(k)
    ]


def kmv_scramble_sql(key: str) -> str:
    """Quadratic-congruential scramble of an integer column — valid as
    both Spark SQL and DuckDB SQL (see kmv_cardinality on why affine-
    only hashing of consecutive ids biases the minima)."""
    g = f"(({key} % {_P} + 1000003) * 2654435761 % {_P})"
    return f"{g} * {g} % {_P}"


def cms_params(depth: int) -> tuple[list[int], list[int]]:
    """(a, b) per CMS hash row — shared with the oracle like kmv_params."""
    return (
        [131 + 6 * i for i in range(depth)],
        [7 + 4 * i for i in range(depth)],
    )


def kmv_cardinality(
    df: DataFrame,
    key: str,
    group: Sequence[str] = (),
    k: int = 16,
    exact: bool = False,
) -> DataFrame:
    """Distinct-count estimate from ``k`` fixed minhash permutations:
    n-hat = k*P / (sum of per-permutation minima + k) - 1, exact BIGINT
    arithmetic end-to-end. State is k BIGINTs per group, merged by
    elementwise min — fully map-side-combinable, vs a per-group hash
    set for count(DISTINCT).

    ``key`` must be an integer column. A quadratic-congruential
    scramble precedes the affine permutation family: consecutive ids
    under affine-only hashing form a lattice with biased minima (a
    15-distinct group estimated ~9x high before the scramble).
    ``exact=True`` adds the true count(DISTINCT) for error reporting.
    ~25%% relative error at k=16 (1/sqrt(k) scaling); raise k for
    tighter bounds at k*8 bytes per group."""
    params = kmv_params(k)
    sk = F.expr(kmv_scramble_sql(key))
    mins = [
        F.min((sk * a + b) % _P).alias(f"_m{i}")
        for i, (a, b) in enumerate(params)
    ]
    aggs = list(mins) + (
        [F.countDistinct(key).alias("n_exact")] if exact else []
    )
    grouped = df.groupBy(*group).agg(*aggs) if group else df.agg(*aggs)
    msum = " + ".join(f"_m{i}" for i in range(k))
    est = F.expr(f"CAST({k * _P} AS BIGINT) div ({msum} + {k}) - 1").alias(
        "est_distinct"
    )
    keep = [*group, *(["n_exact"] if exact else [])]
    return grouped.select(*keep, est)


def cms_frequencies(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Count-min frequency estimates for every distinct value of
    ``col`` (string): (value, cnt, cms_est) where cms_est >= cnt always
    and the sketch behind it is depth*width cells REGARDLESS of input
    size — per-partition arrays merge by cell-wise sum (here the
    map-side-combinable groupBy on (row, bucket)), and the per-value
    estimate joins the distinct-value dim against the BROADCAST sketch.
    Additive error <= total/width per row, min over ``depth`` rows.
    Callers screen heavy hitters with ``cms_est >= threshold`` — never
    lossy for true heavy hitters (see plans/sketch_q.py:t_heavy_hitters
    for the oracle-gated phi-screen form)."""
    a_list, b_list = cms_params(depth)
    a = ", ".join(map(str, a_list))
    b = ", ".join(map(str, b_list))
    tc = df.groupBy(F.col(col).alias("w")).agg(F.count(F.lit(1)).alias("cnt"))
    th = tc.withColumn(
        "t",
        F.expr(
            "aggregate(split(w, ''), CAST(0 AS BIGINT),"
            f" (acc, c) -> (acc * 31 + ascii(c)) % {_P})"
        ),
    )
    posed = th.select(
        "w",
        "cnt",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j"),
        "t",
    ).withColumn(
        "pos",
        F.expr(
            f"((t * element_at(array({a}), j + 1)"
            f" + element_at(array({b}), j + 1)) % {_P}) % {width}"
        ),
    )
    cells = posed.groupBy("j", "pos").agg(F.sum("cnt").alias("cell"))
    return (
        posed.join(F.broadcast(cells), ["j", "pos"])
        .groupBy("w", "cnt")
        .agg(F.min("cell").alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog — register-based cardinality, deterministic cross-engine form
# ---------------------------------------------------------------------------
_HLL_M = 64  # 2^6 registers
_HLL_W_BITS = 24  # scramble < P ~ 2^30; w = sk div 64 < 2^24
_HLL_RHO_MAX = _HLL_W_BITS + 1
# alpha_64 = 0.7213 / (1 + 1.079/64) ~= 0.709, as an exact rational
_HLL_ALPHA_NUM = 709
_HLL_ALPHA_DEN = 1000


def hll_bucket_sql(key: str) -> str:
    """Register index in [0, 64) — valid Spark SQL and DuckDB SQL."""
    return f"({kmv_scramble_sql(key)}) % {_HLL_M}"


def hll_rho_sql(key: str) -> str:
    """HLL rank rho = leading-zero count of the remaining hash bits + 1,
    via ``length(bin(w))`` — both engines render minimal-length binary
    strings, so ``rho = W_BITS + 1 - length(bin(w))`` matches exactly;
    the all-zero word takes the conventional max rank W_BITS + 1.
    ``floor(x / m)`` stands in for integer division because ``div`` vs
    ``//`` differ by dialect and the operand is < 2^30 (double-exact)."""
    sk = kmv_scramble_sql(key)
    w = f"CAST(floor(({sk}) / {_HLL_M}) AS BIGINT)"
    return (
        f"CASE WHEN {w} = 0 THEN {_HLL_RHO_MAX}"
        f" ELSE {_HLL_RHO_MAX} - length(bin({w})) END"
    )


def hll_cardinality(
    df: DataFrame,
    key: str,
    group: Sequence[str] = (),
    exact: bool = False,
) -> DataFrame:
    """Distinct-count estimate from a 64-register HyperLogLog, all in
    exact BIGINT arithmetic so the estimate itself is oracle-hashable
    (complement to ``kmv_cardinality``: HLL state is max-of-rank
    registers — 64 bytes/group here — where KMV keeps k minima; HLL's
    1.04/sqrt(m) error is ~13%% at m=64 vs KMV's 25%% at k=16).

    Two map-side-combinable aggregations: per (group, register) max rank
    (shuffle carries at most 64 rows per group regardless of input
    size), then per group the raw-HLL harmonic mean, computed as the
    exact integer
        S = sum over registers of 2^(RHO_MAX - rho)  (+ 2^RHO_MAX per
            never-hit register, rho = 0)
        est = alpha_num * m^2 * 2^RHO_MAX div (alpha_den * S)
    — scaling by the CONSTANT 2^RHO_MAX instead of the per-group max
    keeps the whole formula one aggregate (no second pass to find R)
    and every term fits BIGINT (64 * 2^25 < 2^32).

    Raw HLL only (no small/large-range corrections): deterministic and
    monotone, which is what a cross-engine-checkable sketch needs; the
    exact count rides along under ``exact=True`` to expose the error.
    ``key`` must be an integer column, scrambled as in kmv_cardinality."""
    bucket = F.expr(hll_bucket_sql(key))
    rho = F.expr(hll_rho_sql(key))
    regs = (
        df.select(*group, bucket.alias("_b"), rho.alias("_rho"), F.col(key))
        .groupBy(*group, "_b")
        .agg(
            F.max("_rho").alias("_reg"),
            *([F.countDistinct(key).alias("_nd")] if exact else []),
        )
    )
    pow2 = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_MAX} - _reg)"
    )
    shift_max = 1 << _HLL_RHO_MAX
    s_expr = (
        F.sum(pow2)
        + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(shift_max)
    ).alias("_S")
    aggs = [s_expr] + ([F.sum("_nd").alias("n_exact")] if exact else [])
    out = regs.groupBy(*group).agg(*aggs) if group else regs.agg(*aggs)
    est = F.expr(
        f"CAST({_HLL_ALPHA_NUM * _HLL_M * _HLL_M} AS BIGINT)"
        f" * {shift_max} div ({_HLL_ALPHA_DEN} * _S)"
    ).alias("est_distinct")
    keep = [*group, *(["n_exact"] if exact else [])]
    return out.select(*keep, est)
