"""The centroid-ranking kernel (_np_sims_fn) and every consumer of it ==
the DuckDB oracles' ranking, bit-for-bit.

Every oracle hash in the s_* ANN family rides on the engine ranking a
vector against centroids exactly as the oracle's ``ORDER BY sim DESC,
c_id ASC`` does. The reference for each consumer is therefore the
oracle engine itself: DuckDB SQL over the shared training CTEs
(_km_train_ctes, _pq_train_ctes) — the "expression" the test names
refer to — for the fits, the list assignment, the probe lists, the PQ
codes and the drift residual. The pure-numpy tests
at the end pin the kernel's edge cases (ties, zero norms, NaN, empty
batches), which real data never produces."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.plans.similarity_q import (
    _KM_SCALE,
    _N_PROBE,
    _PQ_ITERS,
    _PQ_M,
    _km_assign_np_col,
    _km_base,
    _km_fit,
    _km_fit_for,
    _km_probe_ids_np_col,
    _km_probe_lists,
    _km_train_ctes,
    _np_entry_data,
    _np_sims_fn,
    _pq_codes_np_col,
    _pq_drift_err_np_col,
    _pq_fit,
    _pq_fit_for,
    _pq_train_ctes,
    ivfpq_index_build,
)

# the quantized base every PQ oracle trains over (_pq_oracle's nq2)
_NQ2 = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), nq2 AS (
      SELECT vec_id, list_transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE)) AS vq
      FROM e
    )"""


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    yield con
    con.close()


def _as_cents(rows) -> list[tuple[int, list[int]]]:
    return sorted((int(c), [int(x) for x in cv]) for c, cv in rows)


def test_km_fit_matches_expression_round(spark, sf_dir, duck):
    """Full and sampled fits == the final centroids of the oracle's
    unrolled Lloyd CTEs."""
    n = _km_base(spark, sf_dir)
    for train_mod in (1, 3):
        ctes, cent = _km_train_ctes(train_mod)
        want = _as_cents(duck.sql(f"{ctes} SELECT c_id, cv FROM {cent}").fetchall())
        assert _km_fit(n, train_mod) == want, train_mod


def test_pq_fit_matches_expression_round(spark, sf_dir, duck):
    """Full and sampled fits == the final codebooks of the oracle's
    per-subspace CTEs."""
    n = _km_base(spark, sf_dir)
    for train_mod in (1, 3):
        assert _pq_fit(n, train_mod) == _duck_pq_books(duck, train_mod), train_mod


def _duck_pq_books(duck, train_mod: int) -> dict[int, list[tuple[int, list[int]]]]:
    # _pq_train_ctes initialises each codebook from the base's rows with
    # vec_id < ksub, the full fit's init. The sampled fit's init is the
    # SAMPLE's lowest-vec_id rows, so there the base renumbers the sample
    # by vec_id rank — an order-preserving relabel, so the ranking and
    # its c_id tie-break are unchanged — and the codebooks map it back.
    rank_id = (
        "vec_id"
        if train_mod == 1
        else "CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)"
    )
    base = f""", tr AS (
      SELECT {rank_id} AS vec_id, vec_id AS orig, vq
      FROM nq2 WHERE vec_id % {train_mod} = 0
    )"""
    sql = _NQ2 + base + _pq_train_ctes("tr")
    want = {}
    for j in range(_PQ_M):
        rows = duck.sql(
            f"{sql} SELECT t.orig, c.cv FROM cent{j}_{_PQ_ITERS} c"
            " JOIN tr t ON t.vec_id = c.c_id"
        ).fetchall()
        want[j] = _as_cents(rows)
    return want


def test_km_assign_kernel_matches_expression(spark, sf_dir, duck):
    ctes, _ = _km_train_ctes()
    want = sorted(duck.sql(f"{ctes} SELECT vec_id, list_id FROM asgF").fetchall())
    got = sorted(
        tuple(r)
        for r in _km_base(spark, sf_dir)
        .select("vec_id", _km_assign_np_col(_km_fit_for(spark, sf_dir)))
        .collect()
    )
    assert got == want


def test_km_probe_ids_kernel_matches_sorted_slice(spark, sf_dir, duck):
    ctes, cent = _km_train_ctes()
    want = sorted(
        duck.sql(
            f"""{ctes}, ranked AS (
      SELECT nq.vec_id, c.c_id,
             row_number() OVER (
               PARTITION BY nq.vec_id
               ORDER BY list_dot_product(nq.vq, c.cv)
                        / (nq.qnrm * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                        c.c_id ASC) AS rk
      FROM nq CROSS JOIN {cent} c
    )
    SELECT vec_id, list(c_id ORDER BY rk) FROM ranked
    WHERE rk <= {_N_PROBE} GROUP BY vec_id"""
        ).fetchall()
    )
    got = sorted(
        (r[0], list(r[1]))
        for r in _km_base(spark, sf_dir)
        .select(
            "vec_id", _km_probe_ids_np_col(_km_fit_for(spark, sf_dir), _N_PROBE)
        )
        .collect()
    )
    assert got == want


def test_pq_codes_kernel_matches_expression(spark, sf_dir, duck):
    sql = _NQ2 + _pq_train_ctes("nq2")
    codes = ", ".join(f"codes{j}.code" for j in range(_PQ_M))
    joins = " ".join(f"JOIN codes{j} USING (vec_id)" for j in range(1, _PQ_M))
    want = sorted(
        (r[0], list(r[1:]))
        for r in duck.sql(
            f"{sql} SELECT codes0.vec_id, {codes} FROM codes0 {joins}"
        ).fetchall()
    )
    got = sorted(
        (r[0], list(r[1]))
        for r in _km_base(spark, sf_dir)
        .select("vec_id", _pq_codes_np_col(_pq_fit_for(spark, sf_dir)))
        .collect()
    )
    assert got == want


def test_drift_err_kernel_matches_duckdb(spark, sf_dir, duck):
    drift = "".join(
        f""", drift{j} AS (
      SELECT k.vec_id,
             10000 - floor(10000 * (list_dot_product(s.sq, c.cv)
               / (s.sqn * sqrt(list_dot_product(c.cv, c.cv))))) AS err
      FROM codes{j} k JOIN sub{j} s USING (vec_id)
      JOIN cent{j}_{_PQ_ITERS} c ON c.c_id = k.code
    )"""
        for j in range(_PQ_M)
    )
    total = " + ".join(f"drift{j}.err" for j in range(_PQ_M))
    joins = " ".join(f"JOIN drift{j} USING (vec_id)" for j in range(1, _PQ_M))
    want = sorted(
        duck.sql(
            _NQ2 + _pq_train_ctes("nq2") + drift
            + f" SELECT vec_id, CAST({total} AS BIGINT) FROM drift0 {joins}"
        ).fetchall()
    )
    n = _km_base(spark, sf_dir)
    books = _pq_fit_for(spark, sf_dir)
    idx = ivfpq_index_build(n, _km_fit_for(spark, sf_dir), books)
    got = sorted(
        tuple(r)
        for r in idx.select("vec_id", _pq_drift_err_np_col(books)).collect()
    )
    assert got == want


def test_drift_err_kernel_nulls_unknown_codes(spark, sf_dir):
    """Books/index mismatch tripwire: an out-of-book code must yield a
    NULL err, so sum(err)-vs-count(1) reconciliation can catch a
    desynced index."""
    n = _km_base(spark, sf_dir)
    cents = _km_fit_for(spark, sf_dir)
    books = _pq_fit_for(spark, sf_dir)
    idx = ivfpq_index_build(n, cents, books).withColumn(
        "code0", F.lit(999)
    )
    rows = (
        idx.withColumn("err", _pq_drift_err_np_col(books))
        .select("err")
        .limit(5)
        .collect()
    )
    assert rows and all(r["err"] is None for r in rows)


# --------------------------------------------------------------------------
# Edge cases of the sims closure — pure numpy, no Spark
# --------------------------------------------------------------------------
# c_ids 2 and 5 share a direction, so any row ties them exactly
_TIED = [(5, [1, 0]), (9, [0, 1]), (2, [1, 0])]


def _sims(cents):
    c_ids, comps, cdots = _np_entry_data(cents)
    return c_ids, _np_sims_fn(comps, cdots)


def _argmax_ids(c_ids, S):
    return [c_ids[i] for i in np.argmax(S, axis=1)]


def _probe_ids(c_ids, S):
    return [[c_ids[i] for i in r] for r in np.argsort(-S, axis=1, kind="stable")]


def test_sims_exact_ties_go_to_lowest_c_id():
    c_ids, sims = _sims(_TIED)
    S = sims(np.array([[3.0, 0.0], [1.0, 1.0]]), None)
    assert _argmax_ids(c_ids, S) == [2, 2]
    assert _probe_ids(c_ids, S) == [[2, 5, 9], [2, 5, 9]]
    assert _km_probe_lists([3, 0], _TIED, 3) == [2, 5, 9]


def test_sims_zero_norm_row_falls_back_to_c_id_order():
    c_ids, sims = _sims(_TIED)
    S = sims(np.array([[0.0, 0.0]]), np.array([0.0]))
    assert np.all(S == -np.inf)
    assert _argmax_ids(c_ids, S) == [2]
    assert _probe_ids(c_ids, S) == [[2, 5, 9]]
    assert _km_probe_lists([0, 0], _TIED, 3) == [2, 5, 9]


def test_sims_nan_wins_argmax_like_spark():
    """inf·0 makes c_id 9's sim NaN while 2 and 5 get +inf. The argmax
    picks the NaN (Spark's total order ranks NaN above every double);
    the probe order, a stable argsort, sorts it last."""
    c_ids, sims = _sims(_TIED)
    with np.errstate(invalid="ignore"):
        S = sims(np.array([[np.inf, 1.0]]), np.array([1.0]))
    assert np.isnan(S[0, c_ids.index(9)])
    assert _argmax_ids(c_ids, S) == [9]
    assert _probe_ids(c_ids, S) == [[2, 5, 9]]


def test_sims_empty_batch():
    c_ids, sims = _sims(_TIED)
    S = sims(np.zeros((0, 2)), np.zeros(0))
    assert S.shape == (0, 3)
    assert np.argmax(S, axis=1).shape == (0,)
    assert sims(np.zeros((0, 2)), None).shape == (0, 3)


def test_zero_norm_centroid_is_refused():
    with pytest.raises(ValueError, match="zero-norm centroid"):
        _np_entry_data([(0, [1, 0]), (1, [0, 0])])
