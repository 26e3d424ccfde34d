"""Deterministic k-means (similarity_q): structural properties the
DuckDB parity check can't express — full coverage, bounded cluster ids,
run-to-run determinism, and that training actually moved the centroids
off their init."""

from __future__ import annotations

import uuid

import pytest

from olympic_athletes_etl_spark.plans.similarity_q import (
    _KM_ITERS,
    _N_CENTROIDS,
    _km_base,
    _km_fit,
    _pq_fit,
    s_kmeans_clusters,
)


def test_kmeans_clusters_cover_all_vectors(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.tables import load

    n_vecs = load(spark, sf_dir, "embeddings").count()
    rows = s_kmeans_clusters(spark, sf_dir).collect()
    assert len(rows) == n_vecs
    assert {r["vec_id"] for r in rows} == set(range(n_vecs))
    clusters = {r["cluster"] for r in rows}
    assert clusters <= set(range(_N_CENTROIDS))
    assert len(clusters) > 1  # learning produced a non-degenerate partition
    # similarity-to-assigned-centroid is a cosine: bounded
    assert all(-1.0 <= r["centroid_sim"] <= 1.0 for r in rows)


def test_kmeans_fit_is_deterministic_and_learns(spark, sf_dir):
    n = _km_base(spark, sf_dir)
    a = _km_fit(n)
    b = _km_fit(n)
    assert a == b  # bit-identical across runs (integer-exact iteration)
    assert _KM_ITERS >= 1
    init = sorted(
        (int(r["vec_id"]), [int(x) for x in r["vq"]])
        for r in n.filter(n.vec_id < _N_CENTROIDS).select("vec_id", "vq").collect()
    )
    # after an update, centroids are member SUMS, not the init vectors
    assert a != init


def test_kmeans_fit_invariant_to_partitioning(spark, sf_dir):
    """The central determinism claim: centroids are integer sums of
    integer-valued doubles, so the result cannot depend on partition
    count or row order within partitions. Re-fit under different
    physical layouts and demand bit-identical centroids."""
    base = _km_base(spark, sf_dir)
    a = _km_fit(base.repartition(3))
    b = _km_fit(base.repartition(11, "vec_id"))
    assert a == b


# --------------------------------------------------------------------------
# Fit-round sizing: one Python task per Arrow batch of rows
# --------------------------------------------------------------------------
def _run_tagged_rounds(spark, sums_name, fit, n):
    """Run ``fit(n)`` with every Lloyd round (``sums_name``) in its own
    job group. Returns (fit result, per-round Python task count): the
    task count of each round's first stage, the mapInPandas scan of the
    round input."""
    from olympic_athletes_etl_spark.plans import similarity_q as sq

    sc = spark.sparkContext
    orig = getattr(sq, sums_name)
    groups: list[str] = []

    def tagged(df, model):
        groups.append(f"{sums_name}-{uuid.uuid4().hex}")
        sc.setJobGroup(groups[-1], groups[-1])
        try:
            return orig(df, model)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sq, sums_name, tagged)
        out = fit(n)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    tasks = []
    for g in groups:
        stages = sorted(
            s for j in st.getJobIdsForGroup(g) for s in st.getJobInfo(j).stageIds
        )
        tasks.append(st.getStageInfo(stages[0]).numTasks)
    return out, tasks


def test_fit_rounds_run_one_python_task_per_arrow_batch(spark, sf_dir):
    """The sizing rule: each Lloyd round gets
    max(1, min(base partitions, ceil(rows / maxRecordsPerBatch))) Python
    tasks. The test data's few hundred embedding rows fit one Arrow
    batch, so every round is one task. Lowering maxRecordsPerBatch
    spreads the rounds over several partitions, and the integer-exact
    sums must give the identical centroids and codebooks."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    n = _km_base(spark, sf_dir)
    rows = n.count()
    assert rows <= int(spark.conf.get(conf))
    km1, km_tasks = _run_tagged_rounds(spark, "_km_round_sums", _km_fit, n)
    pq1, pq_tasks = _run_tagged_rounds(spark, "_pq_round_sums", _pq_fit, n)
    assert km_tasks == [1] * _KM_ITERS
    assert pq_tasks and set(pq_tasks) == {1}

    spark.conf.set(conf, "50")
    try:
        km_n, km_tasks = _run_tagged_rounds(spark, "_km_round_sums", _km_fit, n)
        pq_n, pq_tasks = _run_tagged_rounds(spark, "_pq_round_sums", _pq_fit, n)
    finally:
        spark.conf.unset(conf)
    want = min(spark.sparkContext.defaultParallelism, -(-rows // 50))
    assert want > 1
    assert set(km_tasks) == {want} and set(pq_tasks) == {want}
    assert km_n == km1
    assert pq_n == pq1


def test_fits_release_their_base_checkpoint(spark, sf_dir):
    """The fits release the checkpoint itself, not the coalesced view
    the rounds read: _release_checkpoint silently ignores a frame whose
    plan is not the checkpoint's LogicalRDD, so a wrong target would
    leave the base's blocks persisted."""
    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    n = _km_base(spark, sf_dir)
    for fit in (_km_fit, _pq_fit):
        before = n_persistent()
        fit(n)
        assert n_persistent() == before
