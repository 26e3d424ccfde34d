"""Similarity search (plans/similarity_q.py): the stored IVFPQ index's
compaction and the quantization-error drift diagnostic of its
frozen-quantizer append path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from olympic_athletes_etl_spark.plans.similarity_q import (
    _K,
    _ivfpq_search_stored,
    _km_base,
    _km_fit,
    _pq_fit,
    _probe,
    ivfpq_index_append,
    ivfpq_index_build,
    ivfpq_index_compact,
    ivfpq_index_load,
    ivfpq_index_store,
)
from tests.test_round9_ops import _parquet_files_by_dir


# --------------------------------------------------------------------------
# Store compaction — append-path maintenance
# --------------------------------------------------------------------------
def test_ivfpq_index_compact_serves_identically(spark, sf_dir, tmp_path):
    """store + append (frozen quantizers) → fragmented lists; compact →
    one file per list partition, stored serve unchanged, and the loaded
    row multiset (vec_id, list_id) identical."""
    n = _km_base(spark, sf_dir)
    cents = _km_fit(n)
    books = _pq_fit(n)
    path = str(tmp_path / "index")
    is_new = F.col("vec_id") % 5 == 3
    ivfpq_index_store(ivfpq_index_build(n.filter(~is_new), cents, books), path)
    ivfpq_index_append(n.filter(is_new), cents, books, path)

    args = (cents, books, _probe(n))

    def serve():
        return sorted(
            tuple(r)
            for r in _ivfpq_search_stored(
                ivfpq_index_load(spark, path), *args
            ).collect()
        )

    def rows():
        return sorted(
            (r["vec_id"], r["list_id"])
            for r in ivfpq_index_load(spark, path)
            .select("vec_id", "list_id")
            .collect()
        )

    pre_serve, pre_rows = serve(), rows()
    before = _parquet_files_by_dir(path)
    assert any(c > 1 for c in before.values()), before

    ivfpq_index_compact(spark, path)

    after = _parquet_files_by_dir(path)
    assert set(after) == set(before)
    assert all(c == 1 for c in after.values()), after
    assert serve() == pre_serve
    assert rows() == pre_rows
    assert len(pre_serve) == _K


# --------------------------------------------------------------------------
# IVFPQ drift diagnostic — the frozen-quantizer re-train signal
# --------------------------------------------------------------------------
def test_ivfpq_drift_healthy_baseline(spark, sf_dir):
    """The registered query's vec_id%2 split draws both batches from
    the SAME distribution, so the appended batch's mean residual must
    sit at the training batch's noise floor (well under the ~2x
    re-train flag documented in SCALE.md)."""
    from olympic_athletes_etl_spark.plans import queries

    rows = {
        r["batch"]: r for r in queries()["s_ivfpq_drift"](spark, sf_dir).collect()
    }
    assert set(rows) == {0, 1}
    m0, m1 = rows[0]["mean_err_x10000"], rows[1]["mean_err_x10000"]
    assert 0 < m0 and 0 < m1
    assert max(m0, m1) / min(m0, m1) < 1.2, (m0, m1)
    assert rows[0]["n_vecs"] + rows[1]["n_vecs"] > 0


def test_ivfpq_drift_detects_distribution_shift(spark, sf_dir):
    """A genuinely shifted append batch (axis-spiked directions — the
    corpus embeddings are ~iid-uniform, so per-subspace directions
    cluster where the codebooks tiled them; axis-aligned spikes do
    not) must read STRICTLY higher mean residual than the in-
    distribution batch under the SAME frozen quantizers — the signal
    an operator acts on."""
    from olympic_athletes_etl_spark.plans.similarity_q import (
        _DOT,
        _KM_SCALE,
        _emb_double,
        ivfpq_drift_stats,
    )

    n = _km_base(spark, sf_dir)
    cents, books = _km_fit(n), _pq_fit(n)
    pert = (
        _emb_double(spark, sf_dir)
        .select(
            (F.col("vec_id") * 2 + 1).alias("vec_id"),
            F.expr(
                "transform(v, (x, i) -> CAST(CASE WHEN i % 4 = 0"
                " THEN x + 0.5 ELSE x / 100 END AS DOUBLE))"
            ).alias("v"),
        )
        .withColumn("vnrm", F.sqrt(F.expr(_DOT.format(a="v", b="v"))))
        .withColumn(
            "vq",
            F.expr(f"transform(v, x -> CAST(floor(x * {_KM_SCALE}) AS DOUBLE))"),
        )
        .withColumn("qnrm", F.sqrt(F.expr(_DOT.format(a="vq", b="vq"))))
    )
    idx = ivfpq_index_build(
        n.withColumn("vec_id", F.col("vec_id") * 2), cents, books
    ).unionByName(ivfpq_index_build(pert, cents, books))
    rows = {r["batch"]: r["mean_err_x10000"] for r in ivfpq_drift_stats(idx, books).collect()}
    assert rows[1] > rows[0], rows
