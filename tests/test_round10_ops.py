"""Round-10 edge-case pins: empty-input behavior of the stored-index
partials (flagged in round-9 advice) — an empty ingest batch must store
clean integer zeros (the HLL empty-window serve pin is in test_sketch_q).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bm25_empty_batch_stats_store_integer_zeros(spark):
    """bm25_index_build on an empty batch stores stats (0, 0) — not
    (0, NULL) — so the all-integer exact-round-trip contract holds
    without relying on null-skipping in the serve/compact sums."""
    from olympic_athletes_etl_spark.plans.textstats import bm25_index_build

    empty = spark.createDataFrame([], "doc_id long, text string")
    row = bm25_index_build(empty)["stats"].collect()[0]
    assert (row["n_docs"], row["sum_dl"]) == (0, 0)


def test_qhist_rollup_compact_is_serve_invariant(spark, sf_dir, tmp_path):
    """The quantile-histogram store (round-10 family on the shared
    GenStore): double-append fragments months into multiple partial
    rows; compaction folds to one (month, bucket) row per pair via the
    generation-swap commit, and both the per-month and the range serve
    are unchanged."""
    from olympic_athletes_etl_spark.operators.store import read_manifest
    from olympic_athletes_etl_spark.plans.relational import (
        _qhist_partials,
        qhist_rollup_append,
        qhist_rollup_compact,
        qhist_rollup_serve,
        qhist_rollup_serve_range,
        qhist_rollup_store,
    )
    from olympic_athletes_etl_spark.plans.tables import load

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    b1 = F.col("o_orderkey") % 2 == 0  # months span both batches
    path = str(tmp_path / "qhist")
    qhist_rollup_store(_qhist_partials(orders.filter(b1)), path)
    qhist_rollup_append(_qhist_partials(orders.filter(~b1)), path)
    pre = sorted(tuple(r) for r in qhist_rollup_serve(spark, path).collect())
    pre_range = qhist_rollup_serve_range(spark, path, "1995-01", "1995-12").collect()
    assert read_manifest(path)["gen"] == 0

    qhist_rollup_compact(spark, path)
    assert read_manifest(path)["gen"] == 1
    post = sorted(tuple(r) for r in qhist_rollup_serve(spark, path).collect())
    assert post == pre and len(post) > 0
    assert (
        qhist_rollup_serve_range(spark, path, "1995-01", "1995-12").collect()
        == pre_range
    )
    # quantile sanity: p50 <= p95, both positive bucket caps
    for _m, n, p50, p95 in post:
        assert 0 < p50 <= p95 and n > 0


def test_bm25_compact_killed_between_tables_serves_consistently(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The BM25 store's one-manifest-for-three-tables claim: kill the
    compaction AFTER postings and dlen are rewritten but BEFORE the
    stats table lands — the store must keep serving the complete
    PRE-compaction index (no mixed-generation read where merged
    postings pair with old stats), and a retry must converge."""
    from pyspark.sql.readwriter import DataFrameWriter

    from olympic_athletes_etl_spark.operators.store import read_manifest
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.plans.textstats import (
        _BM25_TERMS,
        _BM25_TOPN,
        bm25_index_append,
        bm25_index_build,
        bm25_index_compact,
        bm25_index_store,
        bm25_serve,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    bm25_index_store(bm25_index_build(docs.filter(F.col("doc_id") < 25)), path)
    bm25_index_append(docs.filter(F.col("doc_id") >= 25), path)
    want = [
        tuple(r) for r in bm25_serve(spark, path, _BM25_TERMS, _BM25_TOPN).collect()
    ]

    real_parquet = DataFrameWriter.parquet

    def die_on_stats(self, p, **kw):
        if "gen-1" in p and p.rstrip("/").endswith("stats"):
            raise RuntimeError("simulated crash before stats rewrite")
        return real_parquet(self, p, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", die_on_stats)
    with pytest.raises(RuntimeError, match="simulated crash"):
        bm25_index_compact(spark, path)
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    assert read_manifest(path)["gen"] == 0  # commit never happened
    got = [
        tuple(r) for r in bm25_serve(spark, path, _BM25_TERMS, _BM25_TOPN).collect()
    ]
    assert got == want  # consistent pre-compaction serve

    bm25_index_compact(spark, path)  # retry sweeps the orphan and commits
    assert read_manifest(path)["gen"] == 1
    assert [
        tuple(r) for r in bm25_serve(spark, path, _BM25_TERMS, _BM25_TOPN).collect()
    ] == want
