"""Round-9 operators: store compaction for the IVFPQ append-path index
(ivfpq_index_compact — serve-invariant, small-file count actually
reduced; the LSH postings twin is in test_dedup), the driver-local BPE merge loop +
mapInPandas encoder (production merge counts without per-merge Spark
jobs), the fixed-merge-list encode query, and the IVFPQ quantization-
error drift diagnostic for the frozen-quantizer append path.
"""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.plans.similarity_q import (
    _K,
    _N_PROBE,
    _QUERY_VEC_ID,
    _ivfpq_search_stored,
    _km_base,
    _km_fit,
    _km_probe_lists,
    _pq_fit,
    ivfpq_index_append,
    ivfpq_index_build,
    ivfpq_index_compact,
    ivfpq_index_load,
    ivfpq_index_store,
)


def _parquet_files_by_dir(path: str) -> dict[str, int]:
    """{partition-dir name: parquet file count} under a partitioned store
    (generation-resolved: counts the CURRENT generation's files)."""
    from olympic_athletes_etl_spark.operators.store import (
        read_manifest,
        resolve_data_dir,
    )

    if read_manifest(path) is not None:
        path = resolve_data_dir(path)
    out: dict[str, int] = {}
    for f in glob.glob(os.path.join(path, "*", "*.parquet")):
        out[os.path.basename(os.path.dirname(f))] = (
            out.get(os.path.basename(os.path.dirname(f)), 0) + 1
        )
    return out


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

    probe = (
        n.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("v", "vnrm", "vq")
        .collect()[0]
    )
    probe_q = [int(x) for x in probe["vq"]]
    args = (
        books,
        probe_q,
        [float(x) for x in probe["v"]],
        float(probe["vnrm"]),
        _km_probe_lists(probe_q, cents, _N_PROBE),
    )

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
# BPE at production merge counts — local trainer + mapInPandas encoder
# --------------------------------------------------------------------------
def test_bpe_local_trainer_equals_distributed(spark, sf_dir):
    """The driver-local merge loop (one distributed word-count scan,
    then incremental pair counts + lazy-invalidation heap) must emit
    the EXACT merge sequence — rules and counts — of the distributed
    per-merge loop. 8 merges so later iterations merge multi-char
    symbols through the incremental delta path."""
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.plans.textstats import (
        bpe_learn_merges,
        bpe_learn_merges_local,
    )

    docs = load(spark, sf_dir, "documents")
    assert bpe_learn_merges_local(docs, n_merges=8) == bpe_learn_merges(
        docs, n_merges=8
    )


def test_bpe_local_trainer_handles_recreated_pairs():
    """A later merge can re-create an earlier merged pair BY STRING
    VALUE ((x, yz) and (xy, z) both make 'xyz'); the incremental loop
    must re-insert its count instead of treating it as consumed — the
    recount-from-scratch reference is the yardstick. Crafted vocab
    where the incremental bookkeeping diverges if the pop-and-rebuild
    path is wrong."""
    from collections import Counter

    from olympic_athletes_etl_spark.plans.textstats import (
        _bpe_merges_from_word_freqs,
    )

    def recount_reference(wf, n_merges):
        vocab = {w: list(w) for w in wf}
        merges = []
        for _ in range(n_merges):
            pc = Counter()
            for w, f in wf.items():
                s = vocab[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += f
            if not pc:
                break
            (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((a, b, cnt))
            for w in vocab:
                out = []
                for x in vocab[w]:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                vocab[w] = out
        return merges

    cases = [
        # 'ab' learned first; later (a, b)-shaped adjacency re-created
        # by a different merge producing the same string
        {"abab": 10, "aabb": 6, "abba": 4, "bab": 3, "aa": 2},
        {"xyz": 9, "xy": 8, "yz": 7, "xyzxyz": 5, "zyx": 4},
        {"aaaa": 7, "aaa": 6, "aa": 5, "a": 4},
        {"the": 5, "then": 4, "them": 3, "he": 6, "hen": 2},
    ]
    for wf in cases:
        for n in (1, 3, 6, 12):
            assert _bpe_merges_from_word_freqs(dict(wf), n) == recount_reference(
                dict(wf), n
            ), (wf, n)


def test_bpe_encode_pandas_equals_fold_encoder(spark, sf_dir):
    """The Arrow-batched encoder must produce byte-identical token
    sequences to the chained-fold encoder for the same learned rules
    (per-doc, in document order)."""
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.plans.textstats import (
        bpe_encode,
        bpe_encode_pandas,
        bpe_learn_merges_local,
    )

    docs = load(spark, sf_dir, "documents")
    merges = bpe_learn_merges_local(docs, n_merges=6)
    fold = {
        r["doc_id"]: list(r["tokens"]) for r in bpe_encode(docs, merges).collect()
    }
    arrow = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode_pandas(docs, merges).collect()
    }
    assert arrow == fold
    assert len(arrow) == docs.count()


def test_bpe_learned_rules_through_arrow_encoder_end_to_end(spark, sf_dir):
    """The full production composition at production-ish merge counts:
    bpe_learn_merges_local learns >= 89 merges (the measured
    fold-vs-Arrow crossover in SCALE.md sat at 89 — past the point
    where the chained-fold encoder is no longer the deployed form),
    and bpe_encode_pandas on the LEARNED rules must equal a pure-Python
    reference fold applied driver-side — closing train -> encode as one
    loop, not each half separately (the r9 gates froze the merge
    list)."""
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.plans.textstats import (
        bpe_encode_pandas,
        bpe_learn_merges_local,
    )

    docs = load(spark, sf_dir, "documents")
    merges = bpe_learn_merges_local(docs, n_merges=120)
    assert len(merges) >= 89, len(merges)  # production-ish rule count

    rules = [(a, b) for a, b, _cnt in merges]

    def ref_encode(text: str) -> list[str]:
        out: list[str] = []
        for w in text.split():
            syms = list(w)
            for a, b in rules:  # rules in learned order
                merged: list[str] = []
                i = 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        merged.append(a + b)  # consumed symbol can't restart
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                syms = merged
            out.extend(syms)
        return out

    want = {
        r["doc_id"]: ref_encode(r["text"])
        for r in docs.select("doc_id", "text").collect()
    }
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode_pandas(docs, merges).collect()
    }
    assert got == want


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


def test_bpe_encoders_agree_on_tokenless_docs(spark):
    """Empty/whitespace-only documents must be OMITTED by both encoders
    (the fold's posexplode yields no rows for them): a corpus with such
    docs is where the mapInPandas twin could silently diverge by
    emitting empty token arrays instead."""
    from olympic_athletes_etl_spark.plans.textstats import (
        bpe_encode,
        bpe_encode_pandas,
    )

    docs = spark.createDataFrame(
        [(1, "ab a b"), (2, ""), (3, "   "), (4, "b ab")],
        "doc_id long, text string",
    )
    merges = [("a", "b")]
    fold = {r["doc_id"]: list(r["tokens"]) for r in bpe_encode(docs, merges).collect()}
    arrow = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode_pandas(docs, merges).collect()
    }
    assert fold == arrow == {1: ["ab", "a", "b"], 4: ["b", "ab"]}


# --------------------------------------------------------------------------
# dense_ids — fact-scale two-phase global id (w_dense_id's operator)
# --------------------------------------------------------------------------
class TestDenseIds:
    def _df(self, spark, n=1000, parts=7):
        # deliberately scrambled input order and a non-trivial payload col
        rows = [((i * 7919) % n, f"p{i % 13}") for i in range(n)]
        return spark.createDataFrame(rows, "k int, payload string").repartition(parts)

    def test_matches_global_row_number(self, spark):
        from pyspark.sql import Window

        from olympic_athletes_etl_spark.operators.scale import dense_ids

        df = self._df(spark)
        got = {
            (r["k"], r["dense_id"])
            for r in dense_ids(df, ["k"], num_partitions=5).collect()
        }
        want = {
            (r["k"], r["rn"])
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy("k"))
            ).collect()
        }
        assert got == want

    def test_partition_count_invariance(self, spark):
        from olympic_athletes_etl_spark.operators.scale import dense_ids

        df = self._df(spark, n=500)
        a = sorted(
            (r["k"], r["dense_id"])
            for r in dense_ids(df, ["k"], num_partitions=1).collect()
        )
        b = sorted(
            (r["k"], r["dense_id"])
            for r in dense_ids(df, ["k"], num_partitions=11).collect()
        )
        assert a == b

    def test_ids_dense_and_payload_carried(self, spark):
        from olympic_athletes_etl_spark.operators.scale import dense_ids

        df = self._df(spark, n=300)
        out = dense_ids(df, ["k"], num_partitions=4).collect()
        ids = sorted(r["dense_id"] for r in out)
        assert ids == list(range(1, 301))
        # the payload column rides along unchanged, zipped to its own row
        by_k = {r["k"]: r["payload"] for r in df.collect()}
        assert all(r["payload"] == by_k[r["k"]] for r in out)

    def test_empty_input(self, spark):
        from olympic_athletes_etl_spark.operators.scale import dense_ids

        df = spark.createDataFrame([], "k int, payload string")
        assert dense_ids(df, ["k"], num_partitions=3).count() == 0

    def test_composite_order_key(self, spark):
        from pyspark.sql import Window

        from olympic_athletes_etl_spark.operators.scale import dense_ids

        rows = [(i % 10, (i * 31) % 97, i) for i in range(400)]
        df = spark.createDataFrame(rows, "a int, b int, v int").repartition(6)
        got = {
            (r["a"], r["b"], r["v"], r["dense_id"])
            for r in dense_ids(df, ["a", "b", "v"], num_partitions=5).collect()
        }
        want = {
            (r["a"], r["b"], r["v"], r["rn"])
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy("a", "b", "v"))
            ).collect()
        }
        assert got == want


# --------------------------------------------------------------------------
# Stored rollup — continuous-aggregate lifecycle (store/append/compact/serve)
# --------------------------------------------------------------------------
class TestRollupStore:
    def _build(self, spark, sf_dir, tmp_path, n_appends=1):
        from olympic_athletes_etl_spark.plans.relational import (
            _INCR_SPLIT,
            _monthly_partials,
            rollup_append,
            rollup_store,
        )
        from olympic_athletes_etl_spark.plans.tables import load

        orders = load(spark, sf_dir, "orders").withColumn(
            "d", F.col("o_orderdate").cast("date")
        )
        path = str(tmp_path / "rollup")
        rollup_store(
            _monthly_partials(orders.filter(F.col("d") < _INCR_SPLIT)), path
        )
        batch = _monthly_partials(orders.filter(F.col("d") >= _INCR_SPLIT))
        for _ in range(n_appends):
            rollup_append(batch, path)
        return path, orders, batch

    def test_compact_is_serve_invariant_and_merges_files(
        self, spark, sf_dir, tmp_path
    ):
        from olympic_athletes_etl_spark.plans.relational import (
            rollup_compact,
            rollup_load,
            rollup_serve,
        )

        # two appends of the same batch → its months hold >1 partial row,
        # so compaction must strictly REDUCE the stored row count (the
        # prior `<=` form was vacuous: a 1-append build has disjoint
        # months and nothing to merge)
        path, _, _ = self._build(spark, sf_dir, tmp_path, n_appends=2)
        before = sorted(tuple(r) for r in rollup_serve(spark, path).collect())
        pre_rows = rollup_load(spark, path).count()
        rollup_compact(spark, path)
        after = sorted(tuple(r) for r in rollup_serve(spark, path).collect())
        assert before == after
        post = rollup_load(spark, path).groupBy("month").count().collect()
        assert all(r["count"] == 1 for r in post)
        assert len(post) < pre_rows
        files = _parquet_files_by_dir(path)
        assert files and all(n == 1 for n in files.values()), files

    def test_double_append_still_serves_exactly(self, spark, sf_dir, tmp_path):
        """Appending the same batch twice must double-count — append is
        pure fold-in, so the algebra (not dedup magic) owns the result."""
        from olympic_athletes_etl_spark.plans.relational import rollup_serve
        from olympic_athletes_etl_spark.plans.tables import load

        path, orders, batch = self._build(spark, sf_dir, tmp_path, n_appends=2)
        got = {
            r["month"]: (r["n_orders"], r["total_cents"])
            for r in rollup_serve(spark, path).collect()
        }
        batch_rows = {
            r["month"]: (r["n_orders"], r["total_cents"])
            for r in batch.collect()
        }
        from olympic_athletes_etl_spark.plans.relational import (
            _monthly_partials,
        )

        full = {
            r["month"]: (r["n_orders"], r["total_cents"])
            for r in _monthly_partials(orders).collect()
        }
        for m, (n, cents) in got.items():
            base_n, base_c = full[m]
            extra_n, extra_c = batch_rows.get(m, (0, 0))
            assert (n, cents) == (base_n + extra_n, base_c + extra_c)

    def test_slice_serve_partition_prunes(self, spark, sf_dir, tmp_path):
        """The month-range serve reads only the requested directories:
        the BETWEEN lands as PartitionFilters on the partials scan."""
        from olympic_athletes_etl_spark.plans.relational import rollup_serve

        path, _, _ = self._build(spark, sf_dir, tmp_path)
        df = rollup_serve(spark, path).filter(
            F.col("month").between("1995-01", "1995-12")
        )
        txt = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(
            r"PartitionFilters: \[.*month#\d+ >= 1995-01.*month#\d+ <= 1995-12",
            txt,
        ), txt[:2000]
        assert df.count() == 12

    def test_store_rejects_wrong_frame(self, spark, tmp_path):
        from olympic_athletes_etl_spark.plans.relational import (
            rollup_append,
            rollup_store,
        )

        bad = spark.createDataFrame([("x", 1)], "month string, n_orders long")
        path = tmp_path / "nope"
        for write in (rollup_store, rollup_append):
            with pytest.raises(ValueError, match="total_cents"):
                write(bad, str(path))
            assert not path.exists()


# --------------------------------------------------------------------------
# Stored BM25 index — retrieval-index lifecycle (build/store/append/
# compact/serve)
# --------------------------------------------------------------------------
class TestBM25Store:
    def test_polyhash_py_matches_spark_and_duckdb(self, spark):
        import duckdb

        from olympic_athletes_etl_spark.plans.textstats import (
            _polyhash_py,
            polyhash_duck,
            polyhash_spark,
        )

        samples = ["spark", "merge", "window", "", "a", "héllo", "日本語x"]
        df = spark.createDataFrame([(s,) for s in samples], "t string")
        got_spark = {
            r["t"]: r["h"]
            for r in df.select("t", polyhash_spark("t").alias("h")).collect()
        }
        con = duckdb.connect()
        for s in samples:
            want = _polyhash_py(s)
            assert got_spark[s] == want, s
            if not s:
                # '' never reaches the hash in any query (tokens are
                # split on whitespace and filtered non-empty); DuckDB's
                # ord('') differs from Spark's ascii('') there.
                continue
            duck = con.execute(
                f"SELECT {polyhash_duck('t')} FROM (SELECT ? AS t)", [s]
            ).fetchone()[0]
            assert duck == want, s

    def test_stored_serve_equals_in_plan(self, spark, sf_dir):
        from olympic_athletes_etl_spark.plans import queries

        got = [tuple(r) for r in queries()["t_bm25_stored"](spark, sf_dir).collect()]
        want = [tuple(r) for r in queries()["t_bm25_rank"](spark, sf_dir).collect()]
        assert got == want and len(got) > 0

    def test_append_and_compact_are_serve_invariant(
        self, spark, sf_dir, tmp_path
    ):
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
        one_shot = str(tmp_path / "oneshot")
        bm25_index_store(bm25_index_build(docs), one_shot)
        want = [
            tuple(r)
            for r in bm25_serve(spark, one_shot, _BM25_TERMS, _BM25_TOPN).collect()
        ]

        split = 20  # sf0.001 has 50 docs — both halves non-empty here
        staged = str(tmp_path / "staged")
        bm25_index_store(
            bm25_index_build(docs.filter(F.col("doc_id") < split)), staged
        )
        bm25_index_append(docs.filter(F.col("doc_id") >= split), staged)
        got_appended = [
            tuple(r)
            for r in bm25_serve(spark, staged, _BM25_TERMS, _BM25_TOPN).collect()
        ]
        assert got_appended == want
        bm25_index_compact(spark, staged)
        got_compacted = [
            tuple(r)
            for r in bm25_serve(spark, staged, _BM25_TERMS, _BM25_TOPN).collect()
        ]
        assert got_compacted == want
        # compaction folded the stats partials to one row and one file/bucket
        from olympic_athletes_etl_spark.operators.store import resolve_data_dir

        assert spark.read.parquet(resolve_data_dir(staged, "stats")).count() == 1
        files = _parquet_files_by_dir(resolve_data_dir(staged, "postings"))
        assert files and all(n == 1 for n in files.values()), files

    def test_serve_plan_partition_prunes(self, spark, sf_dir, tmp_path):
        from olympic_athletes_etl_spark.plans.tables import load
        from olympic_athletes_etl_spark.plans.textstats import (
            _BM25_TERMS,
            _BM25_TOPN,
            bm25_index_build,
            bm25_index_store,
            bm25_serve,
        )

        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        path = str(tmp_path / "idx")
        bm25_index_store(bm25_index_build(docs), path)
        df = bm25_serve(spark, path, _BM25_TERMS, _BM25_TOPN)
        txt = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[tbucket#\d+ IN \(", txt), txt[:2000]

    def test_store_rejects_wrong_frame(self, spark, tmp_path):
        from olympic_athletes_etl_spark.plans.textstats import bm25_index_store

        bad = {
            "postings": spark.createDataFrame([(1,)], "doc_id long"),
            "dlen": None,
            "stats": None,
        }
        path = tmp_path / "nope"
        with pytest.raises(ValueError, match="tbucket"):
            bm25_index_store(bad, str(path))
        assert not path.exists()


# --------------------------------------------------------------------------
# Stored HLL rollup — mergeable-sketch partials (store/append/compact/serve)
# --------------------------------------------------------------------------
class TestHLLRollup:
    def _store(self, spark, sf_dir, tmp_path, batches):
        from olympic_athletes_etl_spark.plans.sketch_q import (
            hll_rollup_append,
            hll_rollup_partials,
            hll_rollup_store,
        )
        from olympic_athletes_etl_spark.plans.tables import load

        events = load(spark, sf_dir, "events")
        path = str(tmp_path / "regs")
        first, *rest = batches
        hll_rollup_store(hll_rollup_partials(first(events)), path)
        for b in rest:
            hll_rollup_append(hll_rollup_partials(b(events)), path)
        return path, events

    def test_batched_store_equals_one_shot(self, spark, sf_dir, tmp_path):
        """Register merge across batches: user-parity batches put every
        day in both files, so correct serving REQUIRES the max-merge."""
        from olympic_athletes_etl_spark.plans.sketch_q import hll_rollup_serve

        path, _ = self._store(
            spark,
            sf_dir,
            tmp_path / "a",
            [
                lambda e: e.filter(F.col("user_id") % 2 == 0),
                lambda e: e.filter(F.col("user_id") % 2 == 1),
            ],
        )
        one, _ = self._store(spark, sf_dir, tmp_path / "b", [lambda e: e])
        got = sorted(tuple(r) for r in hll_rollup_serve(spark, path).collect())
        want = sorted(tuple(r) for r in hll_rollup_serve(spark, one).collect())
        assert got == want and len(got) > 0

    def test_replayed_batch_cannot_double_count(self, spark, sf_dir, tmp_path):
        """max is idempotent: appending the SAME partials twice leaves
        every estimate unchanged — the robustness the exact (count, sum)
        rollup lacks (its double-append test shows the doubling)."""
        from olympic_athletes_etl_spark.plans.sketch_q import hll_rollup_serve

        odd = lambda e: e.filter(F.col("user_id") % 2 == 1)  # noqa: E731
        once, _ = self._store(spark, sf_dir, tmp_path / "once", [odd])
        twice, _ = self._store(spark, sf_dir, tmp_path / "twice", [odd, odd])
        assert sorted(
            tuple(r) for r in hll_rollup_serve(spark, once).collect()
        ) == sorted(tuple(r) for r in hll_rollup_serve(spark, twice).collect())

    def test_compact_is_serve_invariant(self, spark, sf_dir, tmp_path):
        from olympic_athletes_etl_spark.plans.sketch_q import (
            hll_rollup_compact,
            hll_rollup_load,
            hll_rollup_serve,
        )

        path, _ = self._store(
            spark,
            sf_dir,
            tmp_path,
            [
                lambda e: e.filter(F.col("user_id") % 2 == 0),
                lambda e: e.filter(F.col("user_id") % 2 == 1),
            ],
        )
        before = sorted(tuple(r) for r in hll_rollup_serve(spark, path).collect())
        hll_rollup_compact(spark, path)
        after = sorted(tuple(r) for r in hll_rollup_serve(spark, path).collect())
        assert before == after
        per_key = (
            hll_rollup_load(spark, path).groupBy("day", "b").count().collect()
        )
        assert all(r["count"] == 1 for r in per_key)
        files = _parquet_files_by_dir(path)
        assert files and all(n == 1 for n in files.values()), files

    def test_range_serve_prunes_and_matches_raw(self, spark, sf_dir, tmp_path):
        from olympic_athletes_etl_spark.operators.sketches import (
            hll_cardinality,
        )
        from olympic_athletes_etl_spark.plans.sketch_q import (
            _HLL_RANGE_HI,
            _HLL_RANGE_LO,
            hll_rollup_serve_range,
        )

        path, events = self._store(spark, sf_dir, tmp_path, [lambda e: e])
        df = hll_rollup_serve_range(spark, path, _HLL_RANGE_LO, _HLL_RANGE_HI)
        txt = df._jdf.queryExecution().executedPlan().toString()
        # the day directory key may be re-inferred as DATE, so the
        # pushed bounds appear as cast(day as string) >= / <= literals
        assert re.search(
            r"PartitionFilters: \[.*day#\d+[^\]]*>= 2024-01-10", txt
        ), txt[:2000]
        want = hll_cardinality(
            events.filter(
                F.col("ts")
                .cast("date")
                .cast("string")
                .between(_HLL_RANGE_LO, _HLL_RANGE_HI)
            ),
            "user_id",
        ).collect()[0]["est_distinct"]
        assert df.collect()[0]["est_distinct"] == want

    def test_store_rejects_wrong_frame(self, spark, tmp_path):
        from olympic_athletes_etl_spark.plans.sketch_q import (
            hll_rollup_append,
            hll_rollup_store,
        )

        bad = spark.createDataFrame([("x", 1)], "day string, b long")
        path = tmp_path / "nope"
        for write in (hll_rollup_store, hll_rollup_append):
            with pytest.raises(ValueError, match="reg"):
                write(bad, str(path))
            assert not path.exists()


# --------------------------------------------------------------------------
# Dense-id store — the identity-column lifecycle (assign/store/append/serve)
# --------------------------------------------------------------------------
class TestDenseIdStore:
    def test_append_continues_and_never_rewrites_history(
        self, spark, tmp_path
    ):
        from olympic_athletes_etl_spark.operators.scale import (
            dense_ids,
            dense_ids_append,
            dense_ids_load,
            dense_ids_store,
        )

        hist = spark.createDataFrame([(k,) for k in (5, 1, 9, 3)], "k int")
        path = str(tmp_path / "ids")
        dense_ids_store(dense_ids(hist, ["k"], num_partitions=2), path)
        stored_before = {
            r["k"]: r["dense_id"] for r in dense_ids_load(spark, path).collect()
        }
        # batch keys interleave BETWEEN history keys — a global re-rank
        # would renumber history; the identity column must not
        batch = spark.createDataFrame([(k,) for k in (2, 8)], "k int")
        dense_ids_append(spark, batch, path, ["k"], num_partitions=2)
        after = {
            r["k"]: r["dense_id"] for r in dense_ids_load(spark, path).collect()
        }
        for k, i in stored_before.items():
            assert after[k] == i  # history ids untouched
        assert {after[2], after[8]} == {5, 6}  # continues from stored max
        assert after[2] == 5 and after[8] == 6  # batch's own key order
        assert sorted(after.values()) == list(range(1, 7))  # still dense

    def test_append_to_empty_like_store(self, spark, tmp_path):
        from olympic_athletes_etl_spark.operators.scale import (
            dense_ids,
            dense_ids_append,
            dense_ids_load,
            dense_ids_store,
        )

        empty = spark.createDataFrame([], "k int")
        path = str(tmp_path / "ids")
        dense_ids_store(dense_ids(empty, ["k"], num_partitions=2), path)
        batch = spark.createDataFrame([(7,), (4,)], "k int")
        dense_ids_append(spark, batch, path, ["k"], num_partitions=2)
        got = {r["k"]: r["dense_id"] for r in dense_ids_load(spark, path).collect()}
        assert got == {4: 1, 7: 2}  # max() over empty store -> NULL -> 0

    def test_store_rejects_frame_without_ids(self, spark):
        from olympic_athletes_etl_spark.operators.scale import dense_ids_store

        bad = spark.createDataFrame([(1,)], "k int")
        with pytest.raises(ValueError, match="dense_id"):
            dense_ids_store(bad, "/tmp/nope")
