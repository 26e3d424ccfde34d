"""Round-8 operators: merge-compatible kNN-graph persistence
(knn_graph raw_scores / knn_graph_store / knn_graph_load), the stored
IVFPQ index (ivfpq_index_build/store/load + _ivfpq_search_stored — the
deployed serving shape, with real partition pruning), and the
sampled-training knob on the k-means / PQ fits (_train_sample).

The persistence tests pin the production incremental path END-TO-END —
build → store (parquet) → load → merge batch — not just the in-plan
form the registered s_knn_graph_incr uses; the rounded-score hazard
(near-tie rank flips on re-merge) is pinned by the store-time
rejection. The sampled-training tests pin determinism and the measured
recall floors (uniform random embeddings are the worst case — no
cluster structure for the quantizers to exploit; real distributions do
better), in test_pq_recall style.
"""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.plans import oracle_sql
from olympic_athletes_etl_spark.plans.similarity_q import (
    _K,
    _N_CENTROIDS,
    _PQ_KSUB,
    _PQ_M,
    _emb_double,
    _km_ann_search,
    _km_base,
    _km_fit,
    _pq_ann_search,
    _pq_fit,
    knn_graph,
    knn_graph_load,
    knn_graph_merge,
    knn_graph_store,
)


# --------------------------------------------------------------------------
# Merge-compatible graph persistence
# --------------------------------------------------------------------------
def test_knn_graph_store_roundtrip_merge_equals_rebuild(spark, sf_dir, tmp_path):
    """The full production loop: build the old-side graph raw, persist
    to parquet, load, merge the new batch against the STORED graph —
    equals the from-scratch full rebuild exactly (cap 10_000 > corpus,
    so the merge exactness precondition holds; parquet round-trips
    doubles losslessly, so storage adds no drift)."""
    path = str(tmp_path / "graph")
    emb = _emb_double(spark, sf_dir)
    is_new = F.col("vec_id") % 8 == 0
    old_raw = knn_graph(emb.filter(~is_new), bucket_cap=10_000, raw_scores=True)
    knn_graph_store(old_raw, path)
    merged = {
        tuple(r)
        for r in knn_graph_merge(
            emb, is_new, old_graph=knn_graph_load(spark, path), bucket_cap=10_000
        ).collect()
    }
    rebuild = {tuple(r) for r in knn_graph(emb, bucket_cap=10_000).collect()}
    assert merged == rebuild


def test_knn_graph_raw_scores_rounds_to_default(spark, sf_dir):
    """raw_scores=True is the same graph — identical (src, dst, rank)
    triples, and rounding its cos_raw reproduces the default cos_sim."""
    emb = _emb_double(spark, sf_dir)
    raw = {
        (r["src"], r["dst"], round(r["cos_raw"], 4), r["rank"])
        for r in knn_graph(emb, raw_scores=True).collect()
    }
    rounded = {tuple(r) for r in knn_graph(emb).collect()}
    assert raw == rounded


def test_knn_graph_store_rejects_rounded_graph(spark, sf_dir, tmp_path):
    """Storing the rounded default output is the silent-corruption path
    (merge would re-rank quantized scores) — must fail loudly."""
    emb = _emb_double(spark, sf_dir)
    with pytest.raises(ValueError, match="raw_scores=True"):
        knn_graph_store(knn_graph(emb), str(tmp_path / "bad"))


def test_knn_graph_load_rejects_foreign_parquet(spark, sf_dir, tmp_path):
    path = str(tmp_path / "not_a_graph")
    _emb_double(spark, sf_dir).select("vec_id").write.parquet(path)
    with pytest.raises(ValueError, match="no _STORE manifest"):
        knn_graph_load(spark, path)


def test_stored_query_matches_incr_oracle(spark, sf_dir):
    """The registered store→load→merge query shares s_knn_graph_incr's
    oracle — sanity-check the share is real at this SF (the driver gate
    re-proves it at sf0.01)."""
    from olympic_athletes_etl_spark.plans import queries

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(con.sql(oracle_sql()["s_knn_graph_stored"]).fetchall())
    got = sorted(
        tuple(r) for r in queries()["s_knn_graph_stored"](spark, sf_dir).collect()
    )
    assert got == want


def test_knn_graph_merge_multiprobe_equals_rebuild(spark, sf_dir):
    """Policy-matched incremental maintenance at MULTIPROBE recall:
    merging with multiprobe=True (old graph rebuilt in-plan at the same
    policy) equals the one-shot multiprobe rebuild while the cap is
    unbound — the exactness contract carries over per (probe-bucket,
    target) pair. Without the knob, a multiprobe-built graph silently
    degrades under single-probe merges."""
    emb = _emb_double(spark, sf_dir)
    is_new = F.col("vec_id") % 8 == 0
    merged = {
        tuple(r)
        for r in knn_graph_merge(
            emb, is_new, bucket_cap=10_000, multiprobe=True
        ).collect()
    }
    rebuild = {
        tuple(r)
        for r in knn_graph(emb, bucket_cap=10_000, multiprobe=True).collect()
    }
    assert merged == rebuild
    # and the policies genuinely differ: single-probe merge misses edges
    single = {
        tuple(r)
        for r in knn_graph_merge(emb, is_new, bucket_cap=10_000).collect()
    }
    assert single != rebuild


def test_knn_graph_store_merge_chain_two_batches(spark, sf_dir, tmp_path):
    """The ingest loop COMPOSES: build(old) → store → merge batch1 (raw)
    → store → merge batch2 → equals the one-shot full rebuild over
    everything (cap unbound). This is what knn_graph_merge's raw_scores
    output exists for — without it the chain dead-ends after one batch
    behind the rounded cos_sim."""
    emb = _emb_double(spark, sf_dir)
    b1 = F.col("vec_id") % 8 == 0
    b2 = F.col("vec_id") % 8 == 1
    cap = 10_000
    p0, p1 = str(tmp_path / "g0"), str(tmp_path / "g1")
    base = emb.filter(~b1 & ~b2)
    knn_graph_store(knn_graph(base, bucket_cap=cap, raw_scores=True), p0)
    g1 = knn_graph_merge(
        emb.filter(~b2),
        b1,
        old_graph=knn_graph_load(spark, p0),
        bucket_cap=cap,
        raw_scores=True,
    )
    knn_graph_store(g1, p1)
    final = {
        tuple(r)
        for r in knn_graph_merge(
            emb, b2, old_graph=knn_graph_load(spark, p1), bucket_cap=cap
        ).collect()
    }
    rebuild = {tuple(r) for r in knn_graph(emb, bucket_cap=cap).collect()}
    assert final == rebuild


# --------------------------------------------------------------------------
# IVFPQ stored index (the deployed serving shape)
# --------------------------------------------------------------------------
def test_ivfpq_stored_equals_in_plan(spark, sf_dir):
    """Serving from the stored index must equal the in-plan query
    bit-for-bit: codes/assignments round-trip parquet exactly and the
    driver-side coarse quantization is integer-exact (see
    _km_probe_lists) — both queries share one oracle, this pins the
    pair against each other locally too."""
    from olympic_athletes_etl_spark.plans import queries

    got = sorted(
        tuple(r) for r in queries()["s_ann_ivfpq_stored"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r) for r in queries()["s_ann_ivfpq"](spark, sf_dir).collect()
    )
    assert got == want
    assert len(got) == _K


def test_ivfpq_stored_serving_plan_partition_prunes(spark, sf_dir):
    """THE point of the stored layout: the probe-list restriction is a
    PartitionFilter on the index scan — non-probed lists' files are
    never opened (at 100 TB: nprobe/k_lists of the bytes) — and the
    serving plan has zero joins (probe shipped as literals, restriction
    as a literal filter; the in-plan form needs two broadcasts)."""
    from olympic_athletes_etl_spark.plans import queries

    df = queries()["s_ann_ivfpq_stored"](spark, sf_dir)
    txt = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[list_id#\d+ IN \(", txt), txt[:2000]
    for join in ("BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin"):
        assert join not in txt, f"stored serving plan contains {join}"


def test_ivfpq_index_append_serves_identically(spark, sf_dir, tmp_path):
    """The add() path: quantizers fit once, batch encoded with them and
    APPENDED — serving from (stored A + appended B) must equal serving
    from a one-shot store of A ∪ B under the same quantizers (encode is
    deterministic per row; append is file-level union; the scan's
    partition filter is layout-agnostic)."""
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans.similarity_q import (
        _ivfpq_search_stored,
        _km_probe_lists,
        _N_PROBE,
        _QUERY_VEC_ID,
        ivfpq_index_append,
        ivfpq_index_build,
        ivfpq_index_load,
        ivfpq_index_store,
    )

    n = _km_base(spark, sf_dir)
    cents = _km_fit(n)
    books = _pq_fit(n)
    is_new = F.col("vec_id") % 5 == 3
    p_inc = str(tmp_path / "inc")
    p_full = str(tmp_path / "full")
    ivfpq_index_store(
        ivfpq_index_build(n.filter(~is_new), cents, books), p_inc
    )
    ivfpq_index_append(n.filter(is_new), cents, books, p_inc)
    ivfpq_index_store(ivfpq_index_build(n, cents, books), p_full)
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
    inc = sorted(
        tuple(r)
        for r in _ivfpq_search_stored(
            ivfpq_index_load(spark, p_inc), *args
        ).collect()
    )
    full = sorted(
        tuple(r)
        for r in _ivfpq_search_stored(
            ivfpq_index_load(spark, p_full), *args
        ).collect()
    )
    assert inc == full
    assert len(inc) == _K


def test_ivfpq_index_store_rejects_non_index(spark, sf_dir, tmp_path):
    from olympic_athletes_etl_spark.plans.similarity_q import ivfpq_index_store

    with pytest.raises(ValueError, match="ivfpq_index_build"):
        ivfpq_index_store(_emb_double(spark, sf_dir), str(tmp_path / "bad"))


def test_ivfpq_index_load_rejects_foreign_parquet(spark, sf_dir, tmp_path):
    from olympic_athletes_etl_spark.plans.similarity_q import ivfpq_index_load

    path = str(tmp_path / "not_an_index")
    _emb_double(spark, sf_dir).select("vec_id").write.parquet(path)
    with pytest.raises(ValueError, match="no _STORE manifest"):
        ivfpq_index_load(spark, path)


def test_km_probe_lists_matches_in_plan_assignment(spark, sf_dir):
    """The driver-side coarse quantizer must agree with the in-plan
    probe kernel (same folded dots, same (sim DESC, c_id ASC)
    tie-break) — checked for the probe vector across nprobe=ALL lists,
    i.e. the full preference order, not just the top-2."""
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans.similarity_q import (
        _km_probe_ids_np_col,
        _km_probe_lists,
        _QUERY_VEC_ID,
    )

    n = _km_base(spark, sf_dir)
    cents = _km_fit(n)
    probe = (
        n.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select("vq", _km_probe_ids_np_col(cents, len(cents)).alias("pls"))
        .collect()[0]
    )
    probe_q = [int(x) for x in probe["vq"]]
    in_plan = list(probe["pls"])
    assert _km_probe_lists(probe_q, cents, len(cents)) == in_plan


# --------------------------------------------------------------------------
# BPE merge learning (distributed tokenizer training)
# --------------------------------------------------------------------------
def _bpe_reference(texts, n_merges):
    """Independent pure-Python BPE (word-count formulation, max-count
    then lexicographic tie-break, left-to-right greedy merge) — the
    correctness yardstick for the distributed trainer, since the merge
    loop's data-dependent literals admit no static SQL oracle."""
    import re as _re
    from collections import Counter

    wf = Counter(w for t in texts for w in _re.split(r"\s+", t) if w)
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


def test_bpe_learn_merges_matches_reference(spark, sf_dir):
    """Exact merge-sequence equality (rules AND counts) with the
    independent Python implementation — 6 rounds, so later iterations
    exercise merges over already-merged multi-char symbols."""
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.plans.textstats import bpe_learn_merges

    docs = load(spark, sf_dir, "documents")
    got = bpe_learn_merges(docs, n_merges=6)
    texts = [r["text"] for r in docs.select("text").collect()]
    assert got == _bpe_reference(texts, 6)
    assert len(got) == 6


def test_bpe_apply_merge_exhaustive_small_cases(spark):
    """Exhaustive left-to-right-greedy pin for the merge fold: EVERY
    symbol sequence of length 0..5 over {a, b} under merges (a, b) and
    (a, a) — 126 sequences x 2 rules in one DataFrame — equals the
    Python fold. Catches exactly the overlap semantics corpus text may
    never exercise (aaa under (a,a) must give [aa, a], abab must give
    [ab, ab], a merged symbol must not re-match as its left half)."""
    import itertools

    from olympic_athletes_etl_spark.plans.textstats import _apply_merge

    seqs = [
        list(t)
        for n in range(6)
        for t in itertools.product("ab", repeat=n)
    ]

    def py_fold(s, a, b):
        out = []
        for x in s:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        return out

    for a, b in [("a", "b"), ("a", "a")]:
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(seqs)], "id long, syms array<string>"
        )
        got = {
            r["id"]: list(r["merged"])
            for r in df.select(
                "id", _apply_merge(a, b).alias("merged")
            ).collect()
        }
        want = {i: py_fold(s, a, b) for i, s in enumerate(seqs)}
        assert got == want


def test_bpe_encode_matches_reference(spark, sf_dir):
    """The serving half: encode every document with the learned rules —
    token sequences equal the Python encoder's (same per-word fold, in
    learned merge order, document order restored after the shuffle)."""
    import re as _re

    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.plans.textstats import (
        bpe_encode,
        bpe_learn_merges,
    )

    docs = load(spark, sf_dir, "documents")
    merges = bpe_learn_merges(docs, n_merges=4)
    enc = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode(docs, merges).collect()
    }

    def apply(s, a, b):
        out = []
        for x in s:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        return out

    for r in docs.select("doc_id", "text").collect():
        toks = []
        for w in _re.split(r"\s+", r["text"]):
            if not w:
                continue
            s = list(w)
            for a, b, _cnt in merges:
                s = apply(s, a, b)
            toks.extend(s)
        assert enc[r["doc_id"]] == toks


def test_bpe_learn_merges_validates(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.plans.textstats import bpe_learn_merges

    with pytest.raises(ValueError, match="n_merges"):
        bpe_learn_merges(load(spark, sf_dir, "documents"), n_merges=0)


# --------------------------------------------------------------------------
# Sampled-training knob
# --------------------------------------------------------------------------
def test_train_mod_validation(spark, sf_dir):
    n = _km_base(spark, sf_dir)
    with pytest.raises(ValueError, match="train_mod"):
        _km_fit(n, train_mod=0)
    with pytest.raises(ValueError, match="train_mod"):
        _pq_fit(n, train_mod=-1)


def test_km_sampled_fit_is_deterministic_and_distinct(spark, sf_dir):
    """Same sample → bit-identical centroids (integer-exact iteration is
    mod-independent); the sampled fit actually trains on the sample
    (init ids are the sample's lowest vec_ids, not 0..k-1)."""
    n = _km_base(spark, sf_dir)
    a = _km_fit(n, train_mod=4)
    b = _km_fit(n, train_mod=4)
    assert a == b
    assert len(a) == _N_CENTROIDS
    assert all(c % 4 == 0 for c, _ in a)  # ids drawn from the sample


def test_pq_sampled_fit_shape_and_determinism(spark, sf_dir):
    books = _pq_fit(_km_base(spark, sf_dir), train_mod=4)
    assert set(books) == set(range(_PQ_M))
    for cents in books.values():
        assert 1 <= len(cents) <= _PQ_KSUB
        assert all(c % 4 == 0 for c, _ in cents)


def test_sampled_query_matches_its_oracle(spark, sf_dir):
    """s_ann_ivf_sampled against its own mod-4 unrolled oracle — the
    cross-engine bit-identity of the SAMPLED fit (the driver gate
    re-proves at sf0.01)."""
    from olympic_athletes_etl_spark.plans import queries

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(con.sql(oracle_sql()["s_ann_ivf_sampled"]).fetchall())
    got = sorted(
        tuple(r) for r in queries()["s_ann_ivf_sampled"](spark, sf_dir).collect()
    )
    assert got == want


def test_full_fit_oracles_unchanged_by_train_mod_plumbing():
    """The train_mod parameterization must leave the DEFAULT oracles
    byte-identical: the existing full-fit queries (s_ann_ivf_kmeans,
    s_kmeans_clusters, s_ann_ivfpq, ...) keep the literal
    ``vec_id < k`` init and gain no sampling CTE."""
    from olympic_athletes_etl_spark.plans.similarity_q import (
        _km_ann_oracle,
        _km_train_ctes,
        _N_CENTROIDS,
    )

    default_sql, _ = _km_train_ctes()
    assert default_sql == _km_train_ctes(1)[0]
    assert f"WHERE vec_id < {_N_CENTROIDS}" in default_sql
    assert "tr AS" not in default_sql
    sampled_sql, _ = _km_train_ctes(4)
    assert "vec_id % 4 = 0" in sampled_sql
    assert oracle_sql()["s_ann_ivf_kmeans"] == _km_ann_oracle()


def _exact_topk_ids(sf_dir: str) -> set[int]:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    return {r[0] for r in con.sql(oracle_sql()["s_knn_bruteforce"]).fetchall()}


def test_km_sampled_training_recall_meets_measured_floor(spark, sf_dir):
    """IVF search with mod-4-sampled centroids, through the SAME serving
    path as the gated query. Measured: 0.8 at sf0.001 (== full fit),
    0.6 at sf0.01 (full fit 1.0 — with 16 centroids / nprobe 2 over
    uniform random data the Voronoi partition is seed-sensitive; the
    production trade is sample-training cost vs exactly this recall)."""
    exact = _exact_topk_ids(sf_dir)
    n = _km_base(spark, sf_dir)
    got = {
        r["vec_id"]
        for r in _km_ann_search(n, _km_fit(n, train_mod=4)).collect()
    }
    assert len(got) == _K
    assert len(exact & got) / _K >= 0.6


def test_pq_sampled_training_recall_meets_measured_floor(spark, sf_dir):
    """PQ ADC search with mod-4-sampled codebooks: measured 0.8 at
    sf0.001 and 1.0 at sf0.01 — the 16 subspace codebooks average out
    single-subspace quantization error, so sampling costs no recall at
    either test SF."""
    exact = _exact_topk_ids(sf_dir)
    n = _km_base(spark, sf_dir)
    got = {
        r["vec_id"]
        for r in _pq_ann_search(n, _pq_fit(n, train_mod=4)).collect()
    }
    assert len(got) == _K
    assert len(exact & got) / _K >= 0.8
