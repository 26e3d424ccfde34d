"""Semantic invariants for the late-round-3 query additions not covered
by test_corpus_ops / test_relational_batch3 / test_tpch_close."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.plans.dedup_q import (
    d_containment_pairs,
    d_dup_rate_by_source,
    d_jaccard_histogram,
    d_minhash_lsh,
    d_ngram_jaccard,
)
from olympic_athletes_etl_spark.plans.events_q import (
    e_dow_hour_profile,
    e_user_pareto,
)
from olympic_athletes_etl_spark.plans.multimodal_q import m_payload_dedup
from olympic_athletes_etl_spark.plans.similarity_q import (
    _K_GRAPH,
    _emb_double,
    knn_graph,
    s_dim_profile,
    s_knn_graph,
    s_knn_graph_ivf,
    s_knn_graph_multiprobe,
)
from olympic_athletes_etl_spark.plans.tables import load
from olympic_athletes_etl_spark.plans.textstats import (
    _STRIDE,
    _WIN,
    t_chunk_overlap,
)
from olympic_athletes_etl_spark.plans.tpch_close import q_revenue_trend_mom


def test_dow_hour_profile_partitions_events(spark, sf_dir):
    rows = e_dow_hour_profile(spark, sf_dir).collect()
    assert sum(r["n"] for r in rows) == load(spark, sf_dir, "events").count()
    for r in rows:
        assert 1 <= r["dow"] <= 7 and 0 <= r["hr"] <= 23


def test_revenue_trend_mom_identity(spark, sf_dir):
    rows = sorted(
        q_revenue_trend_mom(spark, sf_dir).collect(), key=lambda r: (r["yr"], r["mo"])
    )
    assert rows[0]["mom_pct"] is None  # no prior month
    for prev, cur in zip(rows, rows[1:]):
        if cur["mom_pct"] is not None and prev["revenue"] > 0:
            expect = 100.0 * (cur["revenue"] - prev["revenue"]) / prev["revenue"]
            assert abs(cur["mom_pct"] - round(expect, 4)) < 1e-6


def test_jaccard_histogram_covers_all_candidates(spark, sf_dir):
    hist = d_jaccard_histogram(spark, sf_dir).collect()
    n_cand = d_minhash_lsh(spark, sf_dir).count()
    assert sum(r["n_pairs"] for r in hist) == n_cand
    for r in hist:
        assert 0 <= r["jacc_decile"] <= 10  # 10 = exact-duplicate bucket


def test_containment_dominates_jaccard(spark, sf_dir):
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in d_containment_pairs(spark, sf_dir).collect()
    }
    assert cont
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in d_ngram_jaccard(spark, sf_dir).collect()
    }
    for pair, c in cont.items():
        assert 0.8 <= c <= 1.0
        if pair in jac:
            # |i|/min(|a|,|b|) >= |i|/|a∪b| always (different shingle
            # capping makes this approximate only if the hot-cap fired;
            # the synthetic corpus has no capped shingles at this SF)
            assert c >= jac[pair] - 1e-9


def test_user_pareto_is_cumulative_and_complete(spark, sf_dir):
    # round-4 shape: one row per DISTINCT activity level (n_ev), not per
    # user — the bounded curve that replaced the global per-user cumsum.
    rows = sorted(e_user_pareto(spark, sf_dir).collect(), key=lambda r: -r["n_ev"])
    events = load(spark, sf_dir, "events")
    assert rows[-1]["cum_ev"] == events.count()
    assert rows[-1]["cum_users"] == events.select("user_id").distinct().count()
    assert abs(rows[-1]["cum_pct"] - 100.0) < 1e-6
    assert abs(rows[-1]["user_pct"] - 100.0) < 1e-6
    assert len(rows) == len({r["n_ev"] for r in rows})  # distinct levels
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_ev"] < prev["n_ev"]  # strictly descending grid
        assert cur["cum_ev"] == prev["cum_ev"] + cur["n_ev"] * cur["n_users"]
        assert cur["cum_users"] == prev["cum_users"] + cur["n_users"]


def test_dup_rate_by_source_accounts_for_every_doc(spark, sf_dir):
    rows = d_dup_rate_by_source(spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert sum(r["n_dupes"] for r in rows) == docs.count() - n_distinct


def test_payload_dedup_matches_text_dedup(spark, sf_dir):
    rows = m_payload_dedup(spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert len(rows) == docs.select(F.md5("text")).distinct().count()
    assert sum(r["n_copies"] for r in rows) == docs.count()


def test_dim_profile_shape_and_counts(spark, sf_dir):
    rows = s_dim_profile(spark, sf_dir).collect()
    n_vec = load(spark, sf_dir, "embeddings").count()
    assert len(rows) == 64
    for r in rows:
        assert r["n"] == n_vec
        assert r["min_e6"] <= r["max_e6"]
        assert r["n"] * r["min_e6"] <= r["sum_e6"] <= r["n"] * r["max_e6"]


def test_chunk_overlap_covers_and_reconstructs(spark, sf_dir):
    rows = t_chunk_overlap(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"].split()
        for r in load(spark, sf_dir, "documents").collect()
    }
    # regex \s+ split == str.split() on this corpus (single-space text)
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, wins in by_doc.items():
        toks = docs[doc_id]
        wins.sort(key=lambda r: r["win_idx"])
        # every window is the exact slice at its stride offset
        for w in wins:
            lo = w["win_idx"] * _STRIDE
            assert w["win_text"].split() == toks[lo : lo + _WIN]
        # full coverage: last window reaches the end of the doc
        last = wins[-1]
        assert last["win_idx"] * _STRIDE + last["win_tokens"] >= len(toks)


def test_knn_graph_ranks_are_contiguous_topk(spark, sf_dir):
    rows = s_knn_graph(spark, sf_dir).collect()
    by_src: dict[int, list] = {}
    for r in rows:
        assert -1.0 - 1e-9 <= r["cos_sim"] <= 1.0 + 1e-9
        assert r["src"] != r["dst"]
        by_src.setdefault(r["src"], []).append(r)
    for src, edges in by_src.items():
        ranks = sorted(e["rank"] for e in edges)
        assert ranks == list(range(1, len(edges) + 1))
        assert len(edges) <= _K_GRAPH
        # ranks ordered by similarity desc
        edges.sort(key=lambda e: e["rank"])
        for a, b in zip(edges, edges[1:]):
            assert a["cos_sim"] >= b["cos_sim"] - 1e-9


def test_knn_graph_hot_bucket_cap_bounds_candidates(spark):
    """The per-bucket target cap is the kNN-graph's skew guard: a
    degenerate corpus where EVERY vector lands in one LSH bucket (all
    vectors share a direction, so every plane dot product has the same
    sign) must not go quadratic. With cap=c the candidate volume is
    exactly n·c − c (each source scores the first c bucket members by
    vec_id, minus itself), not n·(n−1) — asserted by ranking with k
    large enough to keep every candidate."""
    n, cap = 40, 5
    rows = [(i, [float(i)] * 64) for i in range(1, n + 1)]
    emb = spark.createDataFrame(rows, "vec_id: long, v: array<double>")
    out = knn_graph(emb, k=n, bucket_cap=cap).collect()
    # candidate volume is linear in n: n*cap minus the cap self-pairs
    assert len(out) == n * cap - cap
    # only the first `cap` members (by vec_id) serve as targets...
    assert {r["dst"] for r in out} == set(range(1, cap + 1))
    # ...but every vector still gets its own neighbor list
    assert {r["src"] for r in out} == set(range(1, n + 1))
    # identical directions: all cosines 1, ties broken by dst ascending
    first = {r["src"]: r["dst"] for r in out if r["rank"] == 1}
    assert first[1] == 2 and first[cap + 1] == 1


def test_knn_graph_rejects_degenerate_knobs(spark):
    import pytest

    emb = spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id: long, v: array<double>"
    )
    with pytest.raises(ValueError, match="n_planes"):
        knn_graph(emb, n_planes=0)
    with pytest.raises(ValueError, match="bucket_cap"):
        knn_graph(emb, bucket_cap=0)
    with pytest.raises(ValueError, match="k"):
        knn_graph(emb, k=0)


def test_knn_graph_multiprobe_recall_vs_exact(spark, sf_dir):
    """Recall yardstick (the test_pq_recall pattern): both kNN-graph
    variants against the exact all-pairs top-k graph. Multi-probe must
    (a) dominate single-probe recall, (b) clear the measured floor, and
    (c) close the singleton-bucket coverage gap — every vector emits a
    neighbor list. Floors are measured-at-sf0.001 minus slack; the
    point pinned is the RELATIONSHIP, not the exact recall."""
    import numpy as np

    emb = _emb_double(spark, sf_dir).collect()
    ids = [r["vec_id"] for r in emb]
    V = np.array([r["v"] for r in emb])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    np.fill_diagonal(S, -2.0)
    exact = set()
    for i in range(len(ids)):
        sims = S[i]
        top = sorted(range(len(ids)), key=lambda j: (-sims[j], ids[j]))
        for j in top[:_K_GRAPH]:
            exact.add((ids[i], ids[j]))
    single = {
        (r["src"], r["dst"]) for r in s_knn_graph(spark, sf_dir).collect()
    }
    multi = {
        (r["src"], r["dst"])
        for r in s_knn_graph_multiprobe(spark, sf_dir).collect()
    }
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single
    assert r_multi >= 0.10  # measured 0.125 at sf0.001
    assert {s for s, _ in multi} == set(ids)
    # the data-adaptive variant: learned lists follow density, so its
    # recall beats random planes at the same candidate budget, and
    # nprobe=2 closes coverage completely
    ivf = {
        (r["src"], r["dst"])
        for r in s_knn_graph_ivf(spark, sf_dir).collect()
    }
    r_ivf = len(ivf & exact) / len(exact)
    assert r_ivf >= r_multi
    assert r_ivf >= 0.30  # measured 0.388 at sf0.001
    assert {s for s, _ in ivf} == set(ids)


def test_peak_concurrency_carries_over_hour_boundaries(spark, sf_dir):
    # review-caught scenario: two sessions starting at 09:50/09:55 are
    # both live at 10:00-10:20 though no boundary marker falls in hour 10
    # with a positive running sum at max — the hour spine must carry it.
    import datetime as dt

    from olympic_athletes_etl_spark.plans.events_q import e_peak_concurrency
    from olympic_athletes_etl_spark.plans.tables import load

    rows = {r["hour"]: r["peak_concurrent"] for r in e_peak_concurrency(spark, sf_dir).collect()}
    # recompute ground truth per hour by dense minute sampling of spans
    from olympic_athletes_etl_spark.plans.events_q import _sessionized
    from pyspark.sql import functions as F

    spans = (
        _sessionized(load(spark, sf_dir, "events"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s0"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s1"),
        )
        .collect()
    )
    intervals = [(r["s0"], r["s1"]) for r in spans]
    # ground truth at minute granularity (session boundaries are always
    # on exact microseconds; minute sampling plus the boundary points
    # covers every change point because we also sample each boundary)
    points = sorted({t for s0, s1 in intervals for t in (s0, s1)})
    per_hour: dict[str, int] = {}
    for t in points:
        live = sum(1 for s0, s1 in intervals if s0 <= t < s1)
        hour = str(t.replace(minute=0, second=0, microsecond=0))
        per_hour[hour] = max(per_hour.get(hour, 0), live)
        # also credit the NEXT hour boundary if the interval spans it
    # carry-in: live count exactly at each hour start
    if points:
        h = points[0].replace(minute=0, second=0, microsecond=0)
        end = points[-1]
        while h <= end:
            live = sum(1 for s0, s1 in intervals if s0 <= h < s1)
            if live > 0:
                key = str(h)
                per_hour[key] = max(per_hour.get(key, 0), live)
            h += dt.timedelta(hours=1)
    per_hour = {k: v for k, v in per_hour.items() if v > 0}
    assert rows == per_hour


def test_knn_graph_broadcast_hint_respects_static_bound(spark):
    """The capped target side is broadcast ONLY while its static
    2^n_planes·cap row bound fits _BROADCAST_ROW_BOUND: at registered
    defaults the pre-AQE plan must carry the broadcast (the checkpoint
    hides the bound from the size estimator), and at corpus-scale knob
    settings the hint must be absent — forcing an over-limit broadcast
    there would fail outright on a real cluster instead of falling back
    to the bucket-keyed shuffle join."""
    rows = [(i, [float(i + d) for d in range(64)]) for i in range(1, 9)]
    emb = spark.createDataFrame(rows, "vec_id: long, v: array<double>")

    small = knn_graph(emb)  # default 8 planes · cap 64 = 16k <= bound
    p_small = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p_small

    big = knn_graph(emb, n_planes=20)  # 2^20 · 64 >> bound
    p_big = big._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in p_big
    # results are knob-shaped but both forms still rank correctly
    assert all(r["rank"] <= _K_GRAPH for r in big.collect())


def test_knn_graph_merge_equals_rebuild_when_cap_unbound(spark, sf_dir):
    """The exactness contract of incremental maintenance: while the
    bucket cap does not bind, merging the new batch into the old graph
    reproduces the full rebuild EXACTLY (any rebuild top-k neighbor of
    an old source is either new — generated by the batch joins — or
    old and already in the old graph; see knn_graph_merge docstring).
    Cap 10_000 > corpus size, so no bucket ever truncates."""
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans.similarity_q import (
        knn_graph_merge,
    )

    emb = _emb_double(spark, sf_dir)
    is_new = F.col("vec_id") % 8 == 0
    rebuild = {
        (r["src"], r["dst"], r["cos_sim"], r["rank"])
        for r in knn_graph(emb, bucket_cap=10_000).collect()
    }
    merged = {
        (r["src"], r["dst"], r["cos_sim"], r["rank"])
        for r in knn_graph_merge(emb, is_new, bucket_cap=10_000).collect()
    }
    assert merged == rebuild


def test_knn_graph_merge_accepts_stored_old_graph(spark, sf_dir):
    """The production path — the old graph comes from storage instead of
    being rebuilt in-plan — must give the identical result to the
    self-contained form (old_graph=None). Exercised by materializing
    the old-side raw edges exactly as a previous build would have
    persisted them."""
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans.similarity_q import (
        _GRAPH_BUCKET_CAP,
        _N_PLANES,
        _bucketed_corpus,
        _capped_targets,
        _graph_probes,
        _pair_edges,
        _target_bound,
        _topk_raw,
        knn_graph_merge,
    )

    emb = _emb_double(spark, sf_dir)
    is_new = F.col("vec_id") % 8 == 0
    old_n = _bucketed_corpus(emb.filter(~is_new), _N_PLANES)
    stored = _topk_raw(
        _pair_edges(
            _graph_probes(old_n, _N_PLANES, False),
            _capped_targets(old_n, _GRAPH_BUCKET_CAP),
            _target_bound(_N_PLANES, _GRAPH_BUCKET_CAP),
        ),
        _K_GRAPH,
    ).select("src", "dst", "cos_raw")
    self_contained = {
        tuple(r) for r in knn_graph_merge(emb, is_new).collect()
    }
    from_storage = {
        tuple(r)
        for r in knn_graph_merge(emb, is_new, old_graph=stored).collect()
    }
    assert from_storage == self_contained


def test_knn_graph_rejects_bucketed_frame_of_other_plane_count(spark, sf_dir):
    """A ``bucketed=`` frame hashed with another n_planes would probe
    the wrong buckets silently; both builders check the plane count
    _bucketed_corpus tags on the bucket column and raise at the call.
    The tag survives the checkpoint and a filter, so a frame built with
    the matching count is accepted."""
    from olympic_athletes_etl_spark.plans.similarity_q import (
        _N_PLANES,
        _bucketed_corpus,
        knn_graph,
        knn_graph_merge,
    )

    emb = _emb_double(spark, sf_dir)
    is_new = F.col("vec_id") % 8 == 0
    other = _bucketed_corpus(emb, _N_PLANES - 2)
    untagged = emb.select(
        "vec_id", "v", F.lit(1.0).alias("nrm"), F.lit(0).alias("bucket")
    )
    for bad in (other, untagged):
        with pytest.raises(ValueError, match="n_planes"):
            knn_graph(emb, bucketed=bad.filter(~is_new))
        with pytest.raises(ValueError, match="n_planes"):
            knn_graph_merge(emb, is_new, bucketed=bad)
    ok = _bucketed_corpus(emb, _N_PLANES)
    knn_graph(
        emb, bucketed=ok.filter(~is_new).select("vec_id", "v", "nrm", "bucket")
    )
    knn_graph_merge(emb, is_new, bucketed=ok)


def test_graph_recall_orders_variants(spark, sf_dir):
    """The registered recall yardstick must agree with the pinned
    recall relationships (ivf >= multiprobe >= lsh) and its denominator
    must be exactly sampled-sources x k."""
    from olympic_athletes_etl_spark.plans.similarity_q import (
        _RECALL_MOD,
        s_graph_recall,
    )

    rows = {r["variant"]: r for r in s_graph_recall(spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "multiprobe", "ivf"}
    n_src = (
        _emb_double(spark, sf_dir)
        .filter(F.col("vec_id") % _RECALL_MOD == 0)
        .count()
    )
    for r in rows.values():
        assert r["n_exact"] == n_src * _K_GRAPH
        assert 0 <= r["n_hit"] <= r["n_exact"]
        assert r["recall_x10000"] == 10000 * r["n_hit"] // r["n_exact"]
    assert (
        rows["ivf"]["recall_x10000"]
        >= rows["multiprobe"]["recall_x10000"]
        >= rows["lsh"]["recall_x10000"]
    )
