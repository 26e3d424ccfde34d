"""Invariant tests beyond oracle parity — round-3 ADVICE backfill plus
every round-4 addition: each assertion is a property an oracle MIRRORING
a bug would not catch — conservation against the raw tables, internal
consistency between columns, non-vacuity at a SF where the query
actually produces rows, and (where feasible) full recomputation by an
INDEPENDENT algorithm (numpy midrank AUC, Python BFS/interval-union/
island scans, collocation recounts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.plans import queries
from olympic_athletes_etl_spark.plans.tables import load

_SF001 = "/root/testdata/sf0.01"


def _q(name):
    return queries()[name]


# ---------------------------------------------------------------- events


def test_burst_minutes_nonvacuous_and_internally_consistent(spark):
    # sf0.001 yields zero bursts (sparse traffic never clears the n>=3
    # floor) — the parity gate is vacuous there, so pin at sf0.01.
    rows = _q("e_burst_minutes")(spark, _SF001).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n"] >= 3
        assert r["n"] * 60 > 3 * r["trail_sum"]  # the exact spike test
        assert 0 <= r["trail_n"] <= 60  # at most one row per trailing minute
        assert r["trail_sum"] >= r["trail_n"] or r["trail_n"] == 0


def test_bot_suspects_conserves_events_and_flags_consistently(spark, sf_dir):
    rows = _q("e_bot_suspects")(spark, sf_dir).collect()
    events = load(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in rows) == events.count()
    assert len(rows) == events.select("user_id").distinct().count()
    for r in rows:
        assert r["is_suspect"] == (r["n_subsecond"] * 10 > r["n_events"])
        assert 0 <= r["n_subsecond"] <= r["n_events"]
        # a user's only event has no gap; otherwise min gap exists
        assert (r["min_gap_us"] is None) == (r["n_events"] == 1)


def test_user_growth_is_monotone_and_totals_distinct_users(spark, sf_dir):
    rows = sorted(_q("e_user_growth")(spark, sf_dir).collect(), key=lambda r: r["day"])
    events = load(spark, sf_dir, "events")
    n_users = events.select("user_id").distinct().count()
    assert rows[-1]["cum_users"] == n_users
    assert sum(r["n_new"] for r in rows) == n_users
    running = 0
    for r in rows:
        assert r["n_new"] >= 1  # a day appears only when someone is new
        running += r["n_new"]
        assert r["cum_users"] == running


def test_type_mix_daily_partitions_each_day(spark, sf_dir):
    rows = _q("e_type_mix_daily")(spark, sf_dir).collect()
    events = load(spark, sf_dir, "events")
    assert sum(r["n"] for r in rows) == events.count()
    by_day: dict[str, list] = {}
    for r in rows:
        by_day.setdefault(r["day"], []).append(r)
    for day, parts in by_day.items():
        total = parts[0]["day_total"]
        assert all(p["day_total"] == total for p in parts)
        assert sum(p["n"] for p in parts) == total
        assert abs(sum(p["share"] for p in parts) - 1.0) < 1e-4


# ------------------------------------------------------------ similarity


def test_knn_batch_ranks_contiguous_and_bounded(spark, sf_dir):
    rows = _q("s_knn_batch")(spark, sf_dir).collect()
    assert rows
    by_probe: dict[int, list] = {}
    for r in rows:
        assert r["probe_id"] != r["vec_id"]
        assert -1.0 - 1e-9 <= r["cos_sim"] <= 1.0 + 1e-9
        by_probe.setdefault(r["probe_id"], []).append(r)
    for edges in by_probe.values():
        edges.sort(key=lambda e: e["rank"])
        assert [e["rank"] for e in edges] == list(range(1, len(edges) + 1))
        for a, b in zip(edges, edges[1:]):
            assert a["cos_sim"] >= b["cos_sim"] - 1e-9


def test_bucket_stats_conserves_vectors_and_band_bounds(spark, sf_dir):
    rows = _q("s_bucket_stats")(spark, sf_dir).collect()
    n_vec = load(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vectors"] for r in rows) == n_vec
    hi = {0: 1, 1: 2, 2: 4, 3: 8, 4: 16}
    for r in rows:
        assert r["n_buckets"] >= 1
        if r["occupancy_bucket"] in hi:
            assert r["max_occupancy"] <= hi[r["occupancy_bucket"]]
        else:
            assert r["max_occupancy"] > 16
        assert r["n_vectors"] <= r["n_buckets"] * r["max_occupancy"]


# -------------------------------------------------------------- validate


def test_fk_integrity_full_report_and_zero_orphans(spark, sf_dir):
    rows = {r["fk"]: r["n_orphans"] for r in _q("v_fk_integrity")(spark, sf_dir).collect()}
    assert set(rows) == {
        "lineitem.l_partkey->part",
        "lineitem.l_suppkey->supplier",
        "lineitem.l_orderkey->orders",
        "orders.o_custkey->customer",
        "customer.c_nationkey->nation",
    }
    # the generated star schema is referentially intact: any nonzero
    # count is a bug in the audit, not the data
    assert all(v == 0 for v in rows.values())


# ------------------------------------------------------------------ tpch


def test_nation_trade_balance_nets_to_near_zero_globally(spark, sf_dir):
    rows = _q("q_nation_trade_balance")(spark, sf_dir).collect()
    assert len(rows) == load(spark, sf_dir, "nation").count()
    for r in rows:
        assert r["balance_cents"] == r["sell_cents"] - r["buy_cents"]
        assert r["sell_cents"] >= 0 and r["buy_cents"] >= 0
    # both sides total the same revenue, up to one truncated unit per
    # nation from the per-nation DIV 100
    n = len(rows)
    assert abs(sum(r["sell_cents"] for r in rows) - sum(r["buy_cents"] for r in rows)) < n


def test_copurchase_pairs_ordering_and_support(spark, sf_dir):
    rows = _q("q_copurchase_pairs")(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert r["n_orders"] >= 1
    for a, b in zip(rows, rows[1:]):
        assert (a["n_orders"], -a["part_a"], -a["part_b"]) >= (
            b["n_orders"],
            -b["part_a"],
            -b["part_b"],
        )
    # spot-verify the top pair's support by direct recount
    top = rows[0]
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = (
        li.filter(F.col("l_partkey") == top["part_a"])
        .select("l_orderkey")
        .join(
            li.filter(F.col("l_partkey") == top["part_b"]).select("l_orderkey"),
            on="l_orderkey",
        )
        .count()
    )
    assert n == top["n_orders"]


def test_order_lifecycle_conserves_orders_and_bucket_bounds(spark, sf_dir):
    rows = _q("q_order_lifecycle")(spark, sf_dir).collect()
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    n_with_lines = (
        orders.join(li.select("l_orderkey").distinct(),
                    F.col("l_orderkey") == F.col("o_orderkey")).count()
    )
    assert sum(r["n_orders"] for r in rows) == n_with_lines
    hi = {0: 30, 1: 60, 2: 90}
    for r in rows:
        if r["latency_bucket"] in hi:
            assert r["max_days"] <= hi[r["latency_bucket"]]
        else:
            assert r["latency_bucket"] == 3 and r["max_days"] > 90


# ------------------------------------------------- round-4 new queries


def test_sequence_pack_reconstructs_contiguous_streams(spark, sf_dir):
    rows = _q("t_sequence_pack")(spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert len(rows) == docs.count()  # every doc packed exactly once
    by_source: dict[str, list] = {}
    for r in rows:
        assert 0 <= r["pack_offset"] < 256
        by_source.setdefault(r["source"], []).append(r)
    for docs_in_src in by_source.values():
        docs_in_src.sort(key=lambda r: r["doc_id"])
        # start offsets are the exact running sum: doc k starts where
        # doc k-1 ended (concat-then-chunk leaves no gaps)
        cum = 0
        for r in docs_in_src:
            assert r["pack_id"] * 256 + r["pack_offset"] == cum
            cum += r["n_tokens"]
        # pack ids are non-decreasing along the stream
        ids = [r["pack_id"] for r in docs_in_src]
        assert ids == sorted(ids)


def test_semantic_dedup_canonical_properties(spark, sf_dir):
    rows = _q("d_semantic_dedup")(spark, sf_dir).collect()
    emb = load(spark, sf_dir, "embeddings")
    assert len(rows) == emb.count()
    by_id = {r["vec_id"]: r for r in rows}
    n_dups = 0
    for r in rows:
        assert r["canonical_id"] <= r["vec_id"]  # min-id convention
        assert r["is_dup"] == (r["canonical_id"] != r["vec_id"])
        n_dups += int(r["is_dup"])
        # canonical lives in the same cluster (blocking invariant)
        assert by_id[r["canonical_id"]]["cluster"] == r["cluster"]
    # the synthetic corpus has near-dup structure: dedup must fire
    assert 0 < n_dups < len(rows)


def test_retention_cohorts_triangle_properties(spark, sf_dir):
    rows = _q("e_retention_cohorts")(spark, sf_dir).collect()
    events = load(spark, sf_dir, "events")
    n_users = events.select("user_id").distinct().count()
    by_cohort: dict[str, list] = {}
    for r in rows:
        assert 0 < r["n_active"] <= r["cohort_size"]
        assert 0 < r["retention_pct"] <= 100.0
        by_cohort.setdefault(r["cohort_week"], []).append(r)
    assert sum(c[0]["cohort_size"] for c in by_cohort.values()) == n_users
    for parts in by_cohort.values():
        parts.sort(key=lambda r: r["week_offset"])
        # week 0 is full by definition: everyone is active in the week
        # they first appeared
        assert parts[0]["week_offset"] == 0
        assert parts[0]["n_active"] == parts[0]["cohort_size"]


def test_funnel_is_monotone_and_subset_consistent(spark, sf_dir):
    rows = sorted(
        _q("e_funnel_conversion")(spark, sf_dir).collect(),
        key=lambda r: r["stage_idx"],
    )
    assert [r["stage"] for r in rows] == [
        "view", "view>click", "view>click>purchase",
    ]
    # funnel can only narrow, and entry is 100% by definition
    assert rows[0]["n_users"] >= rows[1]["n_users"] >= rows[2]["n_users"]
    assert abs(rows[0]["pct_of_entry"] - 100.0) < 1e-9
    for r in rows:
        assert abs(
            r["pct_of_entry"] - round(100.0 * r["n_users"] / rows[0]["n_users"], 4)
        ) < 1e-9
    # entry count is exactly the users with any 'view' event
    events = load(spark, sf_dir, "events")
    n_viewers = (
        events.filter(F.col("event_type") == "view")
        .select("user_id").distinct().count()
    )
    assert rows[0]["n_users"] == n_viewers
    assert rows[1]["n_users"] > 0  # non-vacuous at the test SF


def test_range_band_join_partitions_orders(spark, sf_dir):
    rows = {r["band"]: r for r in _q("j_range_band_join")(spark, sf_dir).collect()}
    orders = load(spark, sf_dir, "orders")
    # bands are contiguous [0, 1M): every order lands in exactly one
    assert sum(r["n_orders"] for r in rows.values()) == orders.count()
    total = orders.agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
    ).first()[0]
    assert sum(r["total_cents"] for r in rows.values()) == total
    # direct recount of one band's membership
    n_mid = orders.filter(
        (F.col("o_totalprice") >= 50_000) & (F.col("o_totalprice") < 150_000)
    ).count()
    assert rows["mid"]["n_orders"] == n_mid


def test_audio_decode_header_recovery_and_bounds(spark, sf_dir):
    rows = _q("m_audio_decode")(spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert len(rows) == docs.count()
    for r in rows:
        # recovered from the RIFF header the synth wrote
        assert r["sample_rate"] == 8000 and r["n_channels"] == 1
        assert 64 <= r["n_frames"] <= 191  # 64 + n_chars % 128
        # int16 samples: |sum| can never exceed n * 10000
        assert abs(r["sum_samples"]) <= r["n_frames"] * 10000


def test_time_weighted_avg_bounded_and_segment_counts(spark, sf_dir):
    rows = {r["user_id"]: r for r in _q("e_time_weighted_avg")(spark, sf_dir).collect()}
    assert rows
    events = load(spark, sf_dir, "events")
    per_user = {
        r["user_id"]: r
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.count_distinct("ts").alias("n_ts"),
        )
        .collect()
    }
    for uid, r in rows.items():
        p = per_user[uid]
        # a weighted mean can never leave the value envelope (x100 ints;
        # floor division can dip at most one unit below the min)
        assert int(p["vmin"] * 100) - 1 <= r["twa_x100"] <= int(round(p["vmax"] * 100))
        # every consecutive pair closes exactly one segment
        assert r["n_segments"] == p["n"] - 1
    # users absent from the result have no positive-length span
    for uid, p in per_user.items():
        if uid not in rows:
            assert p["n_ts"] <= 1


def test_hybrid_search_fuses_both_rankings_consistently(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.similarity_q import (
        _HS_RRF_K,
        _HS_TOPN,
        s_hybrid_search,
    )
    from olympic_athletes_etl_spark.plans.textstats import bm25_scores

    rows = s_hybrid_search(spark, sf_dir).collect()
    assert 0 < len(rows) <= _HS_TOPN
    n_cand = min(50, bm25_scores(spark, sf_dir).count())
    seen = set()
    for r in rows:
        # ranks are 1-based positions inside the bounded candidate set
        assert 1 <= r["bm25_rank"] <= n_cand
        assert 1 <= r["cos_rank"] <= n_cand
        # RRF recomputes from the ranks exactly
        assert r["rrf_x1e6"] == 1_000_000 // (_HS_RRF_K + r["bm25_rank"]) + (
            1_000_000 // (_HS_RRF_K + r["cos_rank"])
        )
        seen.add(r["doc_id"])
    assert len(seen) == len(rows)  # no duplicate docs in the fused list
    # descending fused order with doc_id tie-break
    fused = [(r["rrf_x1e6"], -r["doc_id"]) for r in rows]
    assert fused == sorted(fused, reverse=True)


def test_cusum_matches_direct_fold(spark, sf_dir):
    """The reflection identity must equal the literal
    S_t = max(0, S_{t-1} + y_t) fold, recomputed in Python per type."""
    rows = _q("e_cusum_shift")(spark, sf_dir).collect()
    assert rows
    by_type: dict = {}
    for r in sorted(rows, key=lambda r: (r["event_type"], r["day"])):
        by_type.setdefault(r["event_type"], []).append(r)
    for et, seq in by_type.items():
        total = sum(r["n"] for r in seq)
        d = len(seq)
        s = 0
        for r in seq:
            y = r["n"] * d - total - total // 4
            s = max(0, s + y)
            assert r["cusum_scaled"] == s
            assert r["alarm"] == (s > total)
        # cusum is never negative by construction
        assert all(r["cusum_scaled"] >= 0 for r in seq)


def test_dau_mau_bounds_and_recount(spark, sf_dir):
    rows = {r["day"]: r for r in _q("e_dau_mau")(spark, sf_dir).collect()}
    assert rows
    events = load(spark, sf_dir, "events")
    # recount one day end-to-end
    some_day = sorted(rows)[len(rows) // 2]
    dau_direct = (
        events.filter(F.col("ts").cast("date").cast("string") == some_day)
        .select("user_id")
        .distinct()
        .count()
    )
    assert rows[some_day]["dau"] == dau_direct
    for r in rows.values():
        # a day's actives are a subset of its trailing month's actives
        assert r["dau"] <= r["mau"]
        assert 0 < r["stickiness_x1000"] <= 1000
        assert r["stickiness_x1000"] == (1000 * r["dau"]) // r["mau"]
    # MAU is monotone over the first 30 days of history (window only grows)
    days_sorted = sorted(rows)
    first_month = days_sorted[: min(30, len(days_sorted))]
    maus = [rows[d]["mau"] for d in first_month]
    assert maus == sorted(maus)


def test_gini_matches_pairwise_definition_and_bounds(spark, sf_dir):
    rows = _q("a_gini_spend")(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert 0 <= r["gini_x10000"] < 10000
    # recompute from the O(n^2) pairwise definition on collected spends
    spends = sorted(
        x["cents"]
        for x in load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
                "cents"
            )
        )
        .collect()
    )
    n, total = len(spends), sum(spends)
    assert (r["n_customers"], r["total_cents"]) == (n, total)
    mad = sum(abs(a - b) for a in spends for b in spends)  # includes both orders
    gini_direct = (10000 * mad) // (2 * n * total)
    # sorted-rank identity == pairwise definition (exact up to the
    # shared floor granule)
    assert abs(r["gini_x10000"] - gini_direct) <= 1


def test_pit_features_never_leak_same_day_or_future(spark, sf_dir):
    rows = {
        r["o_orderkey"]: r for r in _q("j_pit_features")(spark, sf_dir).collect()
    }
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    ).collect()
    assert len(rows) == len(orders)
    by_cust: dict = {}
    for o in orders:
        by_cust.setdefault(o["o_custkey"], []).append(o)
    import datetime

    checked_nonzero = 0
    for cust, os_ in by_cust.items():
        for o in os_:
            lo = o["d"] - datetime.timedelta(days=90)
            exp = [
                p for p in os_
                if lo <= p["d"] <= o["d"] - datetime.timedelta(days=1)
            ]
            r = rows[o["o_orderkey"]]
            assert r["trailing_n"] == len(exp)
            assert r["trailing_cents"] == sum(p["cents"] for p in exp)
            checked_nonzero += bool(exp)
    assert checked_nonzero > 0  # the window is non-vacuous at this SF


# ------------------------------------------------- round-4b additions


def test_winsorized_stats_bounds(spark):
    r = _q("a_winsorized_stats")(spark, _SF001).collect()[0]
    raw = load(spark, _SF001, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    n = raw.count()
    assert r.n_orders == n
    assert r.lo_cut_cents <= r.hi_cut_cents
    # cutoffs must be actual observed prices, not interpolations
    vals = {x.cents for x in raw.distinct().collect()}
    assert r.lo_cut_cents in vals and r.hi_cut_cents in vals
    # clipped sum bounded by the cutoffs; derived mean consistent
    assert n * r.lo_cut_cents <= r.win_sum_cents <= n * r.hi_cut_cents
    assert r.win_mean_cents == r.win_sum_cents // n
    # clipping must move the sum only by the tails: within 2% of raw
    raw_sum = raw.agg(F.sum("cents")).collect()[0][0]
    assert abs(r.win_sum_cents - raw_sum) < 0.02 * raw_sum


def test_incremental_agg_conserves_and_derives(spark):
    rows = _q("r_incremental_agg")(spark, _SF001).collect()
    orders = load(spark, _SF001, "orders")
    assert sum(r.n_orders for r in rows) == orders.count()
    raw_sum = orders.agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
    ).collect()[0][0]
    assert sum(r.total_cents for r in rows) == raw_sum
    for r in rows:
        assert r.avg_cents == r.total_cents // r.n_orders
    # the merge must actually span the split: months on both sides
    months = {r.month for r in rows}
    assert any(m < "2000-01" for m in months)
    assert any(m >= "2000-01" for m in months)


def test_kcore_is_fixpoint_at_test_sf(spark):
    from olympic_athletes_etl_spark.plans.graph_q import (
        _KCORE_K,
        _degrees,
        _edges,
    )

    out = {(r.part, r.core_deg) for r in _q("g_kcore")(spark, _SF001).collect()}
    assert out, "2-core empty at sf0.01 — test is vacuous"
    # every surviving node keeps >= k surviving neighbors (the defining
    # property — one more peel round changes nothing)
    assert all(d >= _KCORE_K for _, d in out)
    # subset of the original supported-edge node set
    orig = {r.node for r in _degrees(_edges(spark, _SF001)).collect()}
    assert {p for p, _ in out} <= orig


def test_target_encode_loo_excludes_own_row(spark):
    df = _q("j_target_encode")(spark, _SF001)
    rows = df.collect()
    orders = load(spark, _SF001, "orders")
    assert len(rows) == orders.count()
    # reconstruct one segment's state and check a row's LOO by hand
    import collections

    seg_state = collections.defaultdict(lambda: [0, 0])
    joined = (
        orders.join(
            load(spark, _SF001, "customer"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .select(
            "o_orderkey",
            F.col("c_mktsegment").alias("segment"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .collect()
    )
    cents_by_key = {}
    for r in joined:
        seg_state[r.segment][0] += 1
        seg_state[r.segment][1] += r.cents
        cents_by_key[r.o_orderkey] = (r.segment, r.cents)
    for r in rows[:50]:
        seg, cents = cents_by_key[r.o_orderkey]
        n, s = seg_state[seg]
        assert seg == r.segment
        if n > 1:
            assert r.loo_cents == (s - cents) // (n - 1)
        else:
            assert r.loo_cents is None


def test_negative_sample_is_negative_and_deterministic(spark):
    from olympic_athletes_etl_spark.plans.relational import _NEG_K

    df = _q("j_negative_sample")(spark, _SF001)
    rows = {(r.o_custkey, r.k, r.neg_partkey) for r in df.collect()}
    assert rows == {
        (r.o_custkey, r.k, r.neg_partkey) for r in df.collect()
    }, "sampling must be replay-stable"
    bought = {
        (r.o_custkey, r.l_partkey)
        for r in load(spark, _SF001, "orders")
        .join(
            load(spark, _SF001, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("o_custkey", "l_partkey")
        .distinct()
        .collect()
    }
    max_pk = (
        load(spark, _SF001, "part").agg(F.max("p_partkey")).collect()[0][0]
    )
    for ck, k, pk in rows:
        assert (ck, pk) not in bought, "sampled a bought pair"
        assert 1 <= k <= _NEG_K and 1 <= pk <= max_pk
    # yield: each customer keeps at most K draws, most keep all K
    n_cust = load(spark, _SF001, "orders").select("o_custkey").distinct().count()
    assert len(rows) > 0.7 * n_cust * _NEG_K


def test_rfm_segments_partition_customers_into_quintiles(spark):
    rows = _q("q_rfm_segments")(spark, _SF001).collect()
    n_cust = (
        load(spark, _SF001, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        assert 1 <= r.r_score <= 5
        assert 1 <= r.f_score <= 5
        assert 1 <= r.m_score <= 5
    # monetary is strictly positive, so total conserves exactly
    raw = (
        load(spark, _SF001, "orders")
        .agg(F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")))
        .collect()[0][0]
    )
    assert sum(r.total_cents for r in rows) == raw
    # each monetary quintile holds between 1/10 and 2/5 of customers
    # (ties can unbalance, but not collapse, the bins)
    from collections import Counter

    m_counts = Counter()
    for r in rows:
        m_counts[r.m_score] += r.n_customers
    assert len(m_counts) == 5
    for s, c in m_counts.items():
        assert 0.1 * n_cust <= c <= 0.4 * n_cust, (s, c)


def test_churn_training_set_time_directions(spark):
    rows = {
        r.o_orderkey: r
        for r in _q("q_churn_training_set")(spark, _SF001).collect()
    }
    orders = load(spark, _SF001, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).collect()
    assert len(rows) == len(orders)
    # the label must be forward-only: each customer's LAST order is 0
    import collections

    by_cust = collections.defaultdict(list)
    for o in orders:
        by_cust[o.o_custkey].append(o)
    n_pos = 0
    for cust, os_ in by_cust.items():
        os_.sort(key=lambda o: (o.day, o.o_orderkey))
        last = os_[-1]
        assert rows[last.o_orderkey].label == 0
        # features must be backward-only: a customer's FIRST order has
        # zero trailing state
        first = os_[0]
        if first.day < os_[1].day if len(os_) > 1 else True:
            assert rows[first.o_orderkey].trailing_n == 0
            assert rows[first.o_orderkey].trailing_cents == 0
        n_pos += sum(rows[o.o_orderkey].label for o in os_)
    assert 0 < n_pos < len(orders), "label must not be constant"


def test_session_paths_are_valid_prefixes(spark):
    rows = _q("e_session_paths")(spark, _SF001).collect()
    assert 0 < len(rows) <= 20
    types = {
        r.event_type
        for r in load(spark, _SF001, "events")
        .select("event_type")
        .distinct()
        .collect()
    }
    counts = [r.n_sessions for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        steps = r.path.split(">")
        assert 1 <= len(steps) <= 5
        assert set(steps) <= types


def test_auc_matches_numpy_midrank_bruteforce(spark):
    import numpy as np

    r = _q("v_auc_score")(spark, "/root/testdata/sf0.001").collect()[0]
    # independent recomputation: scipy-style average ranks over the raw
    # (score, label) pairs — a different algorithm than the engine's
    # distinct-value cumsum
    orders = (
        load(spark, "/root/testdata/sf0.001", "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long").alias("day"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("score"),
        )
        .collect()
    )
    import collections

    by_cust = collections.defaultdict(list)
    for o in orders:
        by_cust[o.o_custkey].append(o)
    scores, labels = [], []
    for os_ in by_cust.values():
        os_.sort(key=lambda o: (o.day, o.o_orderkey))
        for i, o in enumerate(os_):
            y = 1 if i + 1 < len(os_) and os_[i + 1].day - o.day <= 180 else 0
            scores.append(o.score)
            labels.append(y)
    s = np.array(scores, dtype=np.float64)
    y = np.array(labels)
    order = np.argsort(s, kind="stable")
    ranks = np.empty(len(s), dtype=np.float64)
    sorted_s = s[order]
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and sorted_s[j] == sorted_s[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0  # average of ranks i+1..j
        i = j
    n1, n0 = int(y.sum()), int((1 - y).sum())
    auc = (ranks[y == 1].sum() - n1 * (n1 + 1) / 2.0) / (n1 * n0)
    assert r.n_pos == n1 and r.n_neg == n0
    assert r.auc_x10000 == int(auc * 10000) or abs(
        r.auc_x10000 - auc * 10000
    ) < 1, (r.auc_x10000, auc * 10000)
    # sanity: spend should be a weak-but-real signal, not degenerate
    assert 3000 < r.auc_x10000 < 9900


def test_decile_lift_partitions_and_base_rate(spark):
    rows = _q("v_decile_lift")(spark, _SF001).collect()
    orders = load(spark, _SF001, "orders")
    n = orders.count()
    assert sum(r.n_rows for r in rows) == n
    assert len(rows) <= 10
    for r in rows:
        assert 1 <= r.decile <= 10
        assert 0 <= r.rate_x10000 <= 10000
        assert r.rate_x10000 == (10000 * r.n_pos) // r.n_rows
    # lift is rate relative to base: row-weighted mean lift ~ 10000
    npos = sum(r.n_pos for r in rows)
    weighted = sum(r.lift_x10000 * r.n_rows for r in rows) / n
    assert abs(weighted - 10000) < 100
    # no direction assertion: order price is deliberately a WEAK signal
    # (AUC ~0.5 at small SF); the table reports whatever the data says


def test_chi2_experiment_cells_and_statistic(spark):
    r = _q("v_chi2_experiment")(spark, _SF001).collect()[0]
    n = load(spark, _SF001, "orders").count()
    assert r.a + r.b + r.c + r.d == n
    assert r.rate0_x10000 == (10000 * r.a) // (r.a + r.b)
    assert r.rate1_x10000 == (10000 * r.c) // (r.c + r.d)
    # independent recomputation of the statistic
    import math

    num = (r.a + r.b + r.c + r.d) * (r.a * r.d - r.b * r.c) ** 2
    den = (r.a + r.b) * (r.c + r.d) * (r.a + r.c) * (r.b + r.d)
    assert math.isclose(r.chi2, num / den, rel_tol=0, abs_tol=5e-5)
    # parity split is a null experiment: chi2 should be unexceptional
    # (p > 0.001 <=> chi2 < ~10.8 on 1 dof)
    assert r.chi2 < 10.83


def test_feature_hashing_conserves_tokens_and_dims(spark):
    rows = _q("t_feature_hashing")(spark, _SF001).collect()
    docs = load(spark, _SF001, "documents")
    n_tokens = docs.select(
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        )
    ).collect()[0][0]
    assert sum(r.cnt for r in rows) == n_tokens
    assert all(0 <= r.dim < 64 for r in rows)
    # small dim count forces collisions at this scale: some doc must
    # have fewer distinct dims than distinct tokens
    n_pairs = len(rows)
    n_doc_token = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("t")
        )
        .filter(F.col("t") != "")
        .distinct()
        .count()
    )
    assert n_pairs < n_doc_token, "no collisions — dim count not exercised"


def test_repurchase_hazard_censoring_and_monotone_risk(spark):
    rows = sorted(
        _q("e_repurchase_hazard")(spark, _SF001).collect(),
        key=lambda r: r.week,
    )
    n_orders = load(spark, _SF001, "orders").count()
    assert rows[0].week == 0 and rows[0].n_at_risk == n_orders
    # at-risk can only shrink; events bounded by at-risk
    for a, b in zip(rows, rows[1:]):
        assert b.n_at_risk <= a.n_at_risk
    for r in rows:
        assert 0 <= r.n_events <= r.n_at_risk
        assert r.hazard_x10000 == (10000 * r.n_events) // r.n_at_risk
    # censoring must appear in the denominator: total events < subjects
    assert sum(r.n_events for r in rows) < n_orders


def test_last_touch_attribution_conserves_revenue(spark):
    rows = _q("e_last_touch_attribution")(spark, _SF001).collect()
    ev = load(spark, _SF001, "events").filter(
        F.col("event_type") == "purchase"
    )
    total = ev.agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
    ).collect()[0][0]
    # revenue conservation incl. the NULL organic bucket
    assert sum(r.revenue_cents for r in rows) == total
    assert sum(r.n_purchases for r in rows) == ev.count()
    campaigns = {r.campaign for r in rows}
    assert None in campaigns, "organic bucket missing"
    assert all(c is None or 0 <= c <= 9 for c in campaigns)


def test_rapid_repeat_orders_pairs_verified(spark):
    rows = _q("v_rapid_repeat_orders")(spark, _SF001).collect()
    assert rows, "velocity screen vacuous at sf0.01"
    orders = {
        r.o_orderkey: r
        for r in load(spark, _SF001, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .collect()
    }
    for r in rows:
        a, b = orders[r.first_orderkey], orders[r.second_orderkey]
        assert a.o_custkey == b.o_custkey == r.o_custkey
        assert 0 <= r.gap_days <= 7
        assert (b.d - a.d).days == r.gap_days


def test_forecast_backtest_holdout_and_consistency(spark):
    rows = _q("e_forecast_backtest")(spark, _SF001).collect()
    types = {
        r.event_type
        for r in load(spark, _SF001, "events")
        .select("event_type")
        .distinct()
        .collect()
    }
    assert {r.event_type for r in rows} == types
    for r in rows:
        # holdout is min(28, span - 7 warmup) days; sf0.01 spans ~30d
        assert 7 <= r.n_days <= 28
        assert r.mae_x100 == (100 * r.total_abs_err) // r.n_days
        assert r.total_abs_err >= 0
    # the naive forecast must actually engage: not all-zero errors
    assert any(r.total_abs_err > 0 for r in rows)


def test_backward_fill_directions(spark):
    rows = _q("w_backward_fill")(spark, _SF001).collect()
    ev = load(spark, _SF001, "events")
    assert len(rows) == ev.count()
    # reconstruct one user's sequence and verify both fill directions
    import collections

    by_user = collections.defaultdict(list)
    raw = ev.select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.round("value", 2))
        .alias("v"),
    ).collect()
    for r in raw:
        by_user[r.user_id].append(r)
    got = {(r.event_id): r for r in rows}
    checked = 0
    for uid, seq in list(by_user.items())[:20]:
        seq.sort(key=lambda r: r.event_id)
        vals = [r.v for r in seq]
        n = len(vals)
        for i, r in enumerate(seq):
            nxt = next((v for v in vals[i:] if v is not None), None)
            prv = next(
                (v for v in reversed(vals[: i + 1]) if v is not None), None
            )
            assert got[r.event_id].v_bfilled == nxt
            assert got[r.event_id].v_filled_both == (
                prv if prv is not None else nxt
            )
            checked += 1
    assert checked > 100


def test_revenue_bridge_reconciles(spark):
    rows = {r.segment: r for r in _q("q_revenue_bridge")(spark, _SF001).collect()}
    from olympic_athletes_etl_spark.plans.relational import (
        _BRIDGE_P1,
        _BRIDGE_P2,
    )

    orders = load(spark, _SF001, "orders").select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )

    def tot(p):
        return (
            orders.filter((F.col("d") >= p[0]) & (F.col("d") < p[1]))
            .agg(F.sum("cents"))
            .collect()[0][0]
            or 0
        )

    # the bridge identity: segment deltas reconcile to the P2-P1 total
    assert sum(r.delta_cents for r in rows.values()) == tot(_BRIDGE_P2) - tot(
        _BRIDGE_P1
    )
    assert rows["new"].delta_cents >= 0
    assert rows["churned"].delta_cents <= 0
    if "expansion" in rows:
        assert rows["expansion"].delta_cents > 0
    if "contraction" in rows:
        assert rows["contraction"].delta_cents < 0


def test_abc_analysis_partitions_and_orders(spark):
    rows = {r.abc_class: r for r in _q("q_abc_analysis")(spark, _SF001).collect()}
    assert set(rows) == {"A", "B", "C"}
    li = load(spark, _SF001, "lineitem")
    assert sum(r.n_parts for r in rows.values()) == (
        li.select("l_partkey").distinct().count()
    )
    total = sum(r.revenue_cents for r in rows.values())
    raw = li.agg(
        F.sum(
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                " AS BIGINT)"
            )
        )
    ).collect()[0][0]
    assert total == raw
    # A holds at most 80% of revenue (boundary part spills to B), and
    # per-part intensity must strictly decrease A > B > C
    assert 100 * rows["A"].revenue_cents <= 80 * total
    inten = {
        k: r.revenue_cents / r.n_parts for k, r in rows.items()
    }
    assert inten["A"] > inten["B"] > inten["C"]


def test_bfs_depth_levels_are_true_shortest_paths(spark):
    import collections

    rows = {r.part: r.depth for r in _q("g_bfs_depth")(spark, _SF001).collect()}
    from olympic_athletes_etl_spark.plans.graph_q import _edges

    adj = collections.defaultdict(set)
    for e in _edges(spark, _SF001).collect():
        adj[e.pa].add(e.pb)
        adj[e.pb].add(e.pa)
    src = min(adj)
    # independent BFS to full depth
    dist = {src: 0}
    frontier = [src]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    nxt.append(v)
        frontier = nxt
    expect = {n: d for n, d in dist.items() if d <= 3}
    assert rows == expect
    assert max(rows.values()) == 3 or max(dist.values()) < 3


def test_collocations_lift_recomputed(spark):
    rows = _q("t_collocations")(spark, _SF001).collect()
    assert len(rows) == 20
    docs = load(spark, _SF001, "documents").select("text").collect()
    import collections, re

    uni = collections.Counter()
    bg = collections.Counter()
    for (t,) in docs:
        ws = re.split(r"\s+", t)
        uni.update(ws)
        bg.update(zip(ws, ws[1:]))
    n_total = sum(uni.values())
    lifts = [r.lift_x10000 for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert bg[(r.w1, r.w2)] == r.n_xy >= 30
        assert r.lift_x10000 == (10000 * r.n_xy * n_total) // (
            uni[r.w1] * uni[r.w2]
        )
    # the top-20 boundary is correct: no excluded bigram beats the cut
    floor = min(lifts)
    better = sum(
        1
        for (w1, w2), n in bg.items()
        if n >= 30
        and (10000 * n * n_total) // (uni[w1] * uni[w2]) > floor
    )
    assert better <= 20


def test_share_hierarchy_sums_to_whole(spark):
    import collections

    rows = _q("q_share_hierarchy")(spark, _SF001).collect()
    assert len(rows) == 25
    by_region = collections.defaultdict(list)
    for r in rows:
        by_region[r.region].append(r)
    # per region: nation shares sum to ~10000 (floor-division slack
    # bounded by nations-per-region); region shares consistent per region
    region_share = {}
    for reg, rs in by_region.items():
        s = sum(r.share_of_region_x10000 for r in rs)
        assert 10000 - len(rs) < s <= 10000
        assert len({r.region_share_x10000 for r in rs}) == 1
        region_share[reg] = rs[0].region_share_x10000
    s = sum(region_share.values())
    assert 10000 - len(region_share) < s <= 10000


def test_keyword_extraction_topk_verified(spark):
    import collections, re

    rows = _q("t_keyword_extraction")(spark, _SF001).collect()
    docs = load(spark, _SF001, "documents").select("doc_id", "text").collect()
    n_docs = len(docs)
    tf = collections.defaultdict(collections.Counter)
    df = collections.Counter()
    for d in docs:
        ws = [w for w in d.text.split(" ") if w]
        tf[d.doc_id].update(ws)
        df.update(set(ws))
    by_doc = collections.defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    assert set(by_doc) == set(tf)
    for doc_id, rs in list(by_doc.items())[:100]:
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        scores = {
            t: (10000 * c * n_docs) // df[t]
            for t, c in tf[doc_id].items()
        }
        expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        assert [(r.token, r.score) for r in rs] == expect


def test_retrieval_eval_bounds_and_brute_force_spotcheck(spark):
    import numpy as np

    r = _q("s_retrieval_eval")(spark, _SF001).collect()[0]
    emb = load(spark, _SF001, "embeddings").collect()
    probes = [e for e in emb if e.vec_id % 50 == 0]
    assert r.n_probes == len(probes) > 0
    assert 0 <= r.mrr_x10000 <= 10000
    assert 0 <= r.p_at_5_x10000 <= 10000
    # independent numpy recomputation
    vecs = {e.vec_id: np.array(e.embedding, dtype=np.float64) for e in emb}
    labels = {e.vec_id: e.label for e in emb}
    mrr_sum = 0
    rel_sum = 0
    for p in probes:
        pv = vecs[p.vec_id]
        sims = []
        for vid, v in vecs.items():
            if vid == p.vec_id:
                continue
            c = float(v @ pv / (np.linalg.norm(v) * np.linalg.norm(pv)))
            sims.append((-c, vid))
        sims.sort()
        top = [vid for _, vid in sims[:5]]
        rel = [i + 1 for i, vid in enumerate(top) if labels[vid] == p.label]
        mrr_sum += 10000 // rel[0] if rel else 0
        rel_sum += len(rel)
    assert r.mrr_x10000 == mrr_sum // len(probes)
    assert r.p_at_5_x10000 == (10000 * rel_sum) // (len(probes) * 5)


def test_longest_streak_matches_python_islands(spark):
    import collections

    rows = {
        r.user_id: (r.streak_days, r.start_day)
        for r in _q("e_longest_streak")(spark, _SF001).collect()
    }
    act = collections.defaultdict(set)
    for r in (
        load(spark, _SF001, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
        .collect()
    ):
        act[r.user_id].add(r.d)
    assert set(rows) == set(act)
    import datetime

    for uid, days in act.items():
        best_len, best_start = 0, None
        ds = sorted(days)
        i = 0
        while i < len(ds):
            j = i
            while (
                j + 1 < len(ds)
                and ds[j + 1] - ds[j] == datetime.timedelta(days=1)
            ):
                j += 1
            ln = j - i + 1
            if ln > best_len:
                best_len, best_start = ln, ds[i]
            i = j + 1
        assert rows[uid] == (best_len, str(best_start))


def test_latency_percentiles_match_sorted_gaps(spark):
    import collections, math

    rows = {r.event_type: r for r in _q("e_latency_percentiles")(spark, _SF001).collect()}
    ev = (
        load(spark, _SF001, "events")
        .select("event_type", "ts", "event_id")
        .collect()
    )
    by_type = collections.defaultdict(list)
    for e in ev:
        by_type[e.event_type].append((e.ts, e.event_id))
    assert set(rows) == set(by_type)
    for t, seq in by_type.items():
        seq.sort()
        gaps = sorted(
            int((b[0] - a[0]).total_seconds() * 1_000_000)
            for a, b in zip(seq, seq[1:])
        )
        r = rows[t]
        assert r.n_gaps == len(gaps)
        for p in (50, 95, 99):
            k = math.ceil(p * len(gaps) / 100)
            assert getattr(r, f"p{p}_us") == gaps[k - 1], (t, p)
        assert r.p50_us <= r.p95_us <= r.p99_us


def test_active_coverage_matches_python_interval_union(spark):
    import collections

    rows = {
        r.user_id: (r.n_blocks, r.covered_us)
        for r in _q("e_active_coverage")(spark, _SF001).collect()
    }
    ev = (
        load(spark, _SF001, "events")
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        )
        .collect()
    )
    halo = 1800 * 1_000_000
    by_user = collections.defaultdict(list)
    for e in ev:
        by_user[e.user_id].append(e.s)
    assert set(rows) == set(by_user)
    for uid, starts in by_user.items():
        ivs = sorted((s, s + halo) for s in starts)
        blocks = []
        for s, e in ivs:
            if blocks and s <= blocks[-1][1]:
                blocks[-1][1] = max(blocks[-1][1], e)
            else:
                blocks.append([s, e])
        covered = sum(e - s for s, e in blocks)
        assert rows[uid] == (len(blocks), covered), uid
        # coverage never exceeds naive sum, never undershoots one halo
        assert halo <= covered <= len(starts) * halo


def test_mad_matches_numpy(spark):
    import numpy as np

    r = _q("a_mad_spend")(spark, _SF001).collect()[0]
    cents = np.array(
        [
            x[0]
            for x in load(spark, _SF001, "orders")
            .select(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .collect()
        ]
    )
    assert r.n_orders == len(cents)
    # the engine's median is the LOW order statistic (ceil(n/2)-th),
    # which for even n differs from numpy's interpolated median — use
    # the same definition here
    k = (len(cents) + 1) // 2
    med = int(np.partition(cents, k - 1)[k - 1])
    assert r.median_cents == med
    dev = np.abs(cents - med)
    mad = int(np.partition(dev, k - 1)[k - 1])
    assert r.mad_cents == mad
    assert 0 < r.mad_cents < (cents.max() - cents.min())


def test_assortativity_matches_numpy_pearson(spark):
    import numpy as np

    r = _q("g_assortativity")(spark, _SF001).collect()[0]
    from olympic_athletes_etl_spark.plans.graph_q import _degrees, _edges

    edges = _edges(spark, _SF001).collect()
    deg = {x.node: x.deg for x in _degrees(_edges(spark, _SF001)).collect()}
    dx, dy = [], []
    for e in edges:
        dx += [deg[e.pa], deg[e.pb]]
        dy += [deg[e.pb], deg[e.pa]]
    assert r.n_endpoints == len(dx)
    expect = np.corrcoef(np.array(dx, float), np.array(dy, float))[0, 1]
    assert abs(r.assortativity - round(float(expect), 4)) <= 1e-4
    assert -1.0 <= r.assortativity <= 1.0
