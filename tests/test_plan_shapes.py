"""Plan-shape regression gate (round-6 verdict item 3).

Compiles every registered query at test SF and asserts the physical
plan contains no scale-killers:

- NO ``CartesianProduct`` anywhere, ever (a non-broadcast cross join is
  always a bug in this codebase — the house scalar pattern is
  ``crossJoin(F.broadcast(<bounded>))``, which compiles to
  BroadcastNestedLoopJoin, never CartesianProduct);
- ``BroadcastNestedLoopJoin`` only in the allowlisted queries, at no
  more than the recorded count — every allowed site is a broadcast of a
  1-row scalar aggregate, a bounded dim (codebooks, centroids,
  hyperplanes, thresholds), or a documented broadcast inequality join
  (j_range_band_join's irregular bands, u_noc_df's rlike country dim);
- ``SortMergeJoin`` only in the allowlisted queries at recorded counts —
  every allowed site is either a fact-to-fact equi-join on a scaling key
  (orderkey, doc pairs, period self-joins) or a post-localCheckpoint
  iteration join (checkpointing severs the stats that would have allowed
  a broadcast; the joined sides are id-lists). This catches the silent
  100 TB killer where a dim join degrades from broadcast to SMJ because
  a stats change pushed it over the broadcast threshold;
- unpartitioned ``Window`` nodes (the "No Partition Defined" sites that
  move all rows to one partition) only in the allowlisted queries — each
  one a window over a POST-AGGREGATE bounded set (top-K after
  orderBy/limit, per-source/per-day/per-bucket aggregates, dimension
  grids, the documented tiny-dim surrogate key), as audited in
  COVERAGE.md / the round-5 verdict.

This turns the prose claim "every global window is bounded" into an
enforced invariant: a new query (or a regression in an existing plan)
that introduces an unlisted BNLJ or global window fails loudly and must
either fix the plan or justify a new allowlist entry in review.

Detection notes: Spark 4 ``explain("formatted")`` prints a Window
node's Arguments as ``[exprs], [partitionSpec], [orderSpec]`` — THREE
top-level bracket groups when partitioned, TWO when the partition spec
is empty. Counts are compared with <= so plan improvements never fail
the gate.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from olympic_athletes_etl_spark.plans import queries

# query -> max BroadcastNestedLoopJoin nodes (all broadcast-of-bounded)
ALLOWED_BNLJ = {
    "a_mad_spend": 8,
    "a_sketch_algebra": 1,
    "a_winsorized_stats": 2,
    "c_coalesce_impute": 1,
    "d_contamination": 2,
    "d_ngram_jaccard": 4,
    "e_burst_minutes": 1,
    "e_dau_mau": 1,
    "e_forecast_backtest": 2,
    "e_funnel_conversion": 1,
    "e_repurchase_hazard": 1,
    "e_user_pareto": 1,
    "g_triangle_count": 3,
    "j_negative_sample": 1,
    "j_range_band_join": 1,
    "q11_important_stock": 1,
    "q22_idle_customers": 1,
    "q_abc_analysis": 1,
    "q_association_rules": 1,
    "q_rfm_segments": 6,
    "q_skyline_parts": 1,
    "s_graph_recall": 1,  # 1-row n_exact scalar aggregate cross-joined
                          # onto the 3-row per-variant hit counts (the
                          # probes×corpus cross join is behind the exact
                          # edge list's checkpoint, not in this plan)
    "s_hybrid_search": 2,
    "s_knn_batch": 1,
    "s_retrieval_eval": 1,
    "t_bm25_rank": 1,
    "t_bm25_stored": 1,  # same 1-row corpus-stats broadcast cross as
                         # t_bm25_rank, fed from the stats partials store
    "t_collocations": 1,
    "t_heavy_hitters": 1,
    "t_idf": 1,
    "t_keyword_extraction": 1,
    "t_mix_schedule": 1,
    "u_noc_df": 2,
    "v_benford_digits": 1,
    "v_decile_lift": 3,
    "v_join_size_estimate": 1,
}

# query -> max SortMergeJoin nodes (fact-to-fact equi-joins or
# post-localCheckpoint iteration joins; see module docstring)
ALLOWED_SMJ = {
    "d_cluster_canonical": 3,   # CC labels join (post-checkpoint) + canonical picks
    "d_dup_clusters": 1,        # CC label propagation (post-checkpoint)
    "d_dup_clusters_star": 2,   # star-CC read-out: vertex-universe x star
                                # labels + cluster assignment — both join
                                # post-checkpoint id-lists (stats severed)
    "d_jaccard_prefix_filter": 1,  # prefix-token doc-doc candidate join
    "d_neardup_pipeline": 1,    # CC stage over checkpointed candidates
    "d_semantic_dedup": 1,      # within-cluster doc-doc cosine join
    "d_source_overlap": 1,      # shingle-hash source-pair join
    "g_assortativity": 2,       # edge endpoints x degree table (post-checkpoint)
    "g_link_prediction": 4,     # wedge joins over checkpointed edge list
    "g_pagerank": 9,            # 3 iterations x (share/inflow/update) joins
    "g_triangle_count": 2,      # degree-oriented wedge close (fact-fact)
    "j_full_outer_recon": 1,    # full outer profile-vs-activity (fact-fact)
    "j_negative_sample": 1,     # anti-join vs the bought set (fact-fact)
    "q21_waiting_suppliers": 1, # per-order supplier agg join on orderkey
    "q_nation_trade_balance": 2,  # dual-perspective fact joins
    "q_revenue_bridge": 1,      # period-over-period customer self-join
    "u_noc_df": 2,              # matches/survivors self-join (post-checkpoint)
}

# query -> max unpartitioned Window nodes (each a bounded-set site)
ALLOWED_UNPART_WINDOW = {
    "a_gini_spend": 1,           # distinct-cents rank table (two-pass rank)
    "a_histogram_median": 1,     # 64-bucket histogram cumsum
    "a_mad_spend": 4,            # distinct-value rank tables
    "a_qhist_rollup_range": 2,   # <= ~60-bucket histogram cumsum + its
                                 # unbounded-total twin (windows over
                                 # merged store partials, never fact rows)
    "a_winsorized_stats": 1,     # distinct-value count-rank cutoffs
    "e_burst_minutes": 1,        # minute-aggregate RANGE window
    "e_latency_percentiles": 1,  # per-type order statistics on group aggs
    "e_peak_concurrency": 1,     # hour-boundary running sum (day spine)
    "e_repurchase_hazard": 1,    # weekly hazard table (weeks spine)
    "e_transition_matrix": 1,    # type*type grid shares
    "e_type_mix_daily": 1,       # per-day aggregate shares
    "e_user_growth": 1,          # day-spine running distinct
    "e_user_pareto": 1,          # per-user aggregate concentration curve
    "q_abc_analysis": 1,         # product-aggregate cumulative share
    "q_order_share_window": 1,   # month-spine aggregate-over-window
    "q_revenue_trend_mom": 1,    # month-spine lag
    "q_rfm_segments": 3,         # quintile thresholds over order stats
    "q_share_hierarchy": 1,      # region x nation dimension grid
    "q_skyline_parts": 2,        # brand-aggregate skyline rank
    "s_ann_ivf": 1,              # top-k after probe-bucket narrowing
    "s_ann_ivf_kmeans": 1,       # same, k-means codebook variant
    "s_ann_ivf_sampled": 1,      # same, sampled-training variant
    "s_ann_ivfpq": 1,            # rank over post-limit K rows
    "s_ann_ivfpq_stored": 1,     # same rank; serving from the stored index
    "s_ann_ivfpq_compacted": 1,  # same rank; serving from the compacted index
    "s_ann_lsh": 1,              # top-k within probed buckets
    "s_ann_lsh_multiprobe": 1,   # same, multiprobe
    "s_ann_pq": 1,               # ADC re-rank of bounded candidates
    "s_hybrid_search": 2,        # bounded BM25+ANN candidate fusion
    "s_knn_bruteforce": 1,       # rank over TakeOrderedAndProject top-k
    "v_auc_score": 1,            # distinct-score midranks
    "v_decile_lift": 1,          # decile thresholds over score aggs
    "v_rule_summary": 1,         # rules-cardinality report ordering
    "w_surrogate_key": 1,        # documented tiny-dim surrogate key
}


def _plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _bracket_groups(line: str) -> list[str]:
    out, depth, cur = [], 0, None
    for ch in line:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
            else:
                cur += ch
        elif ch == "]":
            depth -= 1
            if depth == 0:
                out.append(cur)
                cur = None
            else:
                cur += ch
        elif cur is not None:
            cur += ch
    return out


def _unpartitioned_windows(txt: str) -> int:
    n = 0
    lines = txt.splitlines()
    for i, line in enumerate(lines):
        if re.match(r"\(\d+\) Window$", line.strip()):
            for j in range(i + 1, min(i + 6, len(lines))):
                if lines[j].startswith("Arguments:"):
                    if len(_bracket_groups(lines[j])) == 2:
                        n += 1
                    break
    return n


@pytest.fixture(scope="module")
def plan_stats(built_query):
    stats = {}
    for name in queries():
        txt = _plan_text(built_query(name))
        stats[name] = {
            "cartesian": len(re.findall(r"CartesianProduct", txt)),
            "bnlj": len(
                re.findall(r"\(\d+\) BroadcastNestedLoopJoin", txt)
            ),
            "smj": len(re.findall(r"\(\d+\) SortMergeJoin", txt)),
            "unpart_win": _unpartitioned_windows(txt),
        }
    return stats


def test_no_cartesian_product_anywhere(plan_stats):
    offenders = [n for n, s in plan_stats.items() if s["cartesian"]]
    assert not offenders, offenders


def test_bnlj_only_at_allowlisted_bounded_broadcasts(plan_stats):
    over = {
        n: s["bnlj"]
        for n, s in plan_stats.items()
        if s["bnlj"] > ALLOWED_BNLJ.get(n, 0)
    }
    assert not over, (
        f"unlisted/over-budget BroadcastNestedLoopJoin: {over} — if the "
        "new site broadcasts a bounded frame, add it to ALLOWED_BNLJ "
        "with a justification comment; otherwise fix the plan"
    )


def test_smj_only_at_allowlisted_fact_joins(plan_stats):
    over = {
        n: s["smj"]
        for n, s in plan_stats.items()
        if s["smj"] > ALLOWED_SMJ.get(n, 0)
    }
    assert not over, (
        f"unlisted/over-budget SortMergeJoin: {over} — if the join is "
        "fact-to-fact on a scaling key or post-checkpoint iterative, add "
        "it to ALLOWED_SMJ with a justification comment; if a dim join "
        "degraded from broadcast, fix the plan (F.broadcast or stats)"
    )


def test_unpartitioned_windows_only_at_bounded_sets(plan_stats):
    over = {
        n: s["unpart_win"]
        for n, s in plan_stats.items()
        if s["unpart_win"] > ALLOWED_UNPART_WINDOW.get(n, 0)
    }
    assert not over, (
        f"unlisted/over-budget unpartitioned Window: {over} — if the "
        "window input is a post-aggregate bounded set, add it to "
        "ALLOWED_UNPART_WINDOW with the bound in a comment; otherwise "
        "partition the window"
    )


def test_allowlists_carry_no_dead_entries(plan_stats):
    """Entries whose query no longer exists would silently rot."""
    assert set(ALLOWED_BNLJ) <= set(plan_stats)
    assert set(ALLOWED_SMJ) <= set(plan_stats)
    assert set(ALLOWED_UNPART_WINDOW) <= set(plan_stats)
