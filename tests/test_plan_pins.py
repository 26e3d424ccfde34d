"""Physical-plan regression pins for headline queries.

The scale contract is plan SHAPE, not timing: flagship must stay
broadcast-joined with exactly its two necessary exchanges, the minhash
pipeline must never degrade to a nested-loop join, the windowed queries
must keep exactly one fact shuffle, and nothing on the bench path may
grow a Python boundary. Pins are UPPER bounds (plus a few lower bounds
on broadcast-join counts) so AQE/version-noise that *improves* a plan
doesn't fail the suite, while a silent degradation — a dropped
broadcast hint turning into a sort-merge cascade, a rewrite adding a
shuffle, a UDF sneaking onto the hot path — does.

Counts mirror tools/explain_audit.py (same regexes, imported from the
tool so the two can't drift).
"""

from __future__ import annotations

import importlib.util
import os
import re

import pytest

from olympic_athletes_etl_spark.plans import queries

_SF = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location(
    "explain_audit",
    os.path.join(os.path.dirname(__file__), "..", "tools", "explain_audit.py"),
)
_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_audit)


def _vitals(spark, name):
    txt = _audit.plan_text(queries()[name](spark, _SF))
    return {k: len(re.findall(p, txt)) for k, p in _audit.MARKERS.items()}


# name -> constraints; each is (metric, op, bound) with op in {"<=", ">=", "=="}
# NOTE r13: queries carrying tables.spread (the layout-adaptive
# unsplittable-input redistribution) show ONE extra exchange at the
# single-row-group test layout — deliberate (guide §2.5), a no-op on
# layouts that split; their shuffle bounds are one higher than the
# production-shape bound.
_PINS = {
    # 4 dims broadcast, fact unshuffled after its spread exchange until
    # the agg + top-3 window
    "flagship_region_top_customers": [
        ("shuffles", "<=", 3),
        ("bhj", ">=", 4),
        ("smj", "==", 0),
        ("python", "==", 0),
    ],
    # single map-side-combinable aggregate over the pruned scan (+ spread)
    "q1_pricing_summary": [
        ("shuffles", "<=", 2),
        ("smj", "==", 0),
        ("python", "==", 0),
        ("pushed", ">=", 1),
    ],
    # supplier + both nation aliases broadcast; one fact shuffle (+ spread)
    "q7_nation_volume": [
        ("shuffles", "<=", 3),
        ("bhj", ">=", 4),
        ("smj", "==", 0),
        ("python", "==", 0),
    ],
    # banded bucket self-join must stay an equi-join, never all-pairs
    "d_minhash_lsh": [
        ("bnlj", "==", 0),
        ("python", "==", 0),
        ("shuffles", "<=", 4),
    ],
    # one user-keyed shuffle shared by the session windows
    "e_sessionize": [("shuffles", "<=", 1), ("python", "==", 0)],
    # one orderkey-partitioned window, one aggregate exchange
    "q_order_share_window": [("shuffles", "<=", 2), ("python", "==", 0)],
    # one customer-keyed shuffle serves trailing AND lead windows
    "q_churn_training_set": [
        ("shuffles", "<=", 2),
        ("smj", "==", 0),
        ("python", "==", 0),
    ],
    "j_pit_features": [("shuffles", "<=", 1), ("python", "==", 0)],
    # brute-force top-k: the probe scores as literals (_vs_probe), no
    # shuffle after the spread exchange before top-k
    "s_knn_bruteforce": [
        ("shuffles", "<=", 2),
        ("python", "==", 0),
        ("bnlj", "==", 0),
    ],
    # the IVF and multi-probe LSH searches score through the same
    # _vs_probe: no broadcast-probe nested-loop join
    "s_ann_ivf": [("bnlj", "==", 0)],
    "s_ann_ivf_kmeans": [("bnlj", "==", 0)],
    "s_ann_ivf_sampled": [("bnlj", "==", 0)],
    "s_ann_lsh_multiprobe": [("bnlj", "==", 0)],
    # PQ searches re-rank their ADC shortlist against the probe shipped
    # as literals (_adc_top_k): no broadcast-probe nested-loop join and
    # no second corpus scan; the one exchange is the spread
    "s_ann_pq": [("bnlj", "==", 0), ("shuffles", "<=", 1)],
    "s_ann_ivfpq": [("bnlj", "==", 0), ("shuffles", "<=", 1)],
    # a rollup's state folds in one task (operators/store.py:Rollup):
    # the stored HLL serve merges registers with no exchange
    "a_hll_rollup_stored": [("shuffles", "==", 0)],
    # pure narrow expression pipeline — no exchange beyond the spread
    "t_quality_score": [("shuffles", "<=", 1), ("python", "==", 0)],
    # round-4b/c single-fact-shuffle contracts
    "t_feature_hashing": [("shuffles", "<=", 1), ("python", "==", 0)],
    "v_rapid_repeat_orders": [("shuffles", "<=", 1), ("python", "==", 0)],
    "w_backward_fill": [("shuffles", "<=", 1), ("python", "==", 0)],
    "e_last_touch_attribution": [("shuffles", "<=", 2), ("python", "==", 0)],
    # candidate pairs verify by intersecting per-doc shingle arrays
    # (_overlap); a re-join of every pair to both docs' per-shingle rows
    # costs two more exchanges (7 and 6 at sf0.001)
    "d_jaccard_histogram": [("shuffles", "<=", 5), ("smj", "==", 0)],
    "d_containment_pairs": [("shuffles", "<=", 4), ("smj", "==", 0)],
}


@pytest.mark.parametrize("name", sorted(_PINS))
def test_plan_shape_pinned(spark, name):
    v = _vitals(spark, name)
    for metric, op, bound in _PINS[name]:
        got = v[metric]
        ok = (
            got <= bound
            if op == "<="
            else got >= bound
            if op == ">="
            else got == bound
        )
        assert ok, f"{name}: {metric}={got} violates {op}{bound} (vitals {v})"
