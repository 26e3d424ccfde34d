"""tools/perfbench_ab.py's summary over synthetic runs (no Spark)."""

from __future__ import annotations

import json

from tools.perfbench_ab import end_to_end_metrics, op_cpu_s, summarize, workload_names


def _run(pair, side, failed=0, **metrics):
    return {"pair": pair, "side": side, "failed": failed, **metrics}


def test_summary_medians_quartiles_and_pairs_won_with_ties():
    runs = [
        _run(0, "parent", t=10.0, r=1.0),
        _run(0, "change", t=9.0, r=2.0),  # change better on both
        _run(1, "change", t=12.0, r=1.0),
        _run(1, "parent", t=12.0, r=1.0),  # tie on both: neither side
        _run(2, "parent", t=14.0, r=3.0),
        _run(2, "change", t=15.0, r=2.0),  # change worse on both
        _run(3, "change", t=8.0, r=5.0),
        _run(3, "parent", failed=2, t=16.0, r=4.0),  # change better on both
    ]
    s = summarize(runs, {"t": "lower", "r": "higher"})
    assert s["t"] == {
        "better": "lower",
        "parent_median": 13.0,
        "change_median": 10.5,
        "parent_q1": 11.5,
        "parent_q3": 14.5,
        "pairs_won": 2,
        "pairs": 4,
    }
    assert s["r"]["pairs_won"] == 2
    assert s["r"]["parent_median"] == 2.0 and s["r"]["change_median"] == 2.0
    assert s["failed"] == {"parent": 2, "change": 0}
    assert s["crashed"] == {"parent": 0, "change": 0}


def test_summary_skips_crashed_runs():
    runs = [
        _run(0, "parent", t=10.0),
        {"pair": 0, "side": "change", "seed": 1, "failed": None, "exit": 1},
        _run(1, "change", t=9.0),
        _run(1, "parent", t=11.0),
    ]
    s = summarize(runs, {"t": "lower"})
    assert s["t"]["pairs"] == 1 and s["t"]["pairs_won"] == 1
    assert s["t"]["change_median"] == 9.0
    assert s["t"]["parent_q1"] == 10.25 and s["t"]["parent_q3"] == 10.75
    assert s["crashed"] == {"parent": 0, "change": 1}


def test_metrics_and_workloads_come_from_benchmark_json():
    metrics = end_to_end_metrics()
    assert metrics and set(metrics.values()) <= {"lower", "higher"}
    assert "pass_cpu_s" in metrics
    assert {"composites", "store"} <= set(workload_names())


def test_op_cpu_is_the_median_over_a_records_passes(tmp_path):
    record = tmp_path / "run-composites-1.json"
    record.write_text(json.dumps({"pass_ops": [
        [["km_fit", 0.5, 1.0], ["nd", 0.9, 3.0]],
        [["nd", 0.8, 2.0], ["km_fit", 0.4, 2.0]],
        [["km_fit", 0.6, 4.0], ["nd", 1.0, None]],
    ]}))
    assert op_cpu_s(str(record)) == {"op_cpu_s.km_fit": 2.0, "op_cpu_s.nd": 2.5}
