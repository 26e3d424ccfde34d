"""Self-test of the benchmark at sf0.001: one traced run per workload.

    python3 -m pytest perfbench -q

Each run must print a correct result whose metrics are exactly the
per-layer metrics of ``spec.py``, each with its unit, and leave a record
whose end-to-end metrics are exactly the spec's.  The traced headline run
must attribute ``q1_pricing_summary`` (scan, partial aggregate,
exchange, final aggregate) to at least one job with shuffle bytes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(workload: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", "1", "--sf", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-7.json")) as fh:
        return result, json.load(fh)


@pytest.fixture(scope="module", params=WORKLOADS)
def traced(request):
    return request.param, *_run(request.param)


def test_result_is_correct_and_complete(traced):
    _, result, record = traced
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["failures"]
    assert result["attempted"] >= 1
    want = {n: u for n, u, _ in spec.PER_LAYER}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    want = {n: u for n, u, _ in spec.END_TO_END}
    assert {k: v["unit"] for k, v in record["end_to_end"].items()} == want
    assert all(v["value"] > 0 for v in record["end_to_end"].values())


def test_spans_nest_workload_pass_op_phase(traced):
    _, _, record = traced
    by_id = {s["id"]: s for s in record["spans"]}
    parent_kind = {"pass": "workload", "op": "pass", "build": "op", "sink": "op"}
    for s in record["spans"]:
        if s["kind"] != "workload":
            assert by_id[s["parent"]]["kind"] == parent_kind[s["kind"]]
    assert any(s["kind"] == "build" and "jobs" in s["counts"] for s in record["spans"])


def test_q1_reports_jobs_and_shuffle_bytes(traced):
    workload, _, record = traced
    if workload != "headline":
        pytest.skip("q1_pricing_summary runs in the headline workload")
    (q1,) = [o for o in record["per_op"] if o["name"] == "q1_pricing_summary"]
    jobs = q1["build"]["jobs"] + q1["sink"]["jobs"]
    shuffle = q1["build"]["shuffle_write_mb"] + q1["sink"]["shuffle_write_mb"]
    assert jobs >= 1
    assert shuffle > 0


def test_store_records_bytes_written_and_on_disk(traced):
    workload, result, _ = traced
    if workload != "store":
        pytest.skip("only the store workload writes")
    m = result["metrics"]
    assert m["store.files_written"]["value"] > 0
    assert m["store.write_amp"]["value"] > 0
    assert m["store.space_amp"]["value"] > 0
