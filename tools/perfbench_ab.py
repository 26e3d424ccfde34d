"""Interleaved perfbench A/B: a parent git ref against this checkout.

    python tools/perfbench_ab.py --name NAME [--parent REF] [--pairs N]

The parent ref is extracted with ``git archive`` into a temporary
directory (under ``$TMPDIR``; removed when the A/B ends, however it
ends); the change side is this checkout's working tree.  For each
workload, pair i runs ``perfbench/run.py --seed i+1`` once on each side,
the parent first on even i and the change first on odd i, so a drift in
the host's speed lands on both sides alike.  Every workload that this
checkout's BENCHMARK.json declares is run.

Every run's end-to-end metrics (BENCHMARK.json ``end_to_end``), its
``failed`` count and, per operation, the median CPU seconds over its
timed passes (``op_cpu_s.<op>``, from the run's record) are written to
``AB_<NAME>.json`` after each run, so an interrupted A/B keeps what it
measured.  Per metric the summary gives the parent and change medians,
the parent's quartiles, and the pairs the change won; a tie counts for
neither side.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def end_to_end_metrics() -> dict[str, str]:
    """{metric: "lower" | "higher"} from this checkout's BENCHMARK.json."""
    return {m["name"]: m["better"] for m in _benchmark()["end_to_end"]}


def workload_names() -> list[str]:
    """The workloads this checkout's BENCHMARK.json declares."""
    return [w["name"] for w in _benchmark()["workloads"]]


def summarize(runs: list[dict], metrics: dict[str, str]) -> dict:
    """Medians, parent quartiles and pairs won per metric, plus the
    summed ``failed`` count per side.  A run without a metric (it
    crashed) is left out of that metric's medians and of its pair."""
    sides: dict[int, dict[str, dict]] = {}
    for r in runs:
        sides.setdefault(r["pair"], {})[r["side"]] = r
    out: dict = {
        "failed": {
            side: sum(r.get("failed") or 0 for r in runs if r["side"] == side)
            for side in ("parent", "change")
        },
        "crashed": {
            side: sum(
                r.get("failed") is None for r in runs if r["side"] == side
            )
            for side in ("parent", "change")
        },
    }
    for name, better in metrics.items():
        def values(side: str) -> list[float]:
            return [r[name] for r in runs if r["side"] == side and name in r]

        parent, change = values("parent"), values("change")
        won = pairs = 0
        for pair in sides.values():
            a = pair.get("parent", {}).get(name)
            b = pair.get("change", {}).get(name)
            if a is None or b is None:
                continue
            pairs += 1
            won += (b < a) if better == "lower" else (b > a)
        if len(parent) > 1:
            q1, _, q3 = statistics.quantiles(parent, n=4, method="inclusive")
        else:
            q1 = q3 = parent[0] if parent else None
        out[name] = {
            "better": better,
            "parent_median": statistics.median(parent) if parent else None,
            "change_median": statistics.median(change) if change else None,
            "parent_q1": q1,
            "parent_q3": q3,
            "pairs_won": won,
            "pairs": pairs,
        }
    return out


def op_cpu_s(record_path: str) -> dict[str, float]:
    """{``op_cpu_s.<op>``: median CPU seconds} over the timed passes in
    a run record that perfbench/run.py wrote."""
    with open(record_path) as fh:
        passes = json.load(fh)["pass_ops"]
    per_op: dict[str, list[float]] = {}
    for ops in passes:
        for name, _wall, cpu in ops:
            if cpu is not None:
                per_op.setdefault(name, []).append(cpu)
    return {f"op_cpu_s.{n}": statistics.median(v) for n, v in per_op.items()}


def run_once(checkout: str, workload: str, seed: int) -> dict:
    """One perfbench run at the benchmark's own run length; its end-to-end
    metrics and ``failed``, or ``failed: None`` and the exit code when it
    printed no result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload]
    cmd += ["--seed", str(seed)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return {"failed": None, "exit": proc.returncode}
    result = json.loads(lines[-1])
    metrics = {name: m["value"] for name, m in result["metrics"].items()}
    record = os.path.join(checkout, ".perfbench", f"run-{workload}-{seed}.json")
    return {"failed": result["failed"], **metrics, **op_cpu_s(record)}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--name", required=True, help="writes AB_<name>.json")
    p.add_argument("--parent", default="HEAD", help="git ref of the parent side")
    p.add_argument("--pairs", type=int, default=10)
    args = p.parse_args(argv)

    sha = subprocess.run(
        ["git", "rev-parse", "--short", args.parent],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip()
    metrics = end_to_end_metrics()
    out_path = os.path.join(ROOT, f"AB_{args.name}.json")
    record: dict = {
        "what": f"perfbench A/B, parent {sha} vs this checkout; {args.pairs} "
        "interleaved pairs per workload (pair i uses seed i+1, parent first "
        "on even i)",
        "command": "python3 perfbench/run.py --workload W --seed N",
        "workloads": {},
    }
    parent_dir = tempfile.mkdtemp(prefix="perfbench_ab_")
    try:
        archive = subprocess.run(
            ["git", "archive", args.parent], cwd=ROOT, capture_output=True, check=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", parent_dir], input=archive, check=True)
        # byte-compile up front, as the working tree already is: otherwise
        # the parent's first run pays the compile inside its timed setup
        subprocess.run(
            [sys.executable, "-m", "compileall", "-q", parent_dir],
            stdout=subprocess.DEVNULL, check=True,
        )
        checkouts = {"parent": parent_dir, "change": ROOT}
        for workload in workload_names():
            runs: list[dict] = []
            entry = record["workloads"][workload] = {
                "runs": runs, "summary": summarize(runs, metrics)
            }
            for i in range(args.pairs):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    r = run_once(checkouts[side], workload, i + 1)
                    runs.append({"pair": i, "side": side, "seed": i + 1, **r})
                    print(json.dumps({"workload": workload, **runs[-1]}), flush=True)
                    ops = {k: "lower" for run in runs for k in run if k.startswith("op_cpu_s.")}
                    entry["summary"] = summarize(runs, {**metrics, **ops})
                    with open(out_path, "w") as fh:
                        json.dump(record, fh, indent=1)
                        fh.write("\n")
    finally:
        shutil.rmtree(parent_dir, ignore_errors=True)
    for workload, entry in record["workloads"].items():
        s = entry["summary"]
        print(f"{workload}: failed {s['failed']}, crashed {s['crashed']}")
        for name in metrics:
            m = s[name]
            print(
                f"  {name}: parent {m['parent_median']} (q {m['parent_q1']}-"
                f"{m['parent_q3']}) -> change {m['change_median']}, change "
                f"better in {m['pairs_won']}/{m['pairs']} pairs"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
