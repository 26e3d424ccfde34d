"""The benchmark's contract: workloads and metrics, by name and unit.

``python3 perfbench/run.py --write-spec`` writes this as BENCHMARK.json
at the repository root.  A bound is the share of the parent commit's
median by which an end-to-end metric may worsen before a change counts
as a regression.
"""

from __future__ import annotations

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 10

WORKLOADS = [
    ("composites", "near-dup pipeline and uncached k-means/PQ fits: driver-side "
     "loops, eager checkpoints, Python-worker kernels"),
    ("store", "build/append/compact/serve lifecycle of the HLL rollup store: "
     "the only workload that writes"),
]

# On a shared 4-vCPU VM the wall time of identical passes spread
# 0.32-0.38 (IQR/median over ten seeds) while the hypervisor stole CPU, so
# the pass metric is CPU seconds (median over a run's untraced passes);
# wall time is the per-layer ``pass.wall_s``.  CPU time still swells when
# the host is busy, and a cold set-up is measured once per run, so every
# bound sits at the 0.25 maximum.  Per-operation latencies are kept in
# the run record only: with 3-5 unlike operations per pass their median
# is one operation's time and no p90 has ten samples beyond it.
# (name, unit, bound)
END_TO_END = [
    ("setup_s", "s", 0.25),
    ("pass_cpu_s", "s", 0.25),
    ("peak_rss_mb", "MB", 0.25),
]

# (name, unit, better)
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("pass.wall_s", "s", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.build_jobs", "count", "lower"),
    ("engine.sink_s", "s", "lower"),
    ("engine.jobs", "count", "lower"),
    ("engine.stages", "count", "lower"),
    ("engine.tasks", "count", "lower"),
    ("engine.task_s", "s", "lower"),
    ("engine.task_cpu_s", "s", "lower"),
    ("engine.gc_s", "s", "lower"),
    ("engine.task_busy_ratio", "ratio", "higher"),
    ("engine.overhead_per_job_s", "s", "lower"),
    ("engine.task_skew", "ratio", "lower"),
    ("engine.shuffle_write_mb", "MB", "lower"),
    ("engine.shuffle_read_mb", "MB", "lower"),
    ("engine.spill_disk_mb", "MB", "lower"),
    ("engine.input_mb", "MB", "lower"),
    ("pyworker.mb_sent", "MB", "lower"),
    ("pyworker.rows_out", "count", "lower"),
    ("similarity.train_s", "s", "lower"),
    ("similarity.train_jobs", "count", "lower"),
    ("store.write_s", "s", "lower"),
    ("store.compact_s", "s", "lower"),
    ("store.serve_s", "s", "lower"),
    ("store.files_written", "count", "lower"),
    ("store.mb_written", "MB", "lower"),
    ("store.mb_on_disk", "MB", "lower"),
    ("store.write_amp", "ratio", "lower"),
    ("store.space_amp", "ratio", "lower"),
    ("split.build_share", "ratio", "lower"),
    ("split.task_share", "ratio", "higher"),
    ("split.overhead_share", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

UNITS = {n: u for n, u, _ in END_TO_END} | {n: u for n, u, _ in PER_LAYER}


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": "lower", "bound": b}
            for n, u, b in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER
        ],
    }
