"""spark-graft benchmark: one closed-loop client per run.

    python3 perfbench/run.py --workload composites|store|headline \\
        --seed N --seconds S --trace 0|1

BENCHMARK.json lists ``composites`` and ``store``.  ``headline`` (the
bench.py headline queries) runs on request and in the self-test; it is
left out of BENCHMARK.json to keep a full campaign of runs (4 + 22 per
workload, 40-75 s each on a shared 4-vCPU VM) inside an hour.

Run from the repository root.  One process, one client, on
``local[<cpus>]``: each operation starts only after the previous one has
finished.  A run

1. pins the machine shape (cpus, driver memory, JVM flags, private
   local/temp dirs under ``.perfbench/``) before Spark starts;
2. fills the DuckDB oracle cache for the workload (untimed);
3. sets up, timed as ``setup_s``: session start, data checksum and
   oracle-cache checks, and a check pass that compares every answer with
   its oracle (or, for fits, records the set-up fit).  The check pass is
   also the warm-up: it is each operation's first, cold run;
4. runs whole passes, in a seed-chosen order, until ``--seconds`` have
   passed and at least the workload's ``min_passes`` are done.  Each pass records its
   wall time, the CPU time of this process, the JVM and the JVM's Python
   workers, and the VM's steal time.  With ``--trace 1`` passes
   alternate untraced and traced; the traced ones read per-phase Spark
   counts (``sparkstats.Probe``) and record spans, written to
   ``.perfbench/trace-<workload>-<seed>.json``.

The end-to-end pass metric is CPU time, not wall time.  On a shared
4-vCPU VM whose hypervisor at times stole a fifth of the CPUs, the
median pass wall time of ten seeds spread 0.32-0.38 (IQR/median) and
the median pass CPU time 0.13-0.15 in the same runs.  CPU time still
grows when much is stolen, and the host's speed drifts between runs.
The median wall time is still reported, as the per-layer
``pass.wall_s``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of ``spec.py`` with
``--trace 0``, its per-layer metrics with ``--trace 1``.  The data is a
checksummed copy of the repository's test data in ``perfbench/data``
(the benchmark reads and writes only inside its checkout); the seed
picks the per-pass operation order and the store workload's
build/append split.  ``--write-spec`` writes BENCHMARK.json instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The package's session defaults to a 16g driver and local[32]; the
# benchmark pins a heap that fits a small shared box and one task slot
# per CPU it may run on.
DRIVER_MEMORY = "1g"
# JVM flags that take run-to-run noise out of the numbers, not work out of
# the program.  A run lasts 30-75 s, too short for C2 to pay back its
# compile time: with it, pass CPU fell by 25-35% from the first to the
# third timed pass; C1 alone leaves the passes nearly flat.  A fixed
# young generation stops G1's adaptive eden sizing from swinging the
# JVM's peak RSS between runs (IQR/median 0.18-0.22 -> 0.04-0.13).
JAVA_OPTS = f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEMORY} -Xmn128m"

import spec  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default="sf0.01", help="data directory under perfbench/data")
    p.add_argument("--write-spec", action="store_true", help="write BENCHMARK.json and exit")
    a = p.parse_args(argv)
    if not a.write_spec and a.workload is None:
        p.error("--workload is required")
    return a


def pin_machine(work: str) -> dict:
    """Environment the package's session reads, set before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_memory": DRIVER_MEMORY, "local_dirs": local, "tmp": tmp}


def _tree(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(JVM VmHWM, this process's ru_maxrss), in MB."""
    import resource

    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return jvm_kb / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, own + reaped children's CPU seconds)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]) / _TICK)
    return out


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and every process
    under the JVM (the Python worker daemon and its workers).  The JVM is
    not yet reaped, so this process's own children's times hold none of it."""
    t = os.times()
    stats = _proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = t.user + t.system, [jvm_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo.extend(kids.get(pid, ()))
    return total


def steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over this VM's CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Set-up, passes and metrics for one workload in one process."""

    def __init__(self, workload, oracles, probe) -> None:
        self.wl = workload
        self.oracles = oracles
        self.probe = probe
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.jvm_pid = probe.sc._jvm.java.lang.ProcessHandle.current().pid()
        self.attempted = 0
        self.failures: list[str] = []
        self.check_s: dict[str, float] = {}

    def _fail(self, what: str, err: str) -> None:
        self.failures.append(f"{what}: {err}")
        print(f"FAIL {what}: {err}", file=sys.stderr)

    # -- set-up pass: every answer checked, nothing timed per operation --
    def check_pass(self) -> None:
        from oracle import answer, mismatch

        ops, root = self.wl.ops("check")
        for op in ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if op.check is not None:
                    op.reference = op.check()
                    continue
                r = op.run()
                if op.oracle is not None:
                    got = answer(list(r.columns), [tuple(x) for x in r.collect()])
                    why = mismatch(got, self.oracles[op.oracle])
                    if why:
                        self._fail(op.name, why)
            except Exception as e:  # noqa: BLE001 - count it and go on
                self._fail(op.name, f"{type(e).__name__}: {e}".splitlines()[0])
            finally:
                self.check_s[op.name] = time.perf_counter() - t0
        if root:
            shutil.rmtree(root)

    # -- one timed pass --
    def run_pass(self, pass_id: str, traced: bool) -> dict:
        t_pass, c_pass, st_pass = time.perf_counter(), cpu_s(self.jvm_pid), steal_s()
        ops, root = self.wl.ops(pass_id)
        records = []
        for op in ops:
            records.append(self._run_op(op, traced, root))
        rec = {"id": pass_id, "traced": traced, "ops": records}
        if root:
            if traced:
                rec["mb_on_disk"] = sum(_tree(root).values()) / 2**20
                rec["input_mb"] = sum(
                    os.path.getsize(os.path.join(self.wl.sf_dir, f"{op.source}.parquet"))
                    for op in ops if op.source
                ) / 2**20
            shutil.rmtree(root)
        rec["start"], rec["end"] = t_pass, time.perf_counter()
        rec["wall_s"] = rec["end"] - t_pass
        rec["cpu_s"] = cpu_s(self.jvm_pid) - c_pass
        rec["steal_s"] = steal_s() - st_pass
        return rec

    def _phase(self, label: str, traced: bool, fn):
        group = self.probe.tag(label)
        t0 = time.perf_counter()
        r = fn()
        t1 = time.perf_counter()
        counts = self.probe.read(group) if traced else None
        return r, t0, t1, counts

    def _run_op(self, op, traced: bool, root: str | None) -> dict:
        self.attempted += 1
        rec = {"name": op.name, "layer": op.layer, "ok": True}
        before = _tree(root) if traced and op.layer in ("write", "compact") else None
        c0 = cpu_s(self.jvm_pid)
        try:
            r, t0, t1, c_build = self._phase(f"{op.name}/build", traced, op.run)
            rec.update(start=t0, build_s=t1 - t0, sink_s=0.0, build=c_build)
            if hasattr(r, "write"):
                _, s0, s1, c_sink = self._phase(
                    f"{op.name}/sink", traced,
                    lambda: r.write.format("noop").mode("overwrite").save(),
                )
                rec.update(sink_s=s1 - s0, sink=c_sink, sink_start=s0)
                t1 = s1
            rec["end"], rec["wall_s"] = t1, t1 - t0
            rec["cpu_s"] = cpu_s(self.jvm_pid) - c0
            if op.reference is not None and r != op.reference:
                rec["ok"] = False
                self._fail(op.name, "fit differs from the set-up fit")
        except Exception as e:  # noqa: BLE001 - count it and go on
            rec["ok"] = False
            self._fail(op.name, f"{type(e).__name__}: {e}".splitlines()[0])
        if before is not None:
            after = _tree(root)
            new = [p for p, s in after.items() if before.get(p) != s]
            rec["files_written"] = len(new)
            rec["mb_written"] = sum(after[p] for p in new) / 2**20
        return rec


LAYERS = ("query", "serve", "fit", "write", "compact")


def _with_units(values: dict) -> dict:
    return {k: {"value": float(v), "unit": spec.UNITS[k]} for k, v in values.items()}


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(rec: dict, cores: int) -> dict:
    """Per-layer sums for one traced pass."""
    from sparkstats import EMPTY

    ops = [o for o in rec["ops"] if o["ok"]]
    tot = dict(EMPTY)
    sink_task_s = sink_jobs = 0
    slowest = (0.0, 1.0)
    for o in ops:
        for ph in ("build", "sink"):
            c = o.get(ph)
            if not c:
                continue
            for k in tot:
                if k not in ("slowest_stage_s", "task_skew"):
                    tot[k] += c[k]
            if c["slowest_stage_s"] > slowest[0]:
                slowest = (c["slowest_stage_s"], c["task_skew"])
            if ph == "sink":
                sink_task_s += c["task_s"]
                sink_jobs += c["jobs"]

    def s(layers, key="wall_s"):
        return sum(o[key] for o in ops if o["layer"] in layers)

    wall = rec["wall_s"]
    sink_s = s(("query", "serve"), "sink_s")
    build_s = s(("query", "serve"), "build_s")
    input_mb = rec.get("input_mb", 0.0)
    mb_written = sum(o.get("mb_written", 0.0) for o in ops)
    mb_on_disk = rec.get("mb_on_disk", 0.0)
    return {
        "plans.build_s": build_s,
        "plans.build_jobs": sum(
            o["build"]["jobs"] for o in ops if o["layer"] in ("query", "serve")
        ),
        "engine.sink_s": sink_s,
        "engine.jobs": tot["jobs"],
        "engine.stages": tot["stages"],
        "engine.tasks": tot["tasks"],
        "engine.task_s": tot["task_s"],
        "engine.task_cpu_s": tot["task_cpu_s"],
        "engine.gc_s": tot["gc_s"],
        "engine.task_busy_ratio": tot["task_s"] / (s(LAYERS) * cores),
        "engine.overhead_per_job_s": (
            (sink_s - sink_task_s / cores) / sink_jobs if sink_jobs else 0.0
        ),
        "engine.task_skew": slowest[1],
        "engine.shuffle_write_mb": tot["shuffle_write_mb"],
        "engine.shuffle_read_mb": tot["shuffle_read_mb"],
        "engine.spill_disk_mb": tot["spill_disk_mb"],
        "engine.input_mb": tot["input_mb"],
        "pyworker.mb_sent": tot["py_mb_sent"],
        "pyworker.rows_out": tot["py_rows_out"],
        "similarity.train_s": s(("fit",)),
        "similarity.train_jobs": sum(o["build"]["jobs"] for o in ops if o["layer"] == "fit"),
        "store.write_s": s(("write",)),
        "store.compact_s": s(("compact",)),
        "store.serve_s": s(("serve",)),
        "store.files_written": sum(o.get("files_written", 0) for o in ops),
        "store.mb_written": mb_written,
        "store.mb_on_disk": mb_on_disk,
        "store.write_amp": mb_written / input_mb if input_mb else 0.0,
        "store.space_amp": mb_on_disk / input_mb if input_mb else 0.0,
        "split.build_share": build_s / wall,
        "split.task_share": sink_task_s / cores / wall,
        "split.overhead_share": (sink_s - sink_task_s / cores) / wall,
    }


def spans(workload: str, t_start: float, t_end: float, passes: list[dict]) -> list[dict]:
    """workload -> pass -> operation -> {build, sink} spans of the traced
    passes, each carrying its phase's job-group counts."""
    out = [{"id": 0, "parent": None, "kind": "workload", "name": workload,
            "start": t_start, "end": t_end}]
    for p in passes:
        pid = len(out)
        out.append({"id": pid, "parent": 0, "kind": "pass", "name": p["id"],
                    "traced": p["traced"], "start": p["start"], "end": p["end"]})
        if not p["traced"]:
            continue
        for o in p["ops"]:
            if "end" not in o:
                continue
            oid = len(out)
            out.append({"id": oid, "parent": pid, "kind": "op", "name": o["name"],
                        "layer": o["layer"], "start": o["start"], "end": o["end"]})
            out.append({"id": len(out), "parent": oid, "kind": "build", "name": o["name"],
                        "start": o["start"], "end": o["start"] + o["build_s"],
                        "counts": o["build"]})
            if o.get("sink"):
                out.append({"id": len(out), "parent": oid, "kind": "sink",
                            "name": o["name"], "start": o["sink_start"],
                            "end": o["end"], "counts": o["sink"]})
    return out


def self_times(span_list: list[dict]) -> dict[str, float]:
    """Per span kind, summed over the traced passes: duration minus the
    part its children cover."""
    child = {}
    for s in span_list:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in span_list:
        if s["kind"] == "workload" or s.get("traced") is False:
            continue
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[s["kind"]] = out.get(s["kind"], 0.0) + own
    return out


def run(args, record_dir: str) -> dict:
    """One benchmark run; returns the result object and writes the record."""
    machine = pin_machine(os.path.join(record_dir, f"run-{os.getpid()}"))
    machine["load1_ambient"] = os.getloadavg()[0]
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import duckdb
    import pyspark

    from olympic_athletes_etl_spark.session import get_spark
    from oracle import OracleCache, verify_data
    from sparkstats import Probe
    from workloads import Workload, oracle_names

    machine.update(pyspark=pyspark.__version__, duckdb=duckdb.__version__)
    sf_dir = os.path.join(HERE, "data", args.sf)
    names = oracle_names(args.workload)
    cache = OracleCache(sf_dir, verify_data(sf_dir), record_dir)
    cache.fill(names)

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={machine['tmp']} {JAVA_OPTS}"
        },
    )
    try:
        session_s = time.perf_counter() - t0
        verify_data(sf_dir)
        cache.check(names)
        workload = Workload(args.workload, spark, sf_dir, args.seed, machine["tmp"])
        runner = Runner(workload, cache, Probe(spark))
        runner.check_pass()
        setup_s = time.perf_counter() - t0
        runner.probe.mark_sql()

        passes = []
        t_meas = time.perf_counter()
        while len(passes) < workload.min_passes or time.perf_counter() - t_meas < args.seconds:
            traced = bool(args.trace) and len(passes) % 2 == 1
            passes.append(runner.run_pass(str(len(passes)), traced))
        t_end = time.perf_counter()
        peak = peak_rss_mb(runner.jvm_pid)
    finally:
        _stop_spark(spark)

    plain = [p for p in passes if not p["traced"]]
    lat = [o["wall_s"] for p in plain for o in p["ops"] if o["ok"]]
    pass_wall_s = _med([p["wall_s"] for p in plain])
    e2e = {
        "setup_s": setup_s,
        "pass_cpu_s": _med([p["cpu_s"] for p in plain]),
        "peak_rss_mb": sum(peak),
    }
    metrics = e2e = _with_units(e2e)
    record = {"workload": args.workload, "seed": args.seed, "sf": args.sf,
              "machine": machine, "split": vars(runner.wl.split),
              "passes": len(passes), "ops_timed": len(lat),
              "op_latency_p50_s": _med(lat),
              "pass_wall_s": pass_wall_s, "peak_rss_jvm_py_mb": peak,
              "pass_wall_cpu_steal_s": [(p["wall_s"], p["cpu_s"], p["steal_s"]) for p in passes],
              "pass_ops": [[(o["name"], o.get("wall_s"), o.get("cpu_s")) for o in p["ops"]]
                           for p in passes],
              "session_s": session_s, "check_pass_s": runner.check_s,
              "end_to_end": e2e, "failures": runner.failures,
              "fail_ratio": len(runner.failures) / runner.attempted}
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        per_pass = [layer_metrics(p, runner.cores) for p in traced]
        layer = {k: _med([m[k] for m in per_pass]) for k in per_pass[0]}
        layer["session.start_s"] = session_s
        layer["pass.wall_s"] = pass_wall_s
        layer["trace.overhead_s"] = _med([p["wall_s"] for p in traced]) - pass_wall_s
        metrics = layer = _with_units(layer)
        span_list = spans(args.workload, t_meas, t_end, passes)
        record.update(
            per_layer=layer,
            self_time_per_traced_pass={
                k: v / len(traced) for k, v in self_times(span_list).items()
            },
            per_op=[{k: v for k, v in o.items() if k not in ("start", "end", "sink_start")}
                    for p in traced for o in p["ops"]],
            spans=span_list,
        )
    name = f"{'trace' if args.trace else 'run'}-{args.workload}-{args.seed}.json"
    with open(os.path.join(record_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print("# machine " + json.dumps(machine, sort_keys=True))
    if args.trace:
        print(
            "# pass split: plan build {:.0%}, task time {:.0%}, per-job overhead "
            "{:.0%}; tracing overhead {:.3f} s".format(
                *(layer[k]["value"] for k in (
                    "split.build_share", "split.task_share",
                    "split.overhead_share", "trace.overhead_s"))
            )
        )
    failed = len(runner.failures)
    return {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    args = _args(argv)
    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(spec.benchmark_json(), fh, indent=2)
            fh.write("\n")
        return 0
    for need in ("olympic_athletes_etl_spark", "bench.py", "tools/check_parity.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found next to perfbench/", file=sys.stderr)
            return 2
    record_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(record_dir, exist_ok=True)
    try:
        result = run(args, record_dir)
    except Exception:  # noqa: BLE001 - the run is over; report, no result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(os.path.join(record_dir, f"run-{os.getpid()}"), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
