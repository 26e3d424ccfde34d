"""Spark-side counts for one tagged phase of one operation.

Each phase runs under a job group of its own (``Probe.tag``), so jobs
are never summed across passes of the same query.  ``Probe.read`` then
drains the listener bus and reads, for that group only:

- jobs from ``statusTracker().getJobIdsForGroup``;
- per-stage task time, CPU, GC, shuffle, spill and input bytes from the
  JVM ``AppStatusStore.stageData`` (the UI is off; the store is not);
- the slowest stage's max/median task time from ``taskSummary``;
- Python-worker bytes and rows from the SQL status store: the plan graph
  of every SQL execution the group ran, rendered with its metric values.

It must run right after the phase, before the status store's retention
limits (``spark.ui.retainedStages`` and friends) evict the stages of a
long run.
"""

from __future__ import annotations

import itertools
import re

_MB = 1024.0 * 1024.0
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_NODE = re.compile(r'label="(.*?)"(?: tooltip|\];)')
_SQL_WINDOW = 256

EMPTY = {
    "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "task_cpu_s": 0.0,
    "gc_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
    "spill_disk_mb": 0.0, "input_mb": 0.0, "py_mb_sent": 0.0,
    "py_rows_out": 0, "slowest_stage_s": 0.0, "task_skew": 1.0,
}


def _first_value(text: str) -> str:
    """The total of a rendered SQL metric: either ``1,234`` / ``12.0 KiB``
    or ``total (min, med, max ...)<br>12.0 KiB (...)``."""
    if text.startswith("total"):
        text = text.split("<br>", 1)[1]
    return text.split(" (", 1)[0].strip()


def _size_bytes(text: str) -> float:
    num, unit = _first_value(text).split()
    return float(num.replace(",", "")) * _UNITS[unit]


def python_node_metrics(dot: str) -> tuple[float, int]:
    """(bytes sent to Python workers, rows out of Python operators) summed
    over the plan nodes of one rendered SQL plan graph."""
    sent, rows = 0.0, 0
    for label in _NODE.findall(dot):
        fields = label.split("<br>")
        if not any(f.startswith("data sent to Python workers") for f in fields):
            continue
        body = "<br>".join(fields[2:])
        for m in re.finditer(
            r"(data sent to Python workers|number of output rows): "
            r"((?:total \(min, med, max[^)]*\)\)<br>)?[^<]*)",
            body,
        ):
            if m.group(1).startswith("data sent"):
                sent += _size_bytes(m.group(2))
            else:
                rows += int(_first_value(m.group(2)).replace(",", ""))
    return sent, rows


class Probe:
    """Job-group tagging and per-group reads for one SparkSession."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = self.sc._jvm
        self._ids = itertools.count()
        self._last_exec = -1

    def tag(self, label: str) -> str:
        """Start a fresh job group for the next phase and return its id."""
        group = f"perfbench-{next(self._ids)}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def mark_sql(self) -> None:
        """Remember the newest SQL execution id; later reads only look at
        executions started after this point."""
        self._jsc.listenerBus().waitUntilEmpty()
        n = self._sql.executionsCount()
        if n:
            lst = self._sql.executionsList(n - 1, 1)
            self._last_exec = max(self._last_exec, lst.apply(0).executionId())

    def read(self, group: str) -> dict:
        """Counts for every job the group ran (see module docstring)."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict(EMPTY)
        jobs = list(self.tracker.getJobIdsForGroup(group))
        out["jobs"] = len(jobs)
        if not jobs:
            return out
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        no_status = self._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        slowest = None
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                run_ms = sd.executorRunTime()
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_s"] += run_ms / 1000.0
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
                out["spill_disk_mb"] += sd.diskBytesSpilled() / _MB
                out["input_mb"] += sd.inputBytes() / _MB
                if slowest is None or run_ms > slowest[0]:
                    slowest = (run_ms, sid, sd.attemptId())
        if slowest is not None:
            out["slowest_stage_s"] = slowest[0] / 1000.0
            out["task_skew"] = self._skew(slowest[1], slowest[2])
        sent, rows = self._python_metrics(set(jobs))
        out["py_mb_sent"] = sent / _MB
        out["py_rows_out"] = rows
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        qs = self.sc._gateway.new_array(self._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage_id, attempt, qs)
        if summary.isEmpty():
            return 1.0
        run_ms = summary.get().executorRunTime()
        med, top = run_ms.apply(0), run_ms.apply(1)
        return top / med if med > 0 else 1.0

    def _python_metrics(self, jobs: set[int]) -> tuple[float, int]:
        n = self._sql.executionsCount()
        window = min(n, _SQL_WINDOW)
        lst = self._sql.executionsList(n - window, window)
        sent, rows, newest = 0.0, 0, self._last_exec
        for i in range(lst.size() - 1, -1, -1):
            e = lst.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                break
            newest = max(newest, eid)
            ran = {int(k) for k in re.findall(r"(\d+) ->", e.jobs().toString())}
            if not ran & jobs:
                continue
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            s, r = python_node_metrics(dot)
            sent += s
            rows += r
        self._last_exec = newest
        return sent, rows
