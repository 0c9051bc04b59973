"""Spans and Spark-side counters for the traced run.

Spans are recorded from the benchmark's own code around each call into a
layer's public function; they stay in memory and are written when the run
ends. Spark's own per-operator SQL metrics, job/stage/task counts and task
times are read from Spark's status stores after each operation, from
outside the timed span.
"""

from __future__ import annotations

import contextlib
import re
import time

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
    "ms": 1.0, "s": 1000.0, "m": 60000.0, "h": 3600000.0,
}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Spark's display string of one SQL metric -> a number in base units
    (bytes, milliseconds, rows). Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (...)``: the total is taken."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Span recorder. With ``enabled=False`` every call is a no-op, so the
    untraced run pays nothing but a method call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> list[dict]:
        """Each span's duration minus the part its children cover
        (children of one parent run one after another)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            out.append({**s, "dur_ms": 1e3 * dur,
                        "self_ms": 1e3 * max(dur - child.get(s["id"], 0.0), 0.0)})
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [1e3 * (s["end"] - s["start"]) for s in self.spans
                if s["name"] == name and s["end"] is not None]


class SparkHarvest:
    """Reads Spark's counters for the jobs of one operation.

    Each operation runs under its own job group; after it returns, the
    group's jobs give job/stage/task counts, the application status store
    gives per-task run times and shuffle bytes, and the SQL status store
    gives every plan node's SQL metrics for the executions the operation
    started."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self.sc._jsc.sc().statusStore()
        self._last_exec = -1
        self._group = None

    def _max_exec(self) -> int:
        ex = self._sql.executionsList()
        n = ex.size()
        return max((ex.apply(i).executionId() for i in range(n)), default=-1)

    def begin(self, op_id: int) -> None:
        self._group = f"bench-op-{op_id}"
        self._last_exec = self._max_exec()  # untraced work before this op is not its own
        self.sc.setJobGroup(self._group, self._group)

    def end(self) -> dict:
        """Counters of the operation begun last (call after it returned)."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._group)
        deadline = time.perf_counter() + 2.0
        while time.perf_counter() < deadline:  # listener bus is asynchronous
            infos = [tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.01)
        stages, tasks, stage_tasks = [], 0, []
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                st = tracker.getStageInfo(s)
                if st is None or st.numCompletedTasks == 0:
                    continue  # skipped stage (shuffle reuse)
                stages.append(s)
                tasks += st.numCompletedTasks
        shuffle_bytes = 0.0
        for s in stages:
            runs = []
            tl = self._app.taskList(s, 0, 100000)
            for i in range(tl.size()):
                tm = tl.apply(i).taskMetrics()
                if tm.isDefined():
                    m = tm.get()
                    runs.append(float(m.executorRunTime()))
                    shuffle_bytes += float(m.shuffleWriteMetrics().bytesWritten())
            stage_tasks.append(runs)
        nodes = self._sql_nodes()
        return {"jobs": len(jobs), "tasks": tasks, "stage_task_ms": stage_tasks,
                "shuffle_bytes": shuffle_bytes, "nodes": nodes}

    def _sql_nodes(self) -> list[dict]:
        """SQL metrics per plan node of the executions the operation
        started: ``[{"node": name, "metrics": {metric: value}}]``."""
        out = []
        top = self._max_exec()
        for eid in range(self._last_exec + 1, top + 1):
            deadline = time.perf_counter() + 2.0
            while time.perf_counter() < deadline:
                ex = self._sql.execution(eid)
                if not ex.isDefined() or ex.get().completionTime().isDefined():
                    break
                time.sleep(0.01)
            vals = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                nd = nodes.apply(i)
                ms = nd.metrics()
                metrics = {}
                for k in range(ms.size()):
                    pm = ms.apply(k)
                    v = vals.get(pm.accumulatorId())
                    metrics[pm.name()] = parse_metric(v.get() if v.isDefined() else None)
                out.append({"node": nd.name(), "metrics": metrics})
        self._last_exec = top
        return out
