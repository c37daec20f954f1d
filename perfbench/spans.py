"""Spans and Spark runtime counters for the traced benchmark run.

Spans record name, start, end, parent span and op id; they are held in
memory and written once when the run ends.  ``SparkStats.measure``
brackets one public call with its own job group and reads, after the
call, the stages of that group from Spark's ``AppStatusStore`` and the
Python-node metrics of the call's SQL executions from
``SQLAppStatusStore`` (both through Py4J; both are populated with the UI
disabled).
"""
from __future__ import annotations

import contextlib
import json
import statistics
import time
from typing import Dict, Iterator, List, Optional

# SQL metric names of the Python exec nodes (MapInPandas,
# FlatMapGroupsInPandas, ...), mapped to per-layer metric names.
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.eval_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of output rows": "python.rows_received",
}

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "": 1}


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``"1,000"``, ``"535 ms"``, or the
    total line of ``"total (min, med, max ...)\\n2.2 s (...)"``; times in
    seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1].split(" (")[0].split()
    unit = line[1] if len(line) > 1 else ""
    return float(line[0].replace(",", "")) * _UNITS[unit]


class Tracer:
    """In-memory spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: Optional[int] = None) -> Iterator[dict]:
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> Dict[int, float]:
        """Span duration minus the time its children cover."""
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        return {s["id"]: (s["end"] - s["start"]) - _covered(
                    [(c["start"], c["end"]) for c in
                     children.get(s["id"], [])])
                for s in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        own = self.self_times()
        spans = [dict(s, self_s=own[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump(dict(extra, spans=spans), f, indent=1)


def _covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkStats:
    """Per-call deltas of Spark's status stores, keyed by job group."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = cores
        self.calls = 0

    @contextlib.contextmanager
    def measure(self, name: str) -> Iterator[dict]:
        """Run the block as one job group; on exit fill the yielded dict
        with the group's stage, task, shuffle and Python-worker totals."""
        group = f"perfbench-{self.calls}-{name}"
        self.calls += 1
        executions = self.sql.executionsCount()
        self.sc.setJobGroup(group, name)
        out: dict = {}
        start_ms = time.time() * 1000.0
        start = time.perf_counter()
        try:
            yield out
        finally:
            wall = time.perf_counter() - start
            end_ms = time.time() * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.bus.waitUntilEmpty()
        out.update(self._stages(group, wall, start_ms, end_ms))
        out.update(self._python(executions))

    def _stages(self, group, wall, start_ms, end_ms) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = sorted({s for j in jobs
                            for s in (tracker.getJobInfo(j).stageIds
                                      if tracker.getJobInfo(j) else [])})
        stages = []
        for sid in stage_ids:
            s = self.store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            sub, done = s.submissionTime(), s.completionTime()
            stages.append({
                "id": sid, "attempt": s.attemptId(),
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_records": s.shuffleWriteRecords(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "start_ms": sub.get().getTime() if sub.isDefined()
                else start_ms,
                "end_ms": done.get().getTime() if done.isDefined()
                else end_ms,
                "python": self._has_python(sid),
            })
        covered = _covered([(max(s["start_ms"], start_ms),
                             min(s["end_ms"], end_ms)) for s in stages
                            if s["end_ms"] > s["start_ms"]]) / 1000.0
        py_tasks = [s["tasks"] for s in stages if s["python"]]
        run_s = sum(s["run_ms"] for s in stages) / 1000.0
        return {
            "wall_s": wall,
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "spark.shuffle_read_bytes": sum(s["shuffle_read"]
                                            for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffle_write"]
                                             for s in stages),
            "spark.shuffle_write_records": sum(s["shuffle_records"]
                                               for s in stages),
            "spark.spill_bytes": sum(s["spill"] for s in stages),
            "spark.min_tasks_python_stage": min(py_tasks, default=0),
            "spark.task_skew": self._skew(stages),
            "spark.core_util": run_s / (wall * self.cores),
            "spark.driver_remainder_s": wall - covered,
        }

    def _has_python(self, sid: int) -> bool:
        """Whether the stage's RDD operation graph holds a Python node."""
        todo = [self.store.operationGraphForStage(sid).rootCluster()]
        while todo:
            cluster = todo.pop()
            name = cluster.name()
            if "Pandas" in name or "Python" in name:
                return True
            kids = cluster.childClusters()
            todo.extend(kids.apply(i) for i in range(kids.length()))
        return False

    def _skew(self, stages) -> float:
        """max / median task duration of the longest stage."""
        if not stages:
            return 1.0
        longest = max(stages, key=lambda s: s["end_ms"] - s["start_ms"])
        tasks = self.store.taskList(longest["id"], longest["attempt"],
                                    1 << 20)
        durations = [tasks.apply(i).duration().get()
                     for i in range(tasks.length())
                     if tasks.apply(i).duration().isDefined()]
        med = statistics.median(durations) if durations else 0
        return max(durations) / med if med else 1.0

    def _python(self, executions_before: int) -> dict:
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        count = self.sql.executionsCount() - executions_before
        if count <= 0:
            return out
        execs = self.sql.executionsList(executions_before, count)
        for i in range(execs.length()):
            eid = execs.apply(i).executionId()
            values = _metric_strings(self.sql.executionMetrics(eid))
            nodes = self.sql.planGraph(eid).allNodes()
            for j in range(nodes.length()):
                node = nodes.apply(j)
                if "Pandas" not in node.name() and \
                        "Python" not in node.name():
                    continue
                metrics = node.metrics()
                for k in range(metrics.length()):
                    m = metrics.apply(k)
                    key = PYTHON_METRICS.get(m.name())
                    value = values.get(m.accumulatorId())
                    if key and value is not None:
                        out[key] += parse_sql_metric(value)
        return out


def _metric_strings(scala_map) -> Dict[int, str]:
    """accumulator id -> formatted value of a Scala ``Map[Long, String]``,
    in one Py4J call (Py4J passes small ints as Integer, so ``get`` on
    the Long-keyed map from Python never matches)."""
    out = {}
    for entry in scala_map.mkString("\x01").split("\x01"):
        if entry:
            key, _, value = entry.partition(" -> ")
            out[int(key)] = value
    return out
