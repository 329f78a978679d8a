"""Tracing for the benchmark's traced run.

Three sources, all read from the benchmark's side of the engine's API:

* `Tracer` wraps public functions of the engine's modules and records one
  span per call (name, start, end, op index). Spans stay in memory and are
  written out once, at the end of the run.
* `EventLog` parses Spark's own JSON event log (jobs, stages, tasks and
  SQL metrics) and attributes everything to the measured ops by time.
* `jvm_counters` reads the codegen and JIT counters of the driver JVM.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.op: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    def _record(self, name: str, t0: float, t1: float) -> None:
        self.spans.append((name, t0, t1, self.op))

    def _install(self, module, attr: str, replacement) -> None:
        """Replace `module.attr`, and every alias of the same function in
        the engine's already-imported modules, with `replacement`."""
        original = getattr(module, attr)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                    "rag_pipelines_spark"):
                continue
            for name, value in list(vars(mod).items()):
                if value is original:
                    self._undo.append((mod, name, original))
                    setattr(mod, name, replacement)

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call of `module.attr` as span `name`."""
        original = getattr(module, attr)

        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                self._record(name, t0, time.time())

        self._install(module, attr, timed)

    def wrap_enter(self, module, attr: str, name: str) -> None:
        """Time how long entering the context manager `module.attr` takes
        (for a lease: the time to acquire it)."""
        original = getattr(module, attr)

        @contextlib.contextmanager
        def timed(*args, **kwargs):
            with contextlib.ExitStack() as stack:
                t0 = time.time()
                value = stack.enter_context(original(*args, **kwargs))
                self._record(name, t0, time.time())
                yield value

        self._install(module, attr, timed)

    def restore(self) -> None:
        for mod, name, original in reversed(self._undo):
            setattr(mod, name, original)
        self._undo.clear()

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1, _ in self.spans if n == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"name": n, "start": t0, "end": t1, "op": op}
                       for n, t0, t1, op in self.spans], f)


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative whole-stage-codegen compiles/time and JIT time."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = hist.getCount()
    mean_ms = hist.getSnapshot().getMean()
    jit_ms = jvm.java.lang.management.ManagementFactory.getCompilationMXBean() \
        .getTotalCompilationTime()
    return {
        "engine.codegen_compiles": float(n),
        "engine.codegen_compile_s": n * mean_ms / 1000.0,
        "engine.jit_s": jit_ms / 1000.0,
    }


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class EventLog:
    """Spark JSON event log, reduced to what the per-layer metrics need."""

    _SQL = "org.apache.spark.sql.execution.ui."

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.executions: dict[int, dict] = {}
        self.accum: dict[int, tuple[str, str, str]] = {}  # id -> node, plan, metric
        self.driver_accum: list[tuple[int, int, float]] = []  # exec, id, value
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        stack = [info]
        while stack:
            node = stack.pop()
            for m in node.get("metrics", []):
                self.accum[m["accumulatorId"]] = (
                    node["nodeName"], node.get("simpleString", ""), m["name"])
            stack.extend(node.get("children", []))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None,
                                      "stages": e.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "start": info.get("Submission Time"),
                "end": info.get("Completion Time"),
                "tasks": info.get("Number of Tasks", 0),
            }
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "launch": ti["Launch Time"],
                "finish": ti["Finish Time"],
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "spill": tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "accum": [(a["ID"], a.get("Update")) for a in ti.get("Accumulables", [])
                          if a.get("Metadata") == "sql"],
            })
        elif kind == self._SQL + "SparkListenerSQLExecutionStart":
            self.executions[e["executionId"]] = {"start": e["time"], "end": None}
            self._plan(e["sparkPlanInfo"])
        elif kind == self._SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["sparkPlanInfo"])
        elif kind == self._SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]]["end"] = e["time"]
        elif kind == self._SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", []):
                self.driver_accum.append((e["executionId"], acc_id, value))

    def summary(self, ops: list[tuple[float, float]], cores: int) -> dict[str, float]:
        """Per-op engine/io/sources numbers for the measured ops, given as
        (start, end) epoch seconds. Jobs, tasks and SQL executions belong
        to the op whose interval holds their start (one closed-loop client,
        so ops never overlap)."""
        spans = [(a * 1000.0, b * 1000.0) for a, b in ops]
        n_ops = max(1, len(spans))

        def owner(t_ms: float | None) -> int | None:
            if t_ms is None:
                return None
            for i, (a, b) in enumerate(spans):
                if a <= t_ms <= b:
                    return i
            return None

        jobs = {j: v for j, v in self.jobs.items() if owner(v["start"]) is not None}
        stage_ids = {s for j in jobs.values() for s in j["stages"] if s in self.stages}
        tasks = [t for t in self.tasks if owner(t["launch"]) is not None]
        execs = {x: v for x, v in self.executions.items() if owner(v["start"]) is not None}

        job_ivals: dict[int, list] = defaultdict(list)
        exec_ivals: dict[int, list] = defaultdict(list)
        for v in jobs.values():
            i = owner(v["start"])
            job_ivals[i].append((v["start"], min(v["end"] or spans[i][1], spans[i][1])))
        for v in execs.values():
            i = owner(v["start"])
            exec_ivals[i].append((v["start"], min(v["end"] or spans[i][1], spans[i][1])))
        wall_ms = sum(b - a for a, b in spans)
        driver_ms = sum((b - a) - _union_ms(job_ivals[i]) for i, (a, b) in enumerate(spans))
        planning_ms = sum((b - a) - _union_ms(exec_ivals[i]) for i, (a, b) in enumerate(spans))

        run_ms = sum(t["run_ms"] for t in tasks)
        by_stage: dict[int, list[float]] = defaultdict(list)
        for t in tasks:
            by_stage[t["stage"]].append(t["run_ms"])
        skews = [max(v) / statistics.mean(v) for v in by_stage.values()
                 if len(v) > 1 and statistics.mean(v) > 0]

        sql: dict[tuple[str, str], float] = defaultdict(float)

        def add(acc_id: int, value) -> None:
            key = self.accum.get(acc_id)
            if key is None or value is None:
                return
            node, plan, metric = key
            try:
                v = float(value)
            except (TypeError, ValueError):
                return
            sql[(node, metric)] += v
            if node == "MapInPandas" and "[page_url#" in plan:
                sql[("html_table.parse", metric)] += v
            if node == "MapInPandas":
                sql[("html_table", metric)] += v

        for t in tasks:
            for acc_id, value in t["accum"]:
                add(acc_id, value)
        for x, acc_id, value in self.driver_accum:
            if x in execs:
                add(acc_id, value)

        def sql_sum(pred, metric: str) -> float:
            return sum(v for (node, m), v in sql.items() if m == metric and pred(node))

        scan = lambda node: node.startswith("Scan parquet")  # noqa: E731
        python = lambda node: node in (  # noqa: E731
            "MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas",
            "BatchEvalPython", "MapInArrow")
        return {
            "engine.jobs_per_op": len(jobs) / n_ops,
            "engine.stages_per_op": len(stage_ids) / n_ops,
            "engine.tasks_per_op": len(tasks) / n_ops,
            "engine.planning_s_per_op": planning_ms / 1000.0 / n_ops,
            "engine.driver_s_per_op": driver_ms / 1000.0 / n_ops,
            "engine.core_busy_share": run_ms / (wall_ms * cores) if wall_ms else 0.0,
            "engine.executor_run_s": run_ms / 1000.0 / n_ops,
            "engine.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 / n_ops,
            "engine.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0 / n_ops,
            "engine.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / n_ops,
            "engine.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / n_ops,
            "engine.spill_bytes": sum(t["spill"] for t in tasks) / n_ops,
            "engine.task_skew": statistics.mean(skews) if skews else 1.0,
            "engine.python_udf_s": sql_sum(python, "time to run Python workers") / 1000.0 / n_ops,
            "engine.arrow_bytes_to_python": sql_sum(python, "data sent to Python workers") / n_ops,
            "io.scan_rows": sql_sum(scan, "number of output rows") / n_ops,
            "io.scan_bytes": sql_sum(scan, "size of files read") / n_ops,
            "io.scan_s": sql_sum(scan, "scan time") / 1000.0 / n_ops,
            "sources.html_table.rows_out": sql.get(("html_table.parse", "number of output rows"), 0.0) / n_ops,
            "sources.html_table.python_s": sql.get(("html_table", "time to run Python workers"), 0.0) / 1000.0 / n_ops,
        }
