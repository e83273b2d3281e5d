"""Spans around calls into the package's layers, and the event-log and
plan reader that attributes Spark work to them.

A span is (id, name, parent, run, start, end).  Entering a span sets the
Spark job group to the span id, so every job, stage and task the call
starts carries it in the event log; leaving restores the parent's group.
Spans are kept in memory and written out once, at the end of the run.

The reader turns the event log into per-span totals: jobs, stages,
tasks, executor run/CPU time, bytes read, shuffled and spilled, task
skew, and the Python-UDF metrics Spark's ``PythonSQLMetrics`` attach to
every Python exec node (worker boot/init/run time, Arrow bytes each way,
rows returned).  Bytes read are the file scans' own "size of files read"
metric.  Plan-node counts come from the final (post-AQE)
physical plan of each SQL execution.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

#: PythonSQLMetrics display names (Spark 4.1) -> our metric keys.
PYTHON_METRICS = {
    "time to run Python workers": "total",
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "received",
}
#: On a Python exec node, "number of output rows" is pythonNumRowsReceived.
_PY_ROWS = "number of output rows"
#: A file scan's driver-side metric.  Task input metrics undercount here:
#: Parquet's vectored reads run outside the task thread's FS statistics.
_FILES_READ = "size of files read"


def _num(v):
    """Accumulator update as a number: the event log writes external
    (SQL) accumulator values as strings."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        gc0 = self._gc_ms()
        rec["start"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - p0
            rec["end"] = time.time()
            rec["gc_s"] = (self._gc_ms() - gc0) / 1000.0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def subtree(self, span_id: str) -> set[str]:
        ids = {span_id}
        for s in self.spans:  # children always follow their parent
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def find(self, name: str) -> dict | None:
        """The latest span called ``name``, or None."""
        return next((s for s in reversed(self.spans) if s["name"] == name), None)


class NullTracer:
    """Stands in for :class:`Tracer` in measured runs: records nothing."""

    @contextmanager
    def span(self, name: str):
        yield {}


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


class EventLog:
    """Parsed Spark event log of one application."""

    def __init__(self, evdir: str, app_id: str):
        files: list[str] = []
        for p in glob.glob(os.path.join(evdir, f"*{app_id}*")):
            files += sorted(glob.glob(os.path.join(p, "events*"))) if os.path.isdir(p) else [p]
        self.jobs: list[dict] = []  # {group, exec_id}
        self.stage_group: dict[int, str | None] = {}
        self.stage_time: dict[int, float] = {}
        self.tasks: list[dict] = []
        self.final_plan: dict[int, dict] = {}
        self.acc_kind: dict[int, tuple[str, str]] = {}  # acc id -> (key, metricType)
        self.driver_acc: dict[int, dict[int, float]] = {}  # exec id -> acc id -> value
        for path in files:
            with open(path, errors="replace") as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, exec_id: int, plan: dict) -> None:
        self.final_plan[exec_id] = plan
        for node in _walk(plan):
            names = {m["name"] for m in node.get("metrics", ())}
            is_python = any(n in PYTHON_METRICS for n in names)
            for m in node.get("metrics", ()):
                key = PYTHON_METRICS.get(m["name"])
                if key is None and is_python and m["name"] == _PY_ROWS:
                    key = "rows"
                if m["name"] == _FILES_READ:
                    key = "files_read"
                if key:
                    self.acc_kind[m["accumulatorId"]] = (key, m["metricType"])

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs.append({
                "group": props.get("spark.jobGroup.id"),
                "exec_id": int(ex) if ex is not None else None,
            })
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            self.stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info.get("Submission Time") and info.get("Completion Time"):
                self.stage_time[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]
                ) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "secs": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "sw_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "sr_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill_b": m.get("Disk Bytes Spilled", 0),
                "acc": {
                    a["ID"]: _num(a.get("Update"))
                    for a in info.get("Accumulables", ())
                    if _num(a.get("Update")) is not None
                },
            })
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            accs = self.driver_acc.setdefault(e["executionId"], {})
            accs.update({int(a): float(v) for a, v in e["accumUpdates"]})

    def totals(self, groups: set[str]) -> dict:
        """Spark and Python-boundary totals over every job/stage/task
        whose job group is in ``groups``."""
        jobs = [j for j in self.jobs if j["group"] in groups]
        stages = {s for s, g in self.stage_group.items() if g in groups}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        execs = {j["exec_id"] for j in jobs if j["exec_id"] is not None}
        files_read = sum(
            v
            for ex in execs
            for a, v in self.driver_acc.get(ex, {}).items()
            if self.acc_kind.get(a, ("",))[0] == "files_read"
        )
        py = dict.fromkeys(("total", "boot", "init", "sent", "received", "rows"), 0.0)
        for t in tasks:
            for acc_id, upd in t["acc"].items():
                kind = self.acc_kind.get(acc_id)
                if kind is None or kind[0] == "files_read":
                    continue
                key, mtype = kind
                scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(mtype, 1.0)
                py[key] += upd * scale
        skew = 1.0
        timed = [s for s in stages if s in self.stage_time]
        if timed:
            longest = max(timed, key=self.stage_time.get)
            secs = [t["secs"] for t in tasks if t["stage"] == longest]
            med = statistics.median(secs) if secs else 0.0
            skew = max(secs) / med if med > 0 else 1.0
        mb = 1 / (1 << 20)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.input_mb": files_read * mb,
            "spark.shuffle_write_mb": sum(t["sw_b"] for t in tasks) * mb,
            "spark.shuffle_read_mb": sum(t["sr_b"] for t in tasks) * mb,
            "spark.spill_mb": sum(t["spill_b"] for t in tasks) * mb,
            "spark.task_skew": skew,
            "python.total_s": py["total"],
            "python.boot_init_s": py["boot"] + py["init"],
            "python.rows_received": py["rows"],
            "arrow.sent_mb": py["sent"] * mb,
            "arrow.received_mb": py["received"] * mb,
        }

    def plan_nodes(self, groups: set[str]) -> dict:
        """Exchange and Sort counts in the final physical plans of the SQL
        executions run under ``groups``."""
        execs = {j["exec_id"] for j in self.jobs if j["group"] in groups and j["exec_id"] is not None}
        counts = {"exchanges": 0, "sorts": 0}
        for ex in execs:
            for node in _walk(self.final_plan.get(ex, {})):
                name = node.get("nodeName", "")
                counts["exchanges"] += name == "Exchange"
                counts["sorts"] += name == "Sort"
        return counts


def write_spans(path: str, tracer: Tracer, per_span: dict[str, dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for s in tracer.spans:
            fh.write(json.dumps({**s, **per_span.get(s["id"], {})}) + "\n")
