"""bench_extra.py --jobs: the per-SQL-execution report over event-log files."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path


def _load_bench_extra():
    path = Path(__file__).resolve().parents[1] / "bench_extra.py"
    spec = importlib.util.spec_from_file_location("bench_extra", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _task_end(stage, run_ms, cpu_ns):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns},
    }


def test_jobs_report_sums_task_run_and_cpu_per_execution(tmp_path, capsys):
    sql = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": "SparkListenerApplicationStart", "App ID": "app-1"},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0,
         "time": 1_000, "description": "save at write.py:10"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 1_000,
         "Properties": {"spark.sql.execution.id": "0", "callSite.short": "save at write.py:10"}},
        _task_end(0, 400, 300_000_000),
        _task_end(1, 600, 200_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3_000},
        {"Event": sql + "SparkListenerSQLExecutionEnd", "executionId": 0, "time": 3_500},
        # an RDD action outside any SQL execution, timed by its job span
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Submission Time": 4_000, "Properties": {"callSite.short": "count at rdd.py:5"}},
        _task_end(2, 250, 50_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4_500},
    ]
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in events))

    _load_bench_extra().jobs_report(str(tmp_path))
    lines = capsys.readouterr().out.splitlines()
    assert lines[0].split()[:6] == ["execution", "jobs", "tasks", "wall_s", "run_s", "cpu_s"]
    rows = {ln.split()[0]: ln.split() for ln in lines[1:]}
    assert rows["0"][1:6] == ["1", "2", "2.500", "1.000", "0.500"]
    assert " ".join(rows["0"][6:]) == "save at write.py:10"
    assert rows["-"][1:6] == ["1", "1", "0.500", "0.250", "0.050"]
    assert rows["total"][1:6] == ["2", "3", "3.000", "1.250", "0.550"]
