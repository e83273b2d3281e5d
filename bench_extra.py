"""Extra benchmark harness for optimization work (bench.py stays FROZEN).

Times a selectable subset of the declared queries with the same
methodology as bench.py (noop sink, cold = first build+execution in a
warm JVM, warm = min of gated steady-state runs), and optionally dumps
``.explain("formatted")`` for each query to ``plans/r06/``.

Usage:
  python bench_extra.py [query ...]           # default: bench.py HEADLINE
  python bench_extra.py --jobs <event-log dir>  # per-SQL-execution report
  FS_PLANS_DIR=plans/r06 FS_PLAN_SUFFIX=_before python bench_extra.py ...
  FS_WARM_REPS=2 python bench_extra.py semantic_dedup dedup_groups

Env:
  SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf1.0 here —
                       the driver's escalated measurement scale)
  SPARK_GRAFT_CPUS     core count (default 32)
  FS_PLANS_DIR         if set, write <query><FS_PLAN_SUFFIX>.txt explains
  FS_WARM_REPS         steady-state reps (default 2, like bench.py's min)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))


def _run_to_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _new_row() -> dict:
    return {"jobs": 0, "tasks": 0, "ms": 0, "run_ms": 0, "cpu_ns": 0, "site": ""}


def jobs_report(evdir: str) -> None:
    """Jobs, tasks, wall time and summed task executor run/CPU seconds
    (``Task Metrics`` of ``SparkListenerTaskEnd``) per SQL execution and
    call site, read from the uncompressed Spark event logs under
    ``evdir`` (files only; no Spark session).  Run minus CPU is time
    the tasks spent waiting (I/O, shuffle fetch, GC, locks).  Jobs
    outside any SQL execution (RDD actions) are summed into one row per
    application, execution ``-``, timed by job spans.  Rolling logs
    (``eventlog_v2_*/events_<n>_*``) are read in order as one
    application."""
    rows, job_row, stage_row, job_t0 = {}, {}, {}, {}
    for root, _, files in os.walk(evdir):
        app = root  # ids are per application: replaced at its start event
        for fname in sorted(f for f in files if not f.startswith(".")):
            with open(os.path.join(root, fname)) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"].rsplit(".", 1)[-1]
                    if kind == "SparkListenerApplicationStart":
                        app = ev.get("App ID") or fname
                    elif kind == "SparkListenerSQLExecutionStart":
                        rows[(app, ev["executionId"])] = {
                            **_new_row(), "t0": ev["time"],
                            "site": ev.get("description") or "",
                        }
                    elif kind == "SparkListenerSQLExecutionEnd":
                        r = rows[(app, ev["executionId"])]
                        r["ms"] = ev["time"] - r["t0"]
                    elif kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        eid = props.get("spark.sql.execution.id")
                        key = (app, "-" if eid is None else int(eid))
                        r = rows.setdefault(key, _new_row())
                        r["jobs"] += 1
                        r["site"] = props.get("callSite.short") or r["site"]
                        job_row[(app, ev["Job ID"])] = r
                        stage_row.update({(app, sid): r for sid in ev["Stage IDs"]})
                        if eid is None:
                            job_t0[(app, ev["Job ID"])] = ev["Submission Time"]
                    elif kind == "SparkListenerJobEnd" and (app, ev["Job ID"]) in job_t0:
                        t0 = job_t0.pop((app, ev["Job ID"]))
                        job_row[(app, ev["Job ID"])]["ms"] += ev["Completion Time"] - t0
                    elif kind == "SparkListenerTaskEnd" and (app, ev["Stage ID"]) in stage_row:
                        r = stage_row[(app, ev["Stage ID"])]
                        m = ev.get("Task Metrics") or {}
                        r["tasks"] += 1
                        r["run_ms"] += m.get("Executor Run Time", 0)
                        r["cpu_ns"] += m.get("Executor CPU Time", 0)

    def show(name, r):
        print(f"{name:>10} {r['jobs']:>5} {r['tasks']:>6} {r['ms'] / 1e3:>8.3f} "
              f"{r['run_ms'] / 1e3:>8.3f} {r['cpu_ns'] / 1e9:>8.3f}  {r['site']}")

    print(f"{'execution':>10} {'jobs':>5} {'tasks':>6} {'wall_s':>8} {'run_s':>8} {'cpu_s':>8}  call site")
    for key, r in sorted(rows.items(), key=lambda kv: -kv[1]["ms"]):
        show(key[1], r)
    show("total", {k: "" if k == "site" else sum(r[k] for r in rows.values()) for k in _new_row()})


def main() -> None:
    if sys.argv[1:2] == ["--jobs"]:
        if len(sys.argv) != 3:
            raise SystemExit("usage: bench_extra.py --jobs <event-log dir>")
        jobs_report(sys.argv[2])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("FS_WARM_REPS", "2"))
    plans_dir = os.environ.get("FS_PLANS_DIR")
    plan_suffix = os.environ.get("FS_PLAN_SUFFIX", "")

    sys.path.insert(0, REPO)
    import bench as bench_mod
    import __spark_entry__ as entry_mod
    from featherstore_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="featherstore_spark_bench_extra",
        shuffle_partitions=max(2 * cpus, 32),
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    names = sys.argv[1:] or bench_mod.HEADLINE
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # same untimed warmup as bench.py
    _run_to_noop(queries["pricing_summary"](spark, sf_dir))
    _run_to_noop(queries["exact_dedup"](spark, sf_dir))

    # same contention gating as bench.py: retry a rep when the 1-min
    # loadavg exceeds the suite's core budget + margin or the
    # hypervisor-steal share of busy cycles exceeds 10%
    gate = cpus + max(8, cpus // 4)

    def _cpu_totals():
        with open("/proc/stat") as fh:
            vals = list(map(int, fh.readline().split()[1:]))
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        return sum(vals) - idle, vals[7] if len(vals) > 7 else 0

    timings, timings_cold, loads = {}, {}, {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        _run_to_noop(df)
        timings_cold[name] = round(time.perf_counter() - t0, 3)
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}{plan_suffix}.txt"), "w") as fh:
                fh.write(plan)
        best, best_load = None, None
        for _ in range(reps):
            for _attempt in range(3):
                l0 = os.getloadavg()[0]
                c0 = _cpu_totals()
                t0 = time.perf_counter()
                _run_to_noop(queries[name](spark, sf_dir))
                dt = time.perf_counter() - t0
                c1 = _cpu_totals()
                l1 = max(l0, os.getloadavg()[0])
                steal = (c1[1] - c0[1]) / max(c1[0] - c0[0], 1)
                if l1 <= gate and steal <= 0.10:
                    break
            if best is None or dt < best:
                best, best_load = dt, l1
        timings[name] = round(best, 3)
        loads[name] = round(best_load, 1)
        print(
            f"  {name}: cold={timings_cold[name]} warm={timings[name]} load={loads[name]}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)

    out = {
        "sf_dir": sf_dir,
        "value": round(sum(timings.values()), 3),
        "cold_total": round(sum(timings_cold.values()), 3),
        "queries": timings,
        "queries_cold": timings_cold,
        "queries_loadavg": loads,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
