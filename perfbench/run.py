"""featherstore_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload feature_log --seed 1 --seconds 6 --trace 0

Run from the repository root.  Load is a closed loop: one job at a time,
from this process, in one ``local[4]`` SparkSession.

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json:
set-up time (session start + the median of several input-generation
passes), input rows per second over the median measured run, peak
resident memory of the JVM and its Python workers, bytes written per
output row, and recall.  ``--trace 1`` is a separate run that wraps
every layer call in a span, reads the Spark event log, and prints the
per-layer metrics; the spans go to
``.perfbench_out/trace-<workload>-<seed>.jsonl``.

Every run's output is checked outside the timed region; a run that
raises or fails its check counts in ``failed``.  All files are written
under ``.perfbench_work/`` in the repository root and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import spans
from host import HostWindow, PeakRss

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
#: get_spark's 48g default does not fit a 4-core, 15 GiB machine.
HEAP = "3g"
#: Input-generation passes whose median enters ``setup_s``.
SETUP_PASSES = 3
#: Unmeasured runs after the cold run, per workload.  A near-dup job
#: takes ~15 s, so it is measured straight after its cold run.
WARMUPS = {"feature_log": 1, "pit_skewed": 1, "near_dup": 0}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_spark(work: str, trace: bool):
    from featherstore_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        # a fixed, pre-touched heap: resident memory then no longer
        # depends on when G1 decides to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseG1GC -Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{work}/events",
        })
    spark = get_spark(master=f"local[{CORES}]", app_name="perfbench",
                      shuffle_partitions=2 * CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit: PySpark's gateway JVM ends when its stdin closes.  Never
    raises, so the caller's cleanup always runs."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - e.g. a gateway already broken by a signal
        log(traceback.format_exc())
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Runner:
    """Runs a workload's job, checks each output, and counts attempts,
    failures and per-run host records."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.recalls: list[float] = []
        self.records: list[dict] = []

    def run(self, kind: str, full_check: bool = False, tracer=None) -> float | None:
        """One prepared, timed, checked execution; returns its wall
        seconds, or None when it raised or failed its check."""
        tracer = tracer or spans.NullTracer()
        self.wl.prepare()
        self.attempted += 1
        rec = {"kind": kind}
        with HostWindow() as hw:
            t0 = time.perf_counter()
            try:
                with tracer.span("job"):
                    result = self.wl.job(tracer)
            except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
                result = None
                log(traceback.format_exc())
            secs = time.perf_counter() - t0
        rec.update(hw.record(), secs=round(secs, 4))
        self.last_result = result
        ok = result is not None
        if ok:
            try:
                self.recalls.append(self.wl.check(result, full_check))
            except Exception:  # noqa: BLE001 - includes CheckFailed
                ok = False
                log(traceback.format_exc())
        self.failed += not ok
        rec["ok"] = ok
        self.records.append(rec)
        log(json.dumps(rec))
        return secs if ok else None


def measure(args, spark, wl):
    """Setup passes, cold run, warm-up, then measured runs for
    ``args.seconds``.  Returns the end-to-end metrics, the runner and
    the per-run details."""
    session_s = args.session_s
    passes = []
    for _ in range(SETUP_PASSES):
        t0 = time.perf_counter()
        wl.setup()
        wl.load()
        passes.append(time.perf_counter() - t0)
    log(f"session {session_s:.3f} s, setup passes {[round(p, 3) for p in passes]}")
    runner = Runner(wl)
    runner.run("cold", full_check=True)
    for _ in range(WARMUPS[args.workload]):
        runner.run("warmup")
    secs = []
    jvm_pid = spark.sparkContext._gateway.proc.pid
    with PeakRss(jvm_pid) as rss:
        t_start = time.perf_counter()
        while not secs or time.perf_counter() - t_start < args.seconds:
            s = runner.run("measured")
            if s is not None:
                secs.append(s)
            elif runner.failed > 3:
                break
    size, files, out_rows = wl.output_stats()
    med = statistics.median(secs) if secs else 0.0
    metrics = {
        "setup_s": session_s + statistics.median(passes),
        "rows_per_s": wl.rows / med if med else 0.0,
        "peak_rss_mb": rss.peak_mb,
        "out_bytes_per_row": size / max(out_rows, 1),
        "recall": min(runner.recalls) if runner.recalls else 0.0,
    }
    details = {"runs": runner.records, "setup_passes": passes, "session_s": session_s,
               "rows": wl.rows, "out_files": files, "measured_median_s": med}
    return metrics, runner, details


def traced(args, spark, wl):
    """Setup, warm-up, a traced job between two untraced ones, then the
    workload's standalone layer calls.  Returns the tracer, the metrics
    measured from outside, and the runner."""
    tr = spans.Tracer(spark, run_id=f"{args.workload}-{args.seed}")
    with tr.span("datagen.generate") as s:
        wl.setup()
        wl.load()
    metrics = {"session.get_spark_s": args.session_s, "datagen.generate_s": s["seconds"]}
    runner = Runner(wl)
    runner.run("cold", full_check=True)
    for _ in range(WARMUPS[args.workload]):
        runner.run("warmup")
    # untraced runs on both sides of the traced one, so a job still
    # speeding up as the JIT warms does not read as tracing cost
    before = runner.run("untraced")
    traced_s = runner.run("traced", tracer=tr)
    wl.traced_result = runner.last_result
    after = runner.run("untraced")
    if before and traced_s and after:
        metrics["trace.overhead_ratio"] = traced_s / ((before + after) / 2)
    metrics.update(wl.trace(tr))
    return tr, metrics, runner


def event_log_metrics(tr, evdir: str, app_id: str) -> dict:
    """The spark.*, python.* and arrow.* totals of the traced job, the
    per-span job counts and plan shapes, read from the event log of a
    stopped session; writes the spans with their totals."""
    from bench import parse_utilization

    ev = spans.EventLog(evdir, app_id)
    per_span = {s["id"]: ev.totals(tr.subtree(s["id"])) for s in tr.spans}
    job = tr.find("job")
    metrics = dict(per_span[job["id"]])
    metrics["spark.slot_util"] = parse_utilization(
        evdir, app_id, job["start"] * 1000, job["end"] * 1000, CORES
    ) or 0.0
    metrics["spark.gc_s"] = job["gc_s"]
    for name, key in (("checkpoint.run", "checkpoint.jobs"), ("dedup.connected_components", "dedup.cc_jobs")):
        span = tr.find(name)
        if span:
            metrics[key] = per_span[span["id"]]["spark.jobs"]
    span = tr.find("materialize.rolling_features")
    if span:
        nodes = ev.plan_nodes(tr.subtree(span["id"]))
        metrics["materialize.plan_exchanges"] = nodes["exchanges"]
        metrics["materialize.plan_sorts"] = nodes["sorts"]
    out = os.path.join(ROOT, ".perfbench_out", f"trace-{tr.run_id}.jsonl")
    spans.write_spans(out, tr, per_span)
    log(f"spans written to {out}")
    return metrics


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # scratch directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT]
    # fails here, before any output, when the package is not beside us
    import featherstore_spark  # noqa: F401
    import workloads

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers inherit the JVM's environment: the package must be
    # importable there, and every temp file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the JVMs would otherwise write their perf-data files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, trace=bool(args.trace))
        args.session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
        if args.trace:
            tr, metrics, runner = traced(args, spark, wl)
            details = {"runs": runner.records}
            wanted = spec["per_layer"]
        else:
            metrics, runner, details = measure(args, spark, wl)
            wanted = spec["end_to_end"]
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)  # also flushes the event log
        spark = None
        if args.trace:
            metrics.update(event_log_metrics(tr, os.path.join(work, "events"), app_id))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another invocation is still using it
            pass

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"runs-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"metrics": metrics, **details}, fh, indent=1, default=str)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
