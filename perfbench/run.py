#!/usr/bin/env python3
"""spark-extract benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The workloads and metrics are declared in
BENCHMARK.json; perfbench/README.md says what each one loads and bypasses.

--trace 0 prints the end-to-end metrics: ``setup_s`` (median of three
set-ups), and the per-job medians ``wall_s`` and ``cpu_s`` over the jobs of
a ``--seconds`` window. --trace 1 prints the per-layer metrics from a run
that times growing prefixes of the job with Spark's event log on.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds the run's host context and ``fail_frac``. Every file the run writes
goes under ``.perfbench_work/`` in the checkout.
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
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
MIN_JOBS = 3
# Spark's local[k]: one core of the four-core reference host stays free for
# the driver, the JVM's own threads and the host's background work
LOCAL_K = 3


def _isolate(work: str) -> None:
    """Point every temporary-file location of Spark, the JVM and the package into
    ``work``; must run before pyspark starts a JVM."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "cache", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PDF_PARSER_SPARK_CACHE"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, Spark's launcher included: no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _timed_jobs(wl, seconds: float):
    """Closed loop: the next job starts when the previous one returns."""
    from measure import tree_cpu_s

    walls, cpus = [], []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while len(walls) + failed < MIN_JOBS or time.perf_counter() < deadline:
        wl.before_job()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            outcome = wl.job()
        except Exception:
            traceback.print_exc()
            attempted += wl.rows
            failed += wl.rows
        else:
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s() - c0)
            a, f = wl.check(outcome)
            attempted += a
            failed += f
        wl.cleanup()
    return walls, cpus, attempted, failed


def _setup(wl, spark, event_log: bool = False) -> float:
    from pdf_parser_spark import ship_package

    t0 = time.perf_counter()
    spark.start(event_log=event_log)
    ship_package(spark.session)
    wl.warm()
    elapsed = time.perf_counter() - t0
    wl.after_warm()
    return elapsed


def end_to_end(wl, spark, seconds: float):
    wl.prepare()
    setups = []
    for i in range(SETUPS):
        if i:
            spark.stop()
        setups.append(_setup(wl, spark))
    a, f = wl.settle()
    walls, cpus, attempted, failed = _timed_jobs(wl, seconds)
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(walls) if walls else 0.0,
        "cpu_s": statistics.median(cpus) if cpus else 0.0,
    }
    extra = {
        "setups_s": [round(x, 3) for x in setups],
        "walls_s": [round(x, 3) for x in walls],
        "cpus_s": [round(x, 2) for x in cpus],
    }
    return metrics, attempted + a, failed + f, extra


def traced(wl, spark, seconds: float):
    """A cold set-up without tracing, then a session with the event log on
    that times the job's prefixes, then an untraced session that times the
    job alone. Both timed sessions start on an equally warm JVM."""
    from measure import EventLog

    wl.prepare()
    _setup(wl, spark)
    spark.stop()

    _setup(wl, spark, event_log=True)
    layers_from_log = wl.trace()
    log_path = spark.event_log_path()
    spark.stop()

    _setup(wl, spark)
    a, f = wl.settle()
    walls, _, attempted, failed = _timed_jobs(wl, 0)
    metrics = layers_from_log(EventLog(log_path))
    metrics["trace.overhead_s"] = wl.traced_wall - statistics.median(walls)
    split, mismatched = wl.single_node()
    metrics.update(split)
    attempted += a + wl.trace_attempted + len(wl.ref)
    failed += f + wl.trace_failed + mismatched
    return metrics, attempted, failed, {"untraced_wall_s": statistics.median(walls)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pdf_parser_spark")):
        print(f"perfbench: no pdf_parser_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    section = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in section}

    _isolate(WORK)
    from measure import host_context, steal_s
    from session import Spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    k = min(LOCAL_K, len(os.sched_getaffinity(0)))
    steal0 = steal_s()
    spark = Spark(WORK, k)
    wl = WORKLOADS[args.workload](spark, args.seed, WORK)
    try:
        run = traced if args.trace else end_to_end
        metrics, attempted, failed, extra = run(wl, spark, args.seconds)
    finally:
        spark.close()
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "fail_frac": {"value": failed / attempted, "unit": "1"},
        **extra,
        **host_context(k, steal0),
    }
    missing = [m for m in units if m not in metrics]
    if args.trace and missing:
        context["not_run"] = missing  # layers this workload does not run read 0
    print(json.dumps(context))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
