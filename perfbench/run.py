#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each call is one fresh process: it
starts the engine's session on ``local[<cpus>]``, sets up, warms up,
measures for ``--seconds`` and checks the outputs.  The seed sets the
query order and the CDC change envelopes, written under
``.bench_runs/``; the query workload reads the fixture tables under
``perfbench/fixtures/``.  The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``.  The line before it is the run's
report (host context, output checks, counts and the metrics that are
not gated); the same report and, when traced, every span are written to
``.bench_runs/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ultimate_data_engineering_project_spark"
WORKLOADS = ("corpus_dedup", "cdc_upsert")


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark and the engine write inside ``work`` and run
    on all the cores this process may use."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # A 2 GiB heap fixed and touched from the start (-Xms, AlwaysPreTouch):
    # with the engine's 8 GiB default the collector grows the heap at times
    # that vary run to run, and peak RSS spread 33% over five seeds (15%
    # with -Xms8g); untouched, the 2 GiB heap still spread 10%.
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf " + shlex.quote(f"spark.driver.extraJavaOptions=-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"),
        "--conf " + shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "pyspark-shell",
    ])
    # tests/ for the engine's DuckDB oracle comparison
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        sys.exit(f"perfbench: no {PKG}/ beside perfbench/; run from the root of a checkout")
    specs = _metric_specs()
    out_dir = os.path.join(ROOT, ".bench_runs", "out")
    work = os.path.join(ROOT, ".bench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    _environment(work)
    import spans as tr
    import workloads as wl

    load_before = os.getloadavg()
    ticks_before = tr.host_ticks()

    tracer = tr.Tracer(bool(args.trace))
    tracer.install()  # before the catalog imports the plan modules
    from ultimate_data_engineering_project_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark()
    jvm_start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    run = wl.Run(spark, tracer, work, args.seed, args.seconds)
    try:
        if args.workload == "cdc_upsert":
            result = wl.run_cdc(run)
        else:
            result = wl.run_queries(run, wl.CORPUS_DEDUP)
        peak_rss = tr.tree_peak_rss()
        jvm = run.spark._jvm
        versions = {
            "spark": run.spark.version,
            "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
    finally:
        _stop(run.spark)
    run.mark("stop")
    shutil.rmtree(work, ignore_errors=True)
    ticks = tr.host_ticks()

    wanted = specs["per_layer"] if args.trace else specs["end_to_end"]
    values = result["per_layer"] if args.trace else result["end_to_end"]
    # a layer that does not run in this workload reports 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "steal_frac": (ticks[0] - ticks_before[0]) / max(1, ticks[1] - ticks_before[1]),
            **versions,
        },
        "jvm_start_s": jvm_start_s,
        "process_s": time.perf_counter() - T0,
        "peak_rss_by_process_mb": peak_rss,
        "failed_frac": run.failed / max(1, run.attempted),
        "end_to_end": result["end_to_end"],
        "per_layer": result["per_layer"],
        **run.report,
    }
    if args.trace:
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"), "w") as fh:
            json.dump(tracer.spans, fh)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
