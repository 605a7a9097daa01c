#!/usr/bin/env python
"""Isolated per-query timer for the optimization loop (guide §1.4): times
named HEADLINE/catalog queries best-of-N in one session with
bench.py's own build -> noop-write loop (``bench.time_query``), without
the full-sweep overhead.

Usage: python tools/time_queries.py [-n RUNS] name [name ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    n_runs = 3
    if args and args[0] == "-n":
        n_runs = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import time_query
    from ultimate_data_engineering_project_spark.session import get_spark
    from ultimate_data_engineering_project_spark.plans.catalog import queries

    spark = get_spark(app_name="udep-time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()  # JVM warm-up

    for name in names:
        spark.sparkContext.setJobDescription(f"time: {name}")
        samples = time_query(spark, qs[name], sf_dir, n_runs)
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: min={min(samples):.3f}s "
            f"samples={[round(s, 3) for s in samples]}"
        )


if __name__ == "__main__":
    main()
