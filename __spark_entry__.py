"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``ultimate_data_engineering_project_spark``:
the query catalog (plans/*_queries.py) registers every implemented
operator from SURVEY.md §2 together with its DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)


def _put_checkout_on_worker_path() -> None:
    """Python workers do not see the driver's ``sys.path``, so entries
    that ship package functions to them need the checkout on the
    workers' ``PYTHONPATH``.  It goes into this process's environment,
    which a Spark JVM started later inherits, and into the running
    context's ``environment``, which every Python function created from
    now on hands to its workers."""
    from pyspark import SparkContext

    def with_root(path: str | None) -> str:
        parts = [p for p in (path or "").split(os.pathsep) if p]
        return os.pathsep.join(parts if _ROOT in parts else [_ROOT, *parts])

    os.environ["PYTHONPATH"] = with_root(os.environ.get("PYTHONPATH"))
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.environment["PYTHONPATH"] = with_root(sc.environment.get("PYTHONPATH"))


_put_checkout_on_worker_path()

import ultimate_data_engineering_project_spark.plans.catalog as _catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Daily order volumes — the reference's #1 declared dashboard
    (reference README.md:36).
    """
    from ultimate_data_engineering_project_spark.plans.relational_queries import (
        flagship_daily_order_volume,
    )

    return flagship_daily_order_volume(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _catalog.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each SQL-expressible query."""
    return _catalog.oracle_sql()
