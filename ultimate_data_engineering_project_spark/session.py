"""SparkSession factory and session-level configuration.

The reference delegates all execution to PostgreSQL through a pooled
SQLAlchemy engine (reference: OLTP_simulator/connectors/SQL/
connector_config.py:133-157).  Here the execution substrate is Spark:
this module owns the configs that make Catalyst/Tungsten/AQE do the
physical work the reference outsourced to Postgres.

Scale notes (100 TB design targets, tested on local[*]):
  * AQE on: runtime coalescing of shuffle partitions, skew-join
    splitting, and dynamic join-strategy demotion are what keep a fixed
    logical plan viable from sf0.001 to a 1000-executor cluster.
  * shuffle.partitions is a default for local runs; on a real cluster
    AQE's advisory target (64 MiB) takes over after the first exchange.
  * Arrow enabled so any pandas-UDF fallback is batch-vectorized.

Warm queries pay no warm-up again.  Sessions run the same plans over
and over (dashboards, micro-batches, benchmark passes), so ``get_spark``
fixes two static settings that make a repeated plan cost only its work:

  * ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``.
    Spark's default of 100 generated classes is smaller than one pass
    over the four benchmark corpus queries (about 150 classes), so each
    pass evicted the previous one's classes and Janino compiled them
    again: 137-149 compilations per steady-state pass, against 0-2 at
    1000 entries (4-vCPU host, ``local[4]``), and every recompiled class
    is new bytecode for HotSpot to JIT again.  One pass over bench.py's
    44 headline queries generates about 710 classes (917 recompiled a
    pass at 100 entries, 18 at 1000), and Metaspace stays within a few
    MB of the default's.  The micro-batch path already fits (2
    compilations a round at either size).
  * ``spark.python.daemon.module`` = ``_worker_daemon``: Python workers
    are forked from the engine's daemon, which stops CPython 3.10-3.12
    re-reading the directory of every unchanged zip archive on
    ``sys.path`` (``pyspark.zip``, py4j) for every task, about 70 ms a
    task.  A trivial task on a reused worker started 190-221 ms after
    submission, against 47-48 ms.  The package's parent directory is
    merged into the workers' ``PYTHONPATH`` (``spark.executorEnv``,
    which PySpark hands to every Python function as
    ``sc.environment``), so the daemon imports wherever ``get_spark``
    runs.

Both are static: only a session that ``get_spark`` creates gets them.
A session built elsewhere, such as the verify driver's session behind
``__spark_entry__`` or ``tools/strict_parity.py``'s, keeps Spark's
defaults; ``configure_session`` applies runtime confs only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Generated classes a session's JVM keeps compiled.  The smallest round
#: value whose steady state compiles almost nothing on the benchmark
#: corpus pass and on bench.py's headline queries.
CODEGEN_CACHE_ENTRIES = 1000

#: Started by module name, never imported by the engine itself.
_DAEMON_MODULE = "ultimate_data_engineering_project_spark._worker_daemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable SQL confs applied both to sessions we create and to
# externally provided sessions (the verify driver owns its own session).
_RUNTIME_CONFS = {
    # the driver fixtures' events.parquet stores TIMESTAMP(NANOS,false),
    # which Spark's parquet reader rejects by default; read as long ns.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic ns->NTZ conversion and timestamp semantics.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session.

    Safe to call repeatedly; used on the verify driver's session before
    reading fixtures.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # a static conf on this build — keep going, readers degrade
            # gracefully (events loader checks the actual column type).
            pass
    return spark


def get_spark(
    app_name: str = "ultimate-data-engineering-project-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", _DAEMON_MODULE)
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # before any Python function captures the environment
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])
    # getOrCreate may have returned a pre-existing session: re-apply.
    return configure_session(spark)


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations this session's JVM has run so far; the
    difference across a query counts the classes it had to generate."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
