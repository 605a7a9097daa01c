"""Readers for the engine's sources (SURVEY.md §2.1, S1-S4, S14).

The reference reads tables with ``SELECT * FROM {t}`` into pandas
(reference: psql_connector.py:112-134) — a full driver-side
materialization.  Here every read is a distributed Spark scan with
column pruning and predicate pushdown left to Catalyst.

``load_table`` is the single entry point for fixture parquet; it also
normalizes the one awkward physical type (events.ts stored as
TIMESTAMP(NANOS)) into a clean TIMESTAMP_NTZ, timezone-independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ultimate_data_engineering_project_spark.session import configure_session

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions worth broadcasting in any join (see SURVEY §4):
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def _normalize_events(df: DataFrame) -> DataFrame:
    """events.ts arrives as long nanoseconds (nanosAsLong=true).

    Convert to TIMESTAMP_NTZ by adding integer microseconds to a fixed
    NTZ epoch — this is timezone-independent, unlike timestamp_micros()
    which produces a session-tz-dependent TIMESTAMP_LTZ.  `div` is
    integer floor-division, matching DuckDB's ns->us cast truncation so
    oracle comparisons agree to the microsecond.
    """
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (S1 analog)."""
    configure_session(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_events(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=FIXTURE_TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def read_current(
    spark: SparkSession, table_dir: str, *, generation: int | None = None
) -> DataFrame:
    """Read a parquet table that MAY be under manifest-pointer
    management (``sinks.compact_parquet``, or a stream's output table):
    follow the ``_current`` pointer to the live base and the deltas it
    names, read with the stored schema by ``manifest.read_table``,
    when present, else read the directory flat.  This is the reader
    half of the manifest protocol — a plain ``spark.read.parquet`` on
    the root would double-read old+new generations during the
    post-flip cleanup window.

    ``generation=N`` TIME-TRAVELS to a retained prior snapshot
    (compactions run with ``keep_generations>0`` age superseded
    prefixes out instead of deleting them): the read pins
    ``gen-{N:06d}`` regardless of the pointer, failing loudly — with
    the list of generations actually on disk — when that prefix has
    been aged out or never existed."""
    from ultimate_data_engineering_project_spark.sources import manifest

    if generation is not None:
        return read_at_generation(spark, table_dir, generation)
    return manifest.read_table(spark, table_dir)


def read_at_generation(
    spark: SparkSession, table_dir: str, generation: int
) -> DataFrame:
    """Time travel on the manifest layout: read the retained
    ``gen-{generation:06d}`` prefix of a pointer table — the audit
    read the generation protocol makes nearly free (superseded
    prefixes are immutable; ``keep_generations`` controls how many
    survive cleanup).  Fails loudly with the on-disk generation list
    when the requested one is absent, and refuses generations ABOVE
    the current pointer's: a compactor that crashed between writing
    its gen- prefix and the pointer flip leaves an orphan, possibly
    torn, prefix that no pointer ever named — only committed
    snapshots are time-travel-readable."""
    from ultimate_data_engineering_project_spark.sources import manifest

    name = manifest.generation_name(generation)
    on_disk = manifest.list_children(spark, table_dir, "gen-")
    if name not in on_disk:
        raise ValueError(
            f"generation {generation} is not on disk under "
            f"{table_dir!r} (available: {on_disk or 'none'}); raise "
            "keep_generations on the compactor to retain more history"
        )
    ptr = manifest.read_pointer(spark, table_dir)
    committed = ptr.get("generation") if ptr else None
    if committed is None or generation > committed:
        raise ValueError(
            f"generation {generation} under {table_dir!r} was never "
            f"committed (pointer reads {committed!r}): the gen- prefix "
            "on disk is a crashed compactor's orphan and may be torn; "
            "only pointer-named snapshots are readable"
        )
    return spark.read.parquet(manifest.join(table_dir, name))


def snapshot_tables(
    spark: SparkSession, table_dirs: dict[str, str]
) -> tuple[dict[str, DataFrame], dict[str, int | None]]:
    """Cross-table CONSISTENT snapshot: resolve every table's pointer
    ONCE, up front, and serve each DataFrame from its pinned immutable
    ``gen-`` prefix — a compactor flipping any table mid-read cannot
    tear the set (each prefix is write-once; with
    ``keep_generations>=1`` on the compactors the pinned prefixes also
    survive the flip's cleanup, the in-flight-reader guarantee the
    ageing feature exists for).

    Returns ``(frames, generations)``: ``frames[name]`` reads the
    pinned prefix (NOT the live pointer — re-resolving per access is
    exactly the tear this function exists to prevent), and
    ``generations[name]`` records the pinned generation for audit /
    ``read_at_generation`` replays.  A stream table's frame also reads
    the deltas its pinned pointer names; those survive until the next
    fold only.  A table with no pointer (legacy
    flat layout) reads the root and pins ``None`` — flat layouts are
    mutated in place and cannot be pinned; adopt them via
    ``sinks.compact_parquet`` first for full snapshot isolation."""
    from ultimate_data_engineering_project_spark.sources import manifest

    frames: dict[str, DataFrame] = {}
    gens: dict[str, int | None] = {}
    for name, table_dir in table_dirs.items():
        ptr = manifest.read_pointer(spark, table_dir)
        frames[name] = manifest.read_table(spark, table_dir, ptr=ptr)
        gens[name] = ptr["generation"] if ptr else None
    return frames, gens


def register_temp_views(spark: SparkSession, sf_dir: str, names=FIXTURE_TABLES) -> None:
    """Register fixtures as temp views so ``spark.sql`` works directly
    (the engine's equivalent of the reference's always-on Postgres
    catalog, psql_connector.py:37-52)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


CORRUPT_COL = "_corrupt_record"


def _with_corrupt_schema(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """Schema-enforced CSV read with corrupt-row capture (S5 read side —
    the reference's CSV bronze erases types, psql_connector.py:152-156;
    re-reading with a declared schema restores them).

    PERMISSIVE mode: rows that fail the schema land whole in
    ``_corrupt_record`` instead of failing the job or silently nulling —
    split them off with :func:`split_corrupt` into a quarantine sink.
    """
    reader = (
        spark.read.schema(_with_corrupt_schema(schema))
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    **options: str,
) -> DataFrame:
    """Schema-enforced JSON-lines read with corrupt-row capture (the
    CDC-envelope / event-drop landing format; same quarantine contract
    as :func:`read_csv`)."""
    reader = (
        spark.read.schema(_with_corrupt_schema(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows_without_corrupt_col, quarantined_raw_rows).

    The quarantine side keeps only the raw record string — route it to
    a DQ sink; the good side is clean and typed.

    The parse is cached first: Spark disallows plans that reference
    only ``_corrupt_record`` over a raw file scan (the column is
    populated during parsing, so a corrupt-only projection would have
    nothing to parse).  In a pipeline the same thing falls out
    naturally — land the parsed batch in bronze, then split.
    """
    df = df.cache()
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    predicate: str | None = None,
    num_partitions: int | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    fetchsize: int = 10_000,
    **options: str,
) -> DataFrame:
    """JDBC table scan (S1/S14 — reference psql_connector.py:112-134,
    database.py:9-32 builds the pg/mysql/mssql URLs).

    ``predicate`` is pushed down into the remote query via Catalyst
    (dbtable subquery), and partition bounds give a parallel read —
    the reference's single-cursor pandas read serialized everything
    through the driver.
    """
    opts = jdbc_options(
        url,
        table,
        predicate=predicate,
        num_partitions=num_partitions,
        partition_column=partition_column,
        lower_bound=lower_bound,
        upper_bound=upper_bound,
        fetchsize=fetchsize,
        **options,
    )
    reader = spark.read.format("jdbc")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_options(
    url: str,
    table: str,
    *,
    predicate: str | None = None,
    num_partitions: int | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    fetchsize: int = 10_000,
    **options: str,
) -> dict[str, str]:
    """The option map :func:`read_jdbc` hands to the JDBC source —
    exposed separately so the pushdown contract is testable without a
    live database: ``predicate`` must land inside the dbtable subquery
    (remote-side filtering) and partition bounds must be set for a
    parallel read."""
    dbtable = f"(SELECT * FROM {table} WHERE {predicate}) t" if predicate else table
    opts: dict[str, str] = {
        "url": url,
        "dbtable": dbtable,
        "fetchsize": str(fetchsize),
        # remote-side pushdown of Catalyst filters on top of the scan
        "pushDownPredicate": "true",
        "pushDownLimit": "true",
    }
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # str(None) would reach Spark as the literal "None" and die
            # at load() with a NumberFormatException far from this call
            raise ValueError(
                "partition_column requires explicit lower_bound and "
                "upper_bound (Spark range-partitions the scan between "
                "them)"
            )
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions or 8),
        )
    elif num_partitions is not None:
        raise ValueError(
            "num_partitions without partition_column is silently ignored "
            "by the JDBC source (single-partition read) — pass "
            "partition_column + bounds for a parallel scan"
        )
    opts.update(options)
    return opts


#: platform -> (default port, JDBC driver class) — the Spark-side twin
#: of the reference's SQLAlchemy DSN builder (database.py:9-32, which
#: dispatches postgresql/mysql/mssql with the same default ports).
_JDBC_DIALECTS = {
    "postgresql": (5432, "org.postgresql.Driver"),
    "mysql": (3306, "com.mysql.cj.jdbc.Driver"),
    "mssql": (1433, "com.microsoft.sqlserver.jdbc.SQLServerDriver"),
}


def jdbc_url(
    platform: str,
    host: str,
    database: str,
    *,
    port: int | None = None,
    user: str | None = None,
    password: str | None = None,
    ssl: bool = False,
) -> dict[str, str]:
    """Multi-dialect JDBC connection options (S14 — reference
    database.py:9-32 builds pg/mysql/mssql SQLAlchemy DSNs; this is the
    ``spark.read.format("jdbc")`` equivalent).

    Returns {"url", "driver"} plus "user"/"password" when given —
    merge-ready for :func:`jdbc_options`/:func:`read_jdbc`.
    Credentials ride as separate options, NEVER interpolated into the
    URL (they would leak into plans, logs, and the Spark UI).  ``ssl``
    appends each dialect's own transport-encryption flavor; mssql
    defaults to ``encrypt=false`` because its driver rejects plaintext
    by default and the flag must be explicit either way."""
    try:
        default_port, driver = _JDBC_DIALECTS[platform.lower()]
    except KeyError:
        raise ValueError(
            f"unsupported platform: {platform!r} "
            f"(expected one of {sorted(_JDBC_DIALECTS)})"
        ) from None
    p = port or default_port
    if platform.lower() == "mssql":
        enc = "true" if ssl else "false"
        url = f"jdbc:sqlserver://{host}:{p};databaseName={database};encrypt={enc}"
        if ssl:
            url += ";trustServerCertificate=false"
    elif platform.lower() == "mysql":
        url = f"jdbc:mysql://{host}:{p}/{database}"
        if ssl:
            url += "?sslMode=REQUIRED"
    else:
        url = f"jdbc:postgresql://{host}:{p}/{database}"
        if ssl:
            url += "?sslmode=require"
    opts = {"url": url, "driver": driver}
    if user is not None:
        opts["user"] = user
    if password is not None:
        opts["password"] = password
    return opts
