"""Engine facade: the user-facing API surface (SURVEY.md §2.1 S9-S11,
S15; §3.4 lifecycle).

The reference exposes a connector object with fetch/execute/introspection
methods (connector_config.py:99-262) and a sqlparse-based SELECT guard
in its smoke script (PostgreSQL/test.py:31-44).  The Spark-native
facade: register tables once, run guarded SQL, introspect the catalog.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ultimate_data_engineering_project_spark import tuning
from ultimate_data_engineering_project_spark.session import configure_session
from ultimate_data_engineering_project_spark.sources.readers import register_temp_views


class ReadOnlyStatementError(ValueError):
    pass


_READ_PREFIXES = ("SELECT", "WITH", "VALUES", "TABLE", "DESCRIBE", "SHOW", "EXPLAIN")

#: DML keywords reachable BEHIND a read-looking prefix: Spark's grammar
#: is ``ctes? dmlStatementNoWith``, so "WITH t AS (...) INSERT/UPDATE/
#: DELETE/MERGE ..." (and INSERT OVERWRITE DIRECTORY) all start with the
#: allowed first token WITH.  A first-token check alone therefore lets
#: writes through; these are re-checked as whole-word tokens over the
#: statement with strings/comments/backtick identifiers stripped.
_WRITE_TOKENS = frozenset(
    {"INSERT", "OVERWRITE", "UPDATE", "DELETE", "MERGE", "TRUNCATE"}
)

_STRIP_RES: tuple | None = None  # compiled lazily (module import stays regex-free)


def _strip_literals(sql: str) -> tuple[str, str]:
    """Remove string literals, backtick identifiers, and -- / block
    comments, so keyword scanning cannot be fooled (or false-positived)
    by quoted content.  Literal extents depend on the session's
    ``spark.sql.parser.escapedStringLiterals`` conf: under the default
    (false) ``'\\''`` is one escaped quote INSIDE a literal, under true
    it is a complete literal followed by a bare quote.  A stripper built
    for only one mode mis-scopes literals under the other, swallowing
    real keywords (a ``WITH … '\\'' … INSERT`` smuggles DML past a
    non-escape-aware scan).  Returns BOTH interpretations; the guard
    requires both to pass — fails closed whichever mode the session is
    in."""
    import re

    global _STRIP_RES
    if _STRIP_RES is None:
        common = (
            r"|`(?:[^`])*`"        # backtick identifier
            r"|--[^\n]*"           # line comment
            r"|/\*.*?\*/"          # block comment
        )
        _STRIP_RES = (
            re.compile(  # escapedStringLiterals=true: backslash is literal
                r"'(?:[^']|'')*'"          # single-quoted, '' escape
                r"|\"(?:[^\"])*\""         # double-quoted
                + common,
                re.DOTALL,
            ),
            re.compile(  # default mode: backslash escapes inside literals
                r"'(?:[^'\\]|\\.|'')*'"    # single-quoted, \x and '' escapes
                r"|\"(?:[^\"\\]|\\.)*\""   # double-quoted, \x escapes
                + common,
                re.DOTALL,
            ),
        )
    return tuple(p.sub(" ", sql) for p in _STRIP_RES)


def is_read_only_sql(sql: str) -> bool:
    """Read-statement guard (S15 — the reference's sqlparse check,
    PostgreSQL/test.py:31-44): the first token must be a read prefix
    AND no DML keyword may appear anywhere outside strings/comments
    (closing the ``WITH … INSERT OVERWRITE DIRECTORY`` bypass), under
    BOTH string-escape interpretations (see _strip_literals).  Fails
    CLOSED: a column literally named ``insert`` must be backticked.
    Leading ``(`` is skipped before the prefix check so parenthesized
    reads — ``(SELECT 1) UNION (SELECT 2)`` — pass."""
    import re

    for cleaned in _strip_literals(sql):
        head = cleaned.lstrip(" \t\r\n;(")
        first = head.split(None, 1)[0].upper() if head else ""
        if first not in _READ_PREFIXES:
            return False
        tokens = {t.upper() for t in re.findall(r"[A-Za-z_]+", cleaned)}
        if tokens & _WRITE_TOKENS:
            return False
    return True


@dataclass
class Engine:
    """Thin session wrapper: table registry + guarded SQL + catalog
    introspection (the reference's `get_database_info`,
    connector_config.py:244-262)."""

    spark: SparkSession

    @classmethod
    def for_fixtures(cls, spark: SparkSession, sf_dir: str) -> "Engine":
        eng = cls(spark=configure_session(spark))
        register_temp_views(spark, sf_dir)
        return eng

    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def sql(self, query: str) -> DataFrame:
        """Guarded SQL entry point: read statements only (S15)."""
        if not is_read_only_sql(query):
            raise ReadOnlyStatementError(
                f"only read statements are allowed, got: {query.lstrip()[:40]!r}"
            )
        return self.spark.sql(query)

    # --- introspection (S11) -------------------------------------------
    def table_names(self) -> list[str]:
        """pg_catalog.pg_tables analog (psql_connector.py:37-52)."""
        return sorted(t.name for t in self.spark.catalog.listTables())

    def table_columns(self, table: str) -> list[dict[str, str]]:
        """information_schema.columns analog (psql_connector.py:54-76)."""
        return [
            {"name": c.name, "type": c.dataType, "nullable": str(c.nullable)}
            for c in self.spark.catalog.listColumns(table)
        ]

    def engine_version(self) -> str:
        """version() analog (psql_connector.py:78-81)."""
        return f"Apache Spark {self.spark.version}"

    def table_stats(self, table: str) -> dict:
        """pg_total_relation_size / get_table_size analog
        (psql_connector.py:101-110): row count plus on-disk bytes summed
        over the table's input files (0 bytes for purely in-memory
        views and remote files)."""
        df = self.spark.table(table)
        n_bytes = tuning.input_files(df)[1]
        return {"table": table, "n_rows": df.count(), "n_bytes": n_bytes}

    def database_info(self) -> dict:
        """get_database_info analog (connector_config.py:244-262)."""
        tables = self.table_names()
        return {
            "version": self.engine_version(),
            "n_tables": len(tables),
            "tables": {t: self.table_columns(t) for t in tables},
        }

    # --- named query catalog -------------------------------------------
    def catalog_queries(self) -> list[str]:
        """Names of every packaged query (the SURVEY §2 surface)."""
        from ultimate_data_engineering_project_spark.plans.catalog import queries

        return list(queries())

    def catalog_query(self, name: str, sf_dir: str) -> DataFrame:
        """Run a packaged catalog query by name against a fixture dir —
        the one-call path for a reference user switching engines: every
        query they run today exists here under a stable name."""
        from ultimate_data_engineering_project_spark.plans.catalog import queries

        qs = queries()
        if name not in qs:
            raise KeyError(
                f"unknown catalog query {name!r}; see Engine.catalog_queries()"
            )
        return qs[name](self.spark, sf_dir)

    def explain(self, name: str, sf_dir: str, mode: str = "formatted") -> str:
        """Formatted Catalyst plan of a packaged catalog query (the
        EXPLAIN face of F12/F14 introspection): the full per-node
        detail including scan PushedFilters/ReadSchema, which
        ``DataFrame.explain()``'s truncating toString() drops.  Modes:
        'formatted' | 'extended' | 'simple' | 'cost' | 'codegen'.
        Classic (JVM-bridged) sessions only."""
        valid = ("formatted", "extended", "simple", "cost", "codegen")
        if mode not in valid:
            raise ValueError(f"mode must be one of {valid}, got {mode!r}")
        df = self.catalog_query(name, sf_dir)
        return self.spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )
