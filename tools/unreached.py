#!/usr/bin/env python
"""List the package's top-level functions and classes that nothing runs.

Reachability is computed on the AST, to a fixed point.  The roots are:

* the module-level code of every package module (imports, so the
  subpackage ``__init__`` re-exports, and assignments);
* every function decorated with ``@register`` (the query catalog);
* everything in ``tools/``, ``bench.py``, ``perfbench/`` and
  ``__spark_entry__.py``;
* the names in ``KEEP``, each kept with a one-line reason.

A top-level function or class is reached when a reached body names it:
a ``Name`` or ``Attribute`` node, an import alias, or a string constant
that is an identifier (``getattr`` targets, span tables).  Its own body
then counts as reached code.  Names match by identifier, not by module,
so a name defined twice is reached when either is used.

A public name is reported when the roots do not reach it, so only tests
call it.  A private (``_``) name is reported only when nothing reaches
it, tests included: a helper that only a tested public function uses is
reported through that function.

Usage: python tools/unreached.py [--check]

Prints one ``module.name`` per unreached name, module relative to the
package; a ``KEEP`` name carries its reason.  ``--check`` exits 1 unless
the report is exactly ``KEEP``: it lists each unreached name outside
``KEEP``, each ``KEEP`` name that the engine or another kept name
now reaches, and each ``KEEP`` name that is no longer defined.
"""

from __future__ import annotations

import argparse
import ast
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ultimate_data_engineering_project_spark"

#: Root code outside the package, relative to the repo root.
ROOT_PATHS = ("tools", "bench.py", "perfbench", "__spark_entry__.py")
TEST_PATHS = ("tests",)

#: Names only tests call, each with the reason it stays: the COVERAGE.md
#: row or SURVEY dashboard it implements, or the test it is a reference
#: for.  A helper that only these names use is reached through them.
KEEP: dict[str, str] = {
    "api.Engine": "COVERAGE S11/S15: catalog introspection and guarded SQL (test_api.py)",
    "operators.aggregates.hll_distinct_rollup": "COVERAGE A7: mergeable HLL rollup (test_hll_rollup_merges_instead_of_rescanning)",
    "operators.multimodal.frame_sample_plan": "COVERAGE X5: the frame-sample leg (test_frame_sample_plan_explodes_video_rows)",
    "operators.similarity.lsh_bucket_key": "reference keys of test_bucket_tables_match_single_table_keys",
    "operators.text.write_posting_index": "COVERAGE X4 lexical search: sharded posting index (test_bm25_posting_index_persisted_probe)",
    "operators.text.read_posting_shards": "COVERAGE X4 lexical search: shard-pruned probe (test_bm25_posting_index_persisted_probe)",
    "operators.windows.asof_join": "COVERAGE J4: the only two-table as-of join (test_asof_join_matches_reference)",
    "pipelines.gold_customer_acquisition": "SURVEY dashboard #2 (test_gold_dashboards_shapes)",
    "pipelines.gold_fraud_alerts": "SURVEY dashboard #4 (test_gold_dashboards_shapes)",
    "schemas.create_table_sql": "COVERAGE S9: DDL create (test_ddl_registry)",
    "sources.incremental.ingest_increment": "COVERAGE S2: watermark incremental ingest (test_incremental_ingest_watermark)",
    "sources.kafka.kafka_source": "COVERAGE S12: Kafka source (test_kafka_source_fails_clearly_without_connector)",
    "sources.kafka.kafka_sink": "COVERAGE S12: Kafka sink",
    "sources.readers.read_jdbc": "COVERAGE S1/S14: JDBC scan",
    "sources.readers.jdbc_url": "COVERAGE S14: multi-dialect URLs (test_jdbc_url_three_dialects)",
    "sources.readers.read_csv": "schema-enforced CSV read (test_csv_json_schema_read_with_quarantine)",
    "sources.readers.read_json": "schema-enforced JSON read (test_csv_json_schema_read_with_quarantine)",
    "sources.readers.split_corrupt": "quarantine split of the CSV/JSON reads (test_csv_json_schema_read_with_quarantine)",
    "sources.readers.read_current": "reader of pointer tables with time travel (test_manifest_generation_ageing_and_time_travel)",
    "sources.readers.snapshot_tables": "COVERAGE manifest item 5: multi-table snapshot (test_snapshot_tables_consistent_across_flip)",
    "sources.registry.writer_schemas_for": "COVERAGE S13: Schema Registry client (test_avro_evolution_enum_fixed_union)",
    "sources.sinks.compact_parquet": "COVERAGE compaction row: small-file compactor (test_compact_parquet_manifest_protocol)",
    "sources.sinks.merge_overwrite": "COVERAGE S8: keyed UPDATE as anti-join + union (test_merge_overwrite_upsert)",
    "sources.sinks.s3a_conf": "object-store sink config (test_s3a_conf_minio_defaults)",
    "sources.sinks.shuffled_export": "global corpus shuffle at write time (test_shuffled_export_global_order_and_determinism)",
    "sources.sinks.write_bucketed": "COVERAGE joins: co-located bucketed tables (test_bucketed_join_avoids_shuffle)",
    "sources.sinks.write_zordered": "COVERAGE incremental: Z-ordered layout (test_zorder_write_improves_multi_column_skipping)",
    "streaming.pipelines.run_incremental_rollup_stream": "COVERAGE continuous-aggregate row (test_incremental_rollup_stream_matches_batch)",
    "streaming.pipelines.compact_rollup": "COVERAGE continuous-aggregate row: partials compactor (test_compact_rollup_manifest_protocol)",
    "streaming.pipelines.read_rollup": "COVERAGE continuous-aggregate row: serving view (test_incremental_rollup_stream_matches_batch)",
    "streaming.pipelines.run_incremental_bm25_stream": "COVERAGE X4 lexical search (test_incremental_bm25_stream_matches_batch)",
    "operators.text.bm25_query_incremental": "COVERAGE X4 lexical search: query side of the BM25 stream (test_incremental_bm25_stream_matches_batch)",
    "streaming.pipelines.run_incremental_bpe_encode_stream": "COVERAGE X4 tokenizer (test_incremental_bpe_encode_stream_matches_batch)",
    "operators.text.save_bpe_tokenizer": "COVERAGE X4 tokenizer: frozen tokenizer artifacts (test_frozen_tokenizer_integrity_refusals)",
    "streaming.pipelines.run_incremental_quality_model_stream": "COVERAGE X4 trained quality model: streaming face (test_incremental_model_stream_matches_batch)",
    "streaming.pipelines.run_incremental_span_stream": "COVERAGE X1 spans: incremental face (test_incremental_span_stream_matches_batch)",
    "streaming.pipelines.stream_heavy_hitters": "COVERAGE T5: bounded-state heavy hitters (test_stream_heavy_hitters_mg_guarantee)",
    "streaming.pipelines.stream_sessions_stateful": "COVERAGE T5: custom stateful sessionizer (test_stream_sessions_stateful_matches_batch)",
    "streaming.pipelines.ledger_bootstrap_offsets": "COVERAGE X7 ledger bootstrap item 6 (test_stream_ledger_bootstrapped_restart)",
    "streaming.pipelines.stream_ledger_deltas": "COVERAGE X7 ledger bootstrap item 6 (test_stream_ledger_bootstrapped_restart)",
    "streaming.pipelines.serve_ledger": "COVERAGE X7 ledger bootstrap item 6 (test_stream_ledger_bootstrapped_restart)",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path] if path.endswith(".py") else []
    out = []
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = sorted(
            d for d in dirnames if d != "__pycache__" and not d.startswith(".")
        )
        out.extend(os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py"))
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _names(nodes) -> set[str]:
    """Every identifier the given nodes (and their children) name."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.update(node.name.split("."))
                if node.asname:
                    out.add(node.asname)
            elif isinstance(node, ast.ImportFrom) and node.module:
                out.update(node.module.split("."))
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _IDENT.match(node.value)
            ):
                out.add(node.value)
    return out


def _registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        target = dec.func if isinstance(dec, ast.Call) else dec
        name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", "")
        if name == "register":
            return True
    return False


def _module_name(path: str, pkg_dir: str) -> str:
    rel = os.path.relpath(path, pkg_dir)[: -len(".py")].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _reach(seed: set[str], defs: dict[str, list[tuple[str, set[str]]]]) -> set[str]:
    """Identifiers reached from ``seed`` through the definitions' bodies."""
    reached = set(seed)
    todo = [n for n in seed if n in defs]
    done: set[str] = set()
    while todo:
        name = todo.pop()
        if name in done:
            continue
        done.add(name)
        for _, body in defs.get(name, ()):
            for ref in body - reached:
                reached.add(ref)
                if ref in defs:
                    todo.append(ref)
    return reached


def scan(repo: str = HERE, keep: dict[str, str] | None = None) -> tuple[list[str], list[str]]:
    """(unreached names, ``keep`` names that are not defined).

    A ``keep`` name is in the report when only tests reach it; once the
    engine or another kept name calls it, it drops out of the report
    and its keep goes stale."""
    keep = KEEP if keep is None else keep
    pkg_dir = os.path.join(repo, PKG)
    # identifier -> [(module.name, names its body uses)]
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    roots: set[str] = set()
    kept: set[str] = set()
    kept_uses: set[str] = set()  # what kept bodies name, self excluded
    for path in _py_files(pkg_dir):
        tree = _parse(path)
        mod = _module_name(path, pkg_dir)
        for node in tree.body:
            if isinstance(node, _DEFS):
                qual = f"{mod}.{node.name}"
                body = _names([node])
                defs.setdefault(node.name, []).append((qual, body))
                if _registered(node):
                    roots.add(node.name)
                if qual in keep:
                    kept.add(node.name)
                    kept_uses |= body - {node.name}
            else:
                roots |= _names([node])
    for rel in ROOT_PATHS:
        for path in _py_files(os.path.join(repo, rel)):
            roots |= _names([_parse(path)])
    tests: set[str] = set()
    for rel in TEST_PATHS:
        for path in _py_files(os.path.join(repo, rel)):
            tests |= _names([_parse(path)])

    others = _reach(roots | kept_uses, defs)
    with_keep = _reach(roots | kept, defs)
    with_tests = _reach(roots | kept | tests, defs)
    report = []
    for name, entries in defs.items():
        for qual, _ in entries:
            if qual in keep:
                unreached = name not in others
            elif name.startswith("_"):
                unreached = name not in with_tests
            else:
                unreached = name not in with_keep
            if unreached:
                report.append(qual)
    defined = {qual for entries in defs.values() for qual, _ in entries}
    return sorted(report), sorted(k for k in keep if k not in defined)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    report, missing = scan()
    for qual in report:
        print(f"{qual}  # keep: {KEEP[qual]}" if qual in KEEP else qual)
    if not args.check:
        return 0
    new = [q for q in report if q not in KEEP]
    stale = sorted(set(KEEP) - set(report) - set(missing))
    for qual in new:
        print(f"not in KEEP: {qual}")
    for qual in stale:
        print(f"KEEP but reached without it: {qual}")
    for qual in missing:
        print(f"KEEP but not defined: {qual}")
    return 1 if new or stale or missing else 0


if __name__ == "__main__":
    sys.exit(main())
