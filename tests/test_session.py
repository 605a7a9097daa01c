"""The two static settings of the sessions ``get_spark`` builds: a
generated-code cache that holds a repeated plan's classes, and a
Python-worker daemon whose workers do not re-read unchanged zip archives
for every task."""

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from ultimate_data_engineering_project_spark import _worker_daemon
from ultimate_data_engineering_project_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = [
    "dedup_clusters", "parts_bpe_encode_oov", "ann_pq_recall_audit",
    "kmeans_lloyd_refine_int",
]


def test_repeated_corpus_query_reuses_generated_classes(spark, sf_dir):
    """One pass over the four corpus queries generates about 150
    classes, more than Spark's default cache of 100: a query run again
    after the other three must find its classes still compiled."""
    from ultimate_data_engineering_project_spark.plans.catalog import catalog

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    specs = catalog()

    def run(name):
        before = codegen_compiles(spark)
        specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark) - before

    first = {name: run(name) for name in CORPUS}
    assert sum(first.values()) > 0
    assert run(CORPUS[0]) <= 5, first


def _zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def eager_importer():
    """A ``zipimporter`` subclass with the daemon's rule, so the test
    process's own importers stay as they are."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        pytest.skip("this interpreter's zipimporter drops its cache lazily")

    class Importer(zipimport.zipimporter):
        pass

    assert _worker_daemon.reread_changed_archives_only(Importer)
    return Importer


def test_unchanged_archive_is_not_reread(eager_importer, tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _zip(path, ["a"])
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read(p)
    )
    imp = eager_importer(path)
    imp.invalidate_caches()  # stamps the importer
    n = len(reads)
    for _ in range(3):
        imp.invalidate_caches()
    assert len(reads) == n
    assert imp.find_spec("a") is not None


def test_rewritten_archive_is_reread_by_every_importer(eager_importer, tmp_path):
    path = str(tmp_path / "lib.zip")
    _zip(path, ["a"])
    imps = [eager_importer(path), eager_importer(path)]
    for imp in imps:
        imp.invalidate_caches()
        assert imp.find_spec("b") is None
    _zip(path, ["a", "b"])
    for imp in imps:
        imp.invalidate_caches()
        spec = imp.find_spec("b")
        assert spec is not None
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.NAME == "b"


def test_lazy_interpreter_is_not_patched():
    class Lazy:
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    original = Lazy.invalidate_caches
    assert not _worker_daemon.reread_changed_archives_only(Lazy)
    assert Lazy.invalidate_caches is original


_OUTSIDE_CHECKOUT = """
import sys
sys.path.insert(0, sys.argv[1])
from ultimate_data_engineering_project_spark.session import get_spark
from ultimate_data_engineering_project_spark.plans.catalog import catalog

spark = get_spark(master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")

def forked_from(batches):
    import zipimport
    import pandas as pd
    main = sys.modules["__main__"].__spec__.name
    patched = getattr(zipimport.zipimporter.invalidate_caches,
                      "_spark_graft_stamp", False)
    for b in batches:
        yield pd.DataFrame({"id": b["id"], "main": main, "patched": patched})

rows = (spark.range(50).repartition(2)
        .mapInPandas(forked_from, "id long, main string, patched boolean")
        .select("main", "patched").distinct().collect())
for r in rows:
    print("WORKER", r["main"], r["patched"])
n = catalog()["kmeans_lloyd_refine_int"].fn(spark, sys.argv[2]).count()
print("ROWS", n)
spark.stop()
"""


def test_workers_start_from_engine_daemon_outside_checkout(tmp_path, sf_dir):
    """With PYTHONPATH unset and a working directory outside the
    checkout, ``get_spark``'s workers still fork from the engine's
    daemon and import the package (an engine kernel runs there)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_CHECKOUT, ROOT, sf_dir],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    eager = not hasattr(zipimport.zipimporter, "_get_files")
    workers = [l.split()[1:] for l in lines if l.startswith("WORKER ")]
    assert workers == [[_worker_daemon.__name__, str(eager)]], out.stdout[-2000:]
    rows = [l for l in lines if l.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, out.stdout[-2000:]
