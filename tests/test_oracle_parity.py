"""Every catalog query with an oracle must match DuckDB value-for-value
at sf0.001 — the local pre-flight for the driver's sf0.01 gate."""

import pytest

from ultimate_data_engineering_project_spark.plans.catalog import catalog
from tests.oracle_utils import compare, duck_connection

SPECS = catalog()
ORACLE_NAMES = [n for n, s in SPECS.items() if s.oracle is not None]
ROWS_ONLY_NAMES = [n for n, s in SPECS.items() if s.oracle is None]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, sf_dir, duck, name):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    problems = compare(df, duck, spec.oracle)
    assert not problems, f"{name}:\n" + "\n".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_run(spark, sf_dir, name):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    # must produce a stable schema and execute without error
    assert df.columns
    assert df.count() >= 0


_OUTSIDE_CHECKOUT = """
import importlib.util, sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
df = entry.queries()["multimodal_decode_features"](spark, sys.argv[2])
print("ROWS", df.count())
spark.stop()
"""


def test_entry_ships_checkout_to_workers(tmp_path, sf_dir):
    """``__spark_entry__.py`` imported from a working directory outside
    the checkout, with PYTHONPATH unset, on a session that already
    runs: an entry whose functions run in Python workers must still
    import the package there, not only in the Spark driver process."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_CHECKOUT,
         os.path.join(root, "__spark_entry__.py"), sf_dir],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = [l for l in out.stdout.splitlines() if l.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, out.stdout[-2000:]
