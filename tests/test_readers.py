"""Fixture reads with the registered schemas, and driver-held rows
planned as local relations."""

import os

import pytest

from ultimate_data_engineering_project_spark import schemas
from ultimate_data_engineering_project_spark.sources import readers

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_FIXTURES = os.path.join(ROOT, "perfbench", "fixtures", "sf0.01")


def _jobs(sc, group, fn):
    sc.setJobGroup(group, "probe")
    try:
        fn()
    finally:
        sc.setJobGroup(f"{group}_done", "clear")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("where", ["sf_dir", "bench"])
def test_registered_schema_equals_inferred(spark, sf_dir, where):
    """Every fixture table reads with the same schema as footer
    inference gives, so a registry column missing from a file fails
    here instead of reading as nulls; registered reads run no job."""
    data = sf_dir if where == "sf_dir" else BENCH_FIXTURES
    names = [
        n for n in readers.FIXTURE_TABLES
        if os.path.exists(f"{data}/{n}.parquet")
    ]
    assert names
    for name in names:
        inferred = spark.read.parquet(f"{data}/{name}.parquet")
        if name == "events":
            inferred = readers._normalize_events(inferred)
        assert readers.load_table(spark, data, name).schema == inferred.schema, name
    registered = [n for n in names if n in schemas.FIXTURE_SCHEMAS and n != "events"]
    sc = spark.sparkContext
    jobs = _jobs(
        sc, f"registered_reads_{where}",
        lambda: [readers.load_table(spark, data, n) for n in registered],
    )
    assert jobs == 0


def test_driver_rows_plan_as_local_relations(spark, sf_dir, tmp_path, monkeypatch):
    """The engine's frames of rows the driver already holds are
    ``LocalRelation``s: a ``LogicalRDD`` would run Python-worker tasks
    only to ship the rows back."""
    from pyspark.sql import SparkSession, functions as F

    from ultimate_data_engineering_project_spark import generator
    from ultimate_data_engineering_project_spark.fraud import trained_fraud_scores
    from ultimate_data_engineering_project_spark.operators import text
    from ultimate_data_engineering_project_spark.operators.dedup import (
        connected_components,
    )

    made = []
    create = SparkSession.createDataFrame

    def spy(self, *args, **kwargs):
        df = create(self, *args, **kwargs)
        made.append(df._jdf.queryExecution().analyzed().getClass().getSimpleName())
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", spy)
    edges = spark.range(6).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    assert connected_components(edges).count() == 7

    docs = readers.load_table(spark, sf_dir, "documents").limit(20)
    merges = text.bpe_merges(docs, 3)
    assert merges.count() == 3
    text.save_bpe_tokenizer(docs, 3, str(tmp_path / "tok"))

    postings, _, _ = text.bm25_index(docs)
    text.write_posting_index(postings, str(tmp_path / "postings"))
    text.read_posting_shards(spark, str(tmp_path / "postings"), ["hash", "join"])

    trx = generator.gen_fakestream(spark, 200, 20, 200, seed=42)["transactions"]
    trained_fraud_scores(trx, steps=1)

    # connected_components, bpe_merges, the tokenizer's merges and
    # meta, the posting probe's terms and the fraud model's weights
    assert len(made) >= 6, made
    assert set(made) == {"LocalRelation"}, made
