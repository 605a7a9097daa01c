"""Medallion pipelines (SURVEY.md §3.4, §7 step 6): the reference's
three Airflow DAGs recomposed as pure DataFrame→DataFrame functions.

Reference entry points → engine functions:
  database_seeder.py (one-shot seed)        → generator.gen_fakestream
  oltp_seeder.py / polished_transactions.py → simulate handled by the
      generator's defect injection; balance mutation → ledger window
  batch_ingestion_pipeline.py (bronze)      → sources.incremental
  declared silver/gold dbt models           → silver_* / gold_* below

No orchestrator required: each stage is a function the driver (or any
scheduler) calls; state lives in the checkpoint dir, not in XCom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ultimate_data_engineering_project_spark import quality
from ultimate_data_engineering_project_spark.fraud import circular_transfer_pairs, velocity_alerts
from ultimate_data_engineering_project_spark.operators.windows import (
    dedup_keep_latest,
    scd2,
)


# ---------------------------------------------------------------------------
# Silver: cleaned, deduplicated, versioned
# ---------------------------------------------------------------------------
def silver_customers(bronze_customers: DataFrame) -> DataFrame:
    """Cleaned customer dimension: normalize, dedup-keep-latest on the
    duplicate-injection key (same name ⇒ same person, per the
    reference's dup semantics polished_transactions.py:100-110), flag
    rows that fail DQ rules instead of dropping them (quarantine
    column, so downstream chooses)."""
    normed = bronze_customers.withColumn(
        "email_norm", F.lower(F.translate(F.col("email"), "43", "ae"))
    ).withColumn("name_norm", F.lower(F.col("full_name")))
    deduped = dedup_keep_latest(normed, ["name_norm"], ["updated_at", "customer_id"])
    return deduped.withColumn(
        "dq_quarantine",
        quality.missing_phone() & quality.missing_address() | quality.invalid_dob(),
    )


def silver_customers_scd2(customer_change_log: DataFrame) -> DataFrame:
    """SCD Type 2 customer dimension from the change feed (W1 —
    polished_transactions.py:152-196,510)."""
    return scd2(customer_change_log, key="customer_id", change_ts="updated_at")


def silver_transactions(
    bronze_transactions: DataFrame, accounts: DataFrame
) -> DataFrame:
    """Validated fact table: DQ flags as columns (late / future /
    impossible amount / inactive account), never silent drops."""
    inactive = accounts.filter(F.col("status") != "active").select(
        F.col("account_id").alias("__inactive_id")
    )
    flagged = (
        bronze_transactions.withColumn("dq_late", quality.late_arriving())
        .withColumn("dq_future", quality.future_dated())
        .withColumn("dq_impossible_amount", quality.impossible_amount())
        .join(
            F.broadcast(inactive),
            F.col("account_id") == F.col("__inactive_id"),
            "left",
        )
        .withColumn("dq_inactive_account", F.col("__inactive_id").isNotNull())
        .drop("__inactive_id")
    )
    return flagged


# ---------------------------------------------------------------------------
# Gold: the reference's declared dashboards (README.md:36-40)
# ---------------------------------------------------------------------------
def gold_daily_transaction_volume(transactions: DataFrame) -> DataFrame:
    """Dashboard #1: daily transaction volumes (README.md:36)."""
    return transactions.groupBy(
        F.to_date("transaction_date").alias("day"), "transaction_type"
    ).agg(
        F.count(F.lit(1)).alias("n_transactions"),
        F.sum("amount").alias("total_amount"),
    )


def gold_customer_acquisition(customers: DataFrame) -> DataFrame:
    """Dashboard #2: customer acquisition trends (README.md:37) — daily
    signups with a 7-day rolling average."""
    daily = customers.groupBy(F.to_date("created_at").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_customers")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.withColumn(
        "avg_7d",
        F.sum("n_new_customers").over(w).cast("double") / F.count("n_new_customers").over(w),
    )


def gold_balance_distribution(accounts: DataFrame, bucket: int = 1_000) -> DataFrame:
    """Dashboard #3: balance distribution (README.md:38) — histogram in
    fixed-width buckets."""
    return (
        accounts.withColumn(
            "balance_bucket", (F.floor(F.col("balance") / bucket) * bucket).cast("long")
        )
        .groupBy("balance_bucket")
        .agg(F.count(F.lit(1)).alias("n_accounts"))
    )


def gold_fraud_alerts(transactions: DataFrame) -> DataFrame:
    """Dashboard #4: fraud alerts (README.md:39) — circular transfers +
    velocity breaches, unioned with a rule tag."""
    circ = circular_transfer_pairs(transactions).select(
        F.lit("circular_transfer").alias("rule"),
        F.col("account_a").alias("account_id"),
        F.col("day"),
    )
    velo = velocity_alerts(transactions).select(
        F.lit("velocity").alias("rule"), "account_id", "day"
    )
    return circ.unionByName(velo)


def account_balances(transactions: DataFrame) -> DataFrame:
    """Current balance per account from the ledger (X7 — final value of
    the running balance, which is just the signed-delta total; replaces
    the reference's per-row UPDATE loop oltp_seeder.py:483-487 with one
    partial-aggregating groupBy — one shuffle, no window sort)."""
    from ultimate_data_engineering_project_spark.operators.windows import _ledger_legs

    return (
        _ledger_legs(transactions)
        .groupBy("account_id")
        .agg(F.sum("delta").alias("current_balance"))
    )
