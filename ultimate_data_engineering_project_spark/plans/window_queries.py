"""Window-function and event-time query catalog entries (SURVEY.md
§2.5, §2.9 batch analogs).

Oracle-side rule for the events table: its parquet timestamps are
nanosecond; Spark reads microseconds.  Every oracle references
``CAST(ts AS TIMESTAMP)`` (truncates ns→us, matching Spark) and every
ordering carries an ``event_id`` tiebreak so sub-microsecond ordering
can never diverge between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ultimate_data_engineering_project_spark.functions.scalar import dsum, dsum_sql
from ultimate_data_engineering_project_spark.operators import aggregates, windows
from ultimate_data_engineering_project_spark.plans.catalog import register
from ultimate_data_engineering_project_spark.sources.readers import load_table


# shared by the plain entry and its skew-safe chunked twin: the hash
# check against ONE oracle is what proves the chunked-prefix-sum
# recomposition bit-equal to the single-window semantics.
_RUNNING_SPEND_SQL = """
    SELECT o_orderkey, o_custkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS VARCHAR) AS DOUBLE) AS running_spend
    FROM orders
    """


@register("running_total_by_customer", oracle=_RUNNING_SPEND_SQL)
def running_total_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-balance ledger shape (X7 — the reference's per-row
    balance UPDATE loop, oltp_seeder.py:483-487, recast as one window
    over (key, event time, id)).  Single shuffle on the entity key."""
    orders = load_table(spark, sf_dir, "orders")
    out = windows.running_sum(
        orders,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        F.col("o_totalprice").cast("decimal(25,10)"),
        alias="running_spend",
    )
    return out.select(
        "o_orderkey", "o_custkey", F.col("running_spend").cast("double").alias("running_spend")
    )


@register("running_total_by_customer_chunked", oracle=_RUNNING_SPEND_SQL)
def running_total_by_customer_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-SAFE running total (windows.running_sum_chunked):
    phase 1 prefix-sums within (customer, 90-day chunk) so a hot
    customer holding 10% of a 100 TB order table never lands in one
    unsplittable window task, phase 2 adds a per-chunk offset from a
    tiny chunk-total summary (addition is associative — no merge rule,
    strictly simpler than the chunked sessionizer).  The oracle is
    IDENTICAL to running_total_by_customer's: the DuckDB hash check
    proves the two-phase recomposition bit-equal to the single-window
    ledger semantics (X7, oltp_seeder.py:483-487)."""
    orders = load_table(spark, sf_dir, "orders")
    out = windows.running_sum_chunked(
        orders,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        F.col("o_totalprice").cast("decimal(25,10)"),
        "o_orderdate",
        alias="running_spend",
        chunk_seconds=90 * 86_400,
    )
    return out.select(
        "o_orderkey", "o_custkey", F.col("running_spend").cast("double").alias("running_spend")
    )


@register("running_total_by_customer_auto", oracle=_RUNNING_SPEND_SQL)
def running_total_by_customer_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-AWARE dispatcher (windows.running_sum_auto): one cheap
    key-histogram probe picks the plain single-window form at uniform
    data and the chunked-prefix-sum form under a hot key — the choice
    a production caller shouldn't have to make in advance (the
    reference's balance loop, oltp_seeder.py:483-487, is exactly where
    a hot account appears mid-stream).  The oracle is IDENTICAL to
    both siblings': whichever branch the probe picks, the DuckDB hash
    check proves the answer unchanged — the dispatch moves only the
    plan.  Swept at uniform sf1 (picks plain) AND hot-key sf1skew
    (picks chunked) in SCALING.md."""
    orders = load_table(spark, sf_dir, "orders")
    out = windows.running_sum_auto(
        orders,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        F.col("o_totalprice").cast("decimal(25,10)"),
        "o_orderdate",
        alias="running_spend",
        chunk_seconds=90 * 86_400,
    )
    return out.select(
        "o_orderkey", "o_custkey", F.col("running_spend").cast("double").alias("running_spend")
    )


@register(
    "day_over_day_orders",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_day, COUNT(*) AS n_orders
        FROM orders GROUP BY order_day
    )
    SELECT order_day, n_orders,
           CAST(LAG(n_orders) OVER (ORDER BY order_day) AS BIGINT) AS prev_n_orders,
           CAST(n_orders - LAG(n_orders) OVER (ORDER BY order_day) AS BIGINT) AS delta
    FROM daily
    """,
)
def day_over_day_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day trend via lag (W3 — customer-acquisition-trend
    dashboard, README.md:37).  The single-partition window runs over
    already-aggregated daily rows (tiny), not the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.orderBy("order_day")
    return daily.select(
        "order_day",
        "n_orders",
        F.lag("n_orders").over(w).alias("prev_n_orders"),
        (F.col("n_orders") - F.lag("n_orders").over(w)).alias("delta"),
    )


@register(
    "rolling_7day_order_volume",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS order_day, COUNT(*) AS n_orders
        FROM orders GROUP BY order_day
    )
    SELECT order_day, n_orders,
           CAST(SUM(n_orders) OVER w AS BIGINT) AS n_orders_7d,
           CAST(SUM(n_orders) OVER w AS DOUBLE) / COUNT(n_orders) OVER w AS avg_orders_7d
    FROM daily
    WINDOW w AS (ORDER BY order_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_7day_order_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-based rolling 7-day trend (W3 — README.md:36-40 dashboards).
    Explicit SUM/COUNT instead of AVG so both engines do identical
    arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.orderBy("order_day").rowsBetween(-6, 0)
    return daily.select(
        "order_day",
        "n_orders",
        F.sum("n_orders").over(w).alias("n_orders_7d"),
        (F.sum("n_orders").over(w).cast("double") / F.count("n_orders").over(w)).alias(
            "avg_orders_7d"
        ),
    )


@register(
    "dedup_keep_latest_events",
    oracle="""
    SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
    FROM (
        SELECT user_id, event_type, event_id, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
               ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def dedup_keep_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-keep-latest (W2 — 'deduplicate customers' keeping the most
    recent version, polished_transactions.py:507): latest event per
    (user, type)."""
    events = load_table(spark, sf_dir, "events")
    out = windows.dedup_keep_latest(
        events.select("user_id", "event_type", "event_id", "ts"),
        ["user_id", "event_type"],
        ["ts", "event_id"],
    )
    return out.select("user_id", "event_type", "event_id", "ts")


@register(
    "scd2_user_event_versions",
    oracle="""
    SELECT user_id, event_id,
           CAST(ts AS TIMESTAMP) AS effective_from,
           LEAD(CAST(ts AS TIMESTAMP)) OVER w AS effective_to,
           LEAD(CAST(ts AS TIMESTAMP)) OVER w IS NULL AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def scd2_user_event_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 interval construction (W1 — the reference's declared
    customer-churn versioning, polished_transactions.py:152-196,510):
    each event becomes a version row with [effective_from, effective_to)
    and a current flag."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# ONE oracle string shared by the plain sessionizer, its skew-safe
# chunked twin, and the r11 auto-dispatcher: the identical-oracle hash
# check is what proves every form bit-equal to the single-window
# semantics.
_SESSIONIZE_SQL = """
    WITH flagged AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                         OR CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) OVER w
                            > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    sessions AS (
        SELECT user_id, event_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           {val} AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """.format(val=dsum_sql("value"))


@register("sessionize_events", oracle=_SESSIONIZE_SQL)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (T4 batch analog of Structured
    Streaming's session_window; 30-minute inactivity gap): lag →
    boundary flag → running sum → per-session rollup.  One shuffle on
    user_id."""
    events = load_table(spark, sf_dir, "events")
    sess = windows.sessionize(events, "user_id", "ts", 30 * 60, tiebreak="event_id")
    return sess.groupBy(
        "user_id", F.col("session_id").cast("long").alias("session_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("session_value"),
    )


@register("sessionize_events_salted", oracle=_SESSIONIZE_SQL)
def sessionize_events_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-SAFE sessionizer (windows.sessionize_chunked): phase 1
    windows on (user_id, time-chunk) so a hot user holding 10% of the
    table never lands in one task, phase 2 merges boundary sessions on
    a chunk-level summary (cardinality bounded by time-range/chunk,
    independent of row skew).  The oracle is IDENTICAL to
    sessionize_events' — the DuckDB hash check proves the two-phase
    recomposition is bit-equal to the single-window semantics, the
    property that lets a 100 TB deployment swap it in under a hot
    key."""
    events = load_table(spark, sf_dir, "events")
    sess = windows.sessionize_chunked(
        events, "user_id", "ts", 30 * 60, chunk_seconds=6 * 3600,
        tiebreak="event_id",
    )
    return sess.groupBy(
        "user_id", F.col("session_id").cast("long").alias("session_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("session_value"),
    )


@register("sessionize_events_auto", oracle=_SESSIONIZE_SQL)
def sessionize_events_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEW-AWARE sessionizer dispatch (windows.sessionize_auto):
    a key-histogram probe picks the single-window form at uniform data
    and the two-phase chunked form under a hot user.  The oracle is
    IDENTICAL to both siblings' — whichever branch is picked, the hash
    check proves the sessions unchanged.  Swept at uniform sf1 (picks
    plain) AND hot-key sf1skew (picks chunked) in SCALING.md."""
    sess = windows.sessionize_auto(
        load_table(spark, sf_dir, "events"), "user_id", "ts", 30 * 60,
        chunk_seconds=6 * 3600, tiebreak="event_id",
    )
    return sess.groupBy(
        "user_id", F.col("session_id").cast("long").alias("session_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("session_value"),
    )


@register(
    "asof_purchase_prev_click",
    oracle="""
    SELECT event_id, user_id,
           CAST(ts AS TIMESTAMP) AS purchase_ts,
           prev_click_ts
    FROM (
        SELECT event_id, user_id, ts, event_type,
               MAX(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_click_ts
        FROM events
    )
    WHERE event_type = 'purchase'
    """,
)
def asof_purchase_prev_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join shape (J9 — match each fact to the dimension state
    valid at event time, polished_transactions.py:512): each purchase
    gets the latest strictly-earlier click by the same user.  Windowed
    formulation: one shuffle, no range-join explosion."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    return (
        events.withColumn("prev_click_ts", prev_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "prev_click_ts",
        )
    )


@register(
    "events_daily_volume",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_day,
           event_type,
           COUNT(*) AS n_events,
           {val} AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_day, event_type
    """.format(val=dsum_sql("value")),
)
def events_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation, batch form (T4 — daily
    volumes over event time, README.md:36; the streaming twin with
    watermarking lives in streaming/pipelines.py)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.to_date("ts").alias("event_day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@register(
    "events_rollup_incremental",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS bucket_ts,
           event_type,
           COUNT(*) AS n_events,
           COUNT(value) AS n_valued,
           SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0
               AS total_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CASE WHEN COUNT(value) > 0 THEN
               (SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0)
               / COUNT(value)
           END AS avg_value
    FROM events
    GROUP BY bucket_ts, event_type
    """,
)
def events_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (the driver contract's
    'hypertable rollup' custom operator; reference's hourly DAG instead
    re-aggregates whole tables each tick,
    batch_ingestion_pipeline.py:78-88): events arrive as THREE
    deterministic slices (pmod of event_id — three simulated ingest
    ticks, with every day's rows scattered across ticks so buckets are
    genuinely maintained incrementally, late data included).  Each
    slice folds to MERGEABLE partials (operators/aggregates.
    rollup_partials: counts + integer micro-unit sum + min/max — BIGINT
    addition is order-free, unlike double sums) and merge_rollup folds
    partials to the serving view.  The oracle is the DIRECT aggregate
    over all events: the hash match IS the proof that slicing doesn't
    change the result — the property that makes incremental maintenance
    exact.  Streaming face: streaming/pipelines.run_incremental_rollup_
    stream (replay-idempotent per-batch partials, sources/manifest.py)."""
    events = load_table(spark, sf_dir, "events")
    parts = None
    for i in range(3):
        s = events.where(
            F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)) == i
        )
        p = aggregates.rollup_partials(s)
        parts = p if parts is None else parts.unionByName(p)
    return aggregates.merge_rollup(parts)


@register(
    "events_rollup_quantiles",
    oracle="""
    WITH b AS (
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS bucket_ts,
               event_type,
               CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 16.0), 0), 63)
                    AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        WHERE value IS NOT NULL
        GROUP BY bucket_ts, event_type, bin
    ),
    c AS (
        SELECT bucket_ts, event_type, bin, n,
               SUM(n) OVER (PARTITION BY bucket_ts, event_type
                            ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n) OVER (PARTITION BY bucket_ts, event_type) AS total
        FROM b
    )
    SELECT bucket_ts, event_type,
           CAST(MAX(total) AS BIGINT) AS n_valued,
           MIN(CASE WHEN cum >= (total * 50 + 99) // 100
                    THEN 0.0 + (bin + 1) * 16.0 END) AS p50,
           MIN(CASE WHEN cum >= (total * 95 + 99) // 100
                    THEN 0.0 + (bin + 1) * 16.0 END) AS p95
    FROM c
    GROUP BY bucket_ts, event_type
    """,
)
def events_rollup_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE continuous aggregate (the quantile face of the
    hypertable rollup — TimescaleDB's percentile continuous aggregates;
    Spark's percentile_approx sketch is neither mergeable cross-engine
    nor reproducible): events arrive as the same three deterministic
    slices as events_rollup_incremental, each folds to mergeable
    HISTOGRAM partials (operators/aggregates.hist_partials — one BIGINT
    count per (day, event_type, bin), order-free addition), and
    hist_quantiles serves p50/p95 as upper bin edges at exact integer
    rank thresholds.  The hash match against the direct DuckDB
    histogram proves BOTH that slicing cannot change the served
    quantiles AND that the whole quantile path is engine-exact —
    approximation lives only in the documented one-bin-width bound.
    Streaming face: the partials land in the same per-batch layout
    run_incremental_rollup_stream and compact_rollup manage."""
    events = load_table(spark, sf_dir, "events")
    parts = None
    for i in range(3):
        s = events.where(
            F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)) == i
        )
        p = aggregates.hist_partials(s)
        parts = p if parts is None else parts.unionByName(p)
    return aggregates.hist_quantiles(parts, (50, 95))


@register(
    "events_hourly_sliding",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS event_hour,
               COUNT(*) AS n_events
        FROM events
        GROUP BY event_hour
    )
    SELECT event_hour, n_events,
           CAST(SUM(n_events) OVER (
               ORDER BY event_hour
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_events_4h
    FROM hourly
    """,
)
def events_hourly_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window, batch form (T4 sliding variant):
    hourly counts with a trailing 4-hour total."""
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("event_hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.orderBy("event_hour").rowsBetween(-3, 0)
    return hourly.select(
        "event_hour",
        "n_events",
        F.sum("n_events").over(w).alias("n_events_4h"),
    )
