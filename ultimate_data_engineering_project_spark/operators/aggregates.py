"""Aggregation operators (SURVEY.md §2.4): grouped rollups, conditional
multi-metric aggregation, top-k per group.

The reference runs each DQ metric as a separate COUNT(*) round-trip to
Postgres (polished_transactions.py:448-504 issues ~6 scans).  Here the
whole metric battery is ONE pass: conditional aggregation folds every
predicate into a single scan — the difference between 6 reads and 1 read
of a 100 TB fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def conditional_counts(df: DataFrame, conds: dict[str, Column]) -> DataFrame:
    """One-row frame: ``{name: count of rows satisfying cond}`` plus
    total_rows — the one-pass DQ report shape (A2/A8)."""
    aggs = [F.count(F.lit(1)).alias("total_rows")] + [
        F.sum(F.when(cond, 1).otherwise(0)).alias(name) for name, cond in conds.items()
    ]
    return df.agg(*aggs)


def group_topk(
    df: DataFrame,
    group_keys: list[str],
    order_by: list[Column],
    k: int,
    rank_alias: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number (W-family ranking).  The
    window shuffle partitions on ``group_keys`` only — per-group state is
    O(k) after the sort, no global sort."""
    w = Window.partitionBy(*group_keys).orderBy(*order_by)
    return df.withColumn(rank_alias, F.row_number().over(w)).filter(
        F.col(rank_alias) <= k
    )


def topk(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Global top-k (O1).  orderBy().limit() plans TakeOrderedAndProject:
    each partition keeps a k-row heap, the driver merges k*P rows — never
    a full global sort."""
    return df.orderBy(*order_by).limit(k)


def hll_distinct_rollup(
    df: DataFrame,
    group_cols: list[str],
    count_col: str,
    *,
    lg_k: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """Mergeable distinct-count rollup via Datasketches HLL (A7 at
    100 TB): per-group sketches plus a grand total obtained by UNIONING
    the group sketches — never by rescanning the facts.

    This is the property plain ``approx_count_distinct`` lacks: its
    output is a number, so a gold-layer rollup cannot be re-aggregated
    to coarser grain without another pass over the source.  Sketches
    re-aggregate: daily → monthly → all-time each cost only a sketch
    union over the previous level's rows.

    Returns ``(per_group, total)``: per-group estimates and the
    union-merged global estimate.
    """
    sk = df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(count_col, F.lit(lg_k)).alias("__sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    per_group = sk.select(
        *group_cols,
        "n_rows",
        F.hll_sketch_estimate("__sk").alias("approx_distinct"),
    )
    total = sk.agg(
        F.hll_union_agg("__sk", F.lit(True)).alias("__u")
    ).select(F.hll_sketch_estimate("__u").alias("approx_distinct_total"))
    return per_group, total


#: partial-state columns produced by rollup_partials; everything else
#: in the frame is a grouping key (bucket_ts + the caller's key_cols)
_ROLLUP_STATE = ("n", "n_val", "sum_micro", "min_value", "max_value")


def rollup_partials(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    bucket: str = "day",
) -> DataFrame:
    """Hypertable-style CONTINUOUS-AGGREGATE partials (TimescaleDB's
    materialized rollup, recast on mergeable state — the driver
    contract's custom-operator example; the reference's hourly DAG
    re-aggregates from scratch each tick, batch_ingestion_pipeline.py:
    78-88): one time-bucketed row of MERGEABLE state per
    ``(date_trunc(bucket, ts), *key_cols)`` over JUST the given slice
    of events.

    The state is chosen so that merging partials from ANY partition of
    the event history — per micro-batch, per day, per backfill chunk —
    reproduces the direct aggregate exactly, which is what makes the
    incremental maintenance correct rather than approximately right:

    - ``n`` / ``n_val``: row and non-null-value counts (BIGINT sums);
    - ``sum_micro``: the value sum quantized to integer micro-units
      BEFORE summation (the repo-wide cross-engine trick) — BIGINT
      addition is associative+commutative, so the merged total is
      independent of how history was sliced, unlike double sums;
    - ``min_value`` / ``max_value``: order-free as-is.

    AVG deliberately has no partial — it is derived at merge time
    (sum/n), the classic mergeable-aggregate decomposition.  At 100 TB
    the partials table is bucket x key cardinality (thousands of rows
    per day), so re-deriving the serving view never rescans events.
    Late rows need no special path: they land partials in an old
    bucket and the merge is order-free."""
    micro = F.round(F.col(value_col) * 1_000_000).cast("long")
    return df.groupBy(
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"), *key_cols
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(value_col).alias("n_val"),
        F.sum(micro).alias("sum_micro"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def merge_rollup(partials: DataFrame) -> DataFrame:
    """Fold continuous-aggregate partials into the serving view:
    ``(bucket_ts, *keys, n_events, n_valued, total_value, min_value,
    max_value, avg_value)``.  Pure partial-state algebra — counts and
    integer sums add, min/min and max/max fold — so the result equals
    the direct aggregate over the union of every slice that produced
    the partials, however the history was partitioned or replayed
    (idempotence across slicings is pinned in tests; the catalog entry
    hash-checks a 3-way split against DuckDB's direct groupBy)."""
    keys = [c for c in partials.columns if c not in _ROLLUP_STATE]
    n_valued = F.sum("n_val")
    total = F.sum("sum_micro") / F.lit(1_000_000.0)
    return partials.groupBy(*keys).agg(
        F.sum("n").alias("n_events"),
        n_valued.alias("n_valued"),
        total.alias("total_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.when(n_valued > 0, total / n_valued).alias("avg_value"),
    )


def hist_partials(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    bucket: str = "day",
    bins: int = 64,
    lo: float = 0.0,
    hi: float = 1024.0,
    guard_bins: bool = True,
) -> DataFrame:
    """Mergeable HISTOGRAM partials for the continuous aggregate —
    the state that serves PERCENTILES incrementally (TimescaleDB's
    percentile continuous aggregates; Spark's own percentile_approx
    sketch is neither mergeable across engines nor reproducible, so
    this recasts it on the repo's exact-integer discipline).

    One row per ``(date_trunc(bucket, ts), *key_cols, bin)`` where
    ``bin = floor((value - lo) / width)`` and the state is a plain
    BIGINT count: merging slices is integer addition (order-free,
    replay-idempotent — the same algebra as rollup_partials), and for
    values INSIDE ``[lo, hi)`` the quantile error is bounded by ONE
    BIN WIDTH by construction, a bound that holds under any merge
    order.  Bin assignment is a single IEEE divide + floor on both
    engines, so a DuckDB oracle reproduces the histogram bit-for-bit —
    unlike any sample- or sketch-based quantile.  NULL values take no
    bin (count-only rows track them upstream in rollup_partials).

    **[lo, hi) is a contract, and out-of-range values are visible,
    not silently clamped** (``guard_bins=True``, the default): a value
    below ``lo`` lands in GUARD bin ``-1`` and one at/above ``hi`` in
    GUARD bin ``bins`` — plain count rows that merge like any other
    partial, so a generic caller can detect saturation by their
    presence, and :func:`hist_quantiles` stays honest: a quantile
    falling below ``lo`` reports the true upper edge ``lo`` (the
    ``(bin+1)*width`` formula already yields it for bin -1), and one
    falling at/above ``hi`` reports NULL — *unbounded above*, never a
    fabricated ``hi``.  ``guard_bins=False`` restores edge-clamping
    for callers that have externally validated the range and want a
    fixed bin domain.

    At 100 TB the partials table is bucket x key x bins cardinality —
    ``bins`` multiplies the ROLLUP's footprint, not the corpus scan —
    and the partials land in the same per-batch delta layout the
    incremental rollup stream and ``compact_rollup`` already manage."""
    width = (hi - lo) / bins
    b = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    if guard_bins:
        # one underflow bin (-1) and one overflow bin (bins): floor()
        # already yields <= -1 below lo and >= bins at/above hi; the
        # clamp only COLLAPSES the out-of-range tails onto the two
        # guard ids so cardinality stays bins+2, not value-dependent
        bin_col = F.least(F.greatest(b, F.lit(-1)), F.lit(bins)).cast("long")
    else:
        bin_col = F.least(
            F.greatest(b, F.lit(0)), F.lit(bins - 1)
        ).cast("long")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
            *key_cols,
            bin_col.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hist_quantiles(
    partials: DataFrame,
    qs: tuple[int, ...] = (50, 95),
    *,
    bins: int = 64,
    lo: float = 0.0,
    hi: float = 1024.0,
) -> DataFrame:
    """Serving view over histogram partials: per (bucket, keys), the
    valued count and one UPPER-BIN-EDGE quantile per requested
    percentile — ``p_q = lo + (bin+1) * width`` for the first bin
    whose cumulative count reaches ``ceil(q% * total)``.

    All integer arithmetic: the cumulative counts are BIGINT sums over
    merged partials, the rank threshold is ``(total*q + 99) div 100``
    (exact ceiling — Spark's ``div`` == DuckDB's ``//`` on
    non-negative longs), and the reported edge is a deterministic
    double expression — so the quantile is engine-exact, with the
    approximation bound (one bin width above the true quantile)
    carried by the HISTOGRAM, not the arithmetic.

    Guard bins from :func:`hist_partials` stay honest here: bin -1
    (values below ``lo``) reports edge ``lo`` via the same formula —
    a TRUE upper bound on the quantile — and bin ``bins`` (values
    at/above ``hi``) reports NULL: the quantile is above the
    histogram's domain and has no finite edge, so serving ``hi``
    would fabricate a bound the data violates."""
    width = (hi - lo) / bins
    keys = [c for c in partials.columns if c not in ("bin", "n")]
    merged = partials.groupBy(*keys, "bin").agg(F.sum("n").alias("n"))
    w = Window.partitionBy(*keys).orderBy("bin")
    c = merged.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(Window.partitionBy(*keys))
    )
    edge = F.when(
        F.col("bin") < bins, F.lit(lo) + (F.col("bin") + 1) * F.lit(width)
    )
    aggs = [F.max("total").alias("n_valued")]
    for q in qs:
        thresh = F.expr(f"(total * {int(q)} + 99) div 100")
        aggs.append(
            F.min(F.when(F.col("cum") >= thresh, edge)).alias(f"p{int(q)}")
        )
    return c.groupBy(*keys).agg(*aggs)
