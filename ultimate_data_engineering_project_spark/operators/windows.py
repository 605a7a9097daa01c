"""Window-function operators (SURVEY.md §2.5): SCD2, dedup-keep-latest,
running ledger, rolling trends, sessionization, as-of join.

None of these exist as code in the reference — they are the declared
transformation contract (polished_transactions.py:506-513: SCD Type 2,
dedup, late-fact reconciliation) plus the procedural balance fold
(oltp_seeder.py:450-470) recast declaratively.  All are single-shuffle
window plans: partition by the entity key, order by event time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def dedup_keep_latest(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
) -> DataFrame:
    """Keep the latest row per key (W2 — 'deduplicate customers',
    polished_transactions.py:507).  ``order_by`` columns are sorted
    descending with a deterministic tiebreak expected from the caller.
    One shuffle on ``keys``."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2(
    df: DataFrame,
    key: str,
    change_ts: str,
    far_future: str = "2200-01-01 00:00:00",
) -> DataFrame:
    """Build SCD Type 2 version intervals from a change log (W1 — the
    reference promises SCD2 for customer phone/address churn,
    polished_transactions.py:152-196,510).

    Adds ``effective_from`` / ``effective_to`` / ``is_current``; the
    current version's effective_to is a far-future sentinel so as-of
    joins are a simple BETWEEN.  The default sentinel stays within
    pandas' nanosecond timestamp range (max 2262-04-11) so Arrow
    conversion of the result never overflows.
    """
    w = Window.partitionBy(key).orderBy(change_ts)
    return (
        df.withColumn("effective_from", F.col(change_ts))
        .withColumn(
            "effective_to",
            F.coalesce(
                F.lead(change_ts).over(w),
                F.lit(far_future).cast("timestamp_ntz"),
            ),
        )
        .withColumn("is_current", F.lead(change_ts).over(w).isNull())
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    *,
    strict: bool = False,
) -> DataFrame:
    """As-of join: each left row gets the latest right row with
    ``right.ts <= left.ts`` (or ``<`` when strict) per key (J9 —
    late-arriving-fact reconciliation against the dimension version
    valid at event time, polished_transactions.py:512).

    Implemented as union + window ``last(ignorenulls)`` instead of a
    range join: one shuffle on ``on``, no row explosion, no O(n*m)
    candidate pairs — the formulation that survives 100 TB facts.
    """
    lcols = left.columns
    # side marker orders rows at equal timestamps: right-before-left for
    # non-strict (right row at ts == left ts is visible), left-first for
    # strict.
    right_side = 0 if not strict else 1
    left_side = 1 - right_side

    r = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__ts"),
        F.lit(right_side).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
        *[F.lit(None).alias(f"__l_{c}") for c in lcols],
    )
    l = left.select(
        *[F.col(c) for c in on],
        F.col(left_ts).alias("__ts"),
        F.lit(left_side).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_cols],
        *[F.col(c).alias(f"__l_{c}") for c in lcols],
    )
    w = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    unioned = r.unionByName(l)
    filled = unioned.select(
        *on,
        "__ts",
        "__side",
        *[F.col(f"__l_{c}") for c in lcols],
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__rf_{c}")
            for c in right_cols
        ],
    )
    is_left = F.col("__side") == left_side
    return filled.filter(is_left).select(
        *[F.col(f"__l_{c}").alias(c) for c in lcols if c not in on],
        *[F.col(c) for c in on],
        *[F.col(f"__rf_{c}").alias(f"{c}_asof") for c in right_cols],
    )


def running_sum(
    df: DataFrame,
    partition_keys: list[str],
    order_by: list[str],
    value: Column,
    alias: str = "running_sum",
) -> DataFrame:
    """Running total per entity (X7 — the ledger: the reference mutates
    balances row-by-row with UPDATEs, oltp_seeder.py:483-487; here it is
    one window over (key, time))."""
    w = (
        Window.partitionBy(*partition_keys)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(alias, F.sum(value).over(w))


def running_sum_chunked(
    df: DataFrame,
    partition_keys: list[str],
    order_by: list[str],
    value: Column,
    ts: str,
    *,
    alias: str = "running_sum",
    chunk_seconds: int = 7 * 86_400,
) -> DataFrame:
    """Skew-safe chunked-prefix-sum running total — bit-identical to
    :func:`running_sum` for exact types (DECIMAL / integer), but no
    window partition ever holds more than one key's rows for one time
    chunk.

    `running_sum` partitions by the entity key: one account holding
    10% of a 100 TB transaction table puts 10% of all rows into ONE
    task (Spark cannot split a window partition — the skew neither
    salting nor AQE can fix).  Same escalation as
    :func:`sessionize_chunked`, and strictly simpler — addition is
    associative, so there is no boundary-merge rule at all:

    1. within each (key, time-chunk): the ordered running sum,
       yielding chunk-local prefix sums.  The hot key's rows spread
       over its chunks.
    2. per (key, chunk) SUMMARY (one row per PRESENT chunk — bounded
       by min(rows, keys x chunks), independent of row skew): a
       running sum of per-chunk totals over PRIOR chunks is the
       chunk's offset; ``running = offset(chunk) + local_prefix``.

    Preconditions, enforced loudly:
      * ``ts`` must be the LEADING order column — the chunk id is a
        monotone function of it, so within-chunk order restricted to
        the chunk equals the global order (integer ``div`` truncates
        toward zero, which is still monotone for pre-epoch
        timestamps; equal timestamps always share a chunk, so
        tiebreak columns never straddle a boundary).
      * exactness holds for DECIMAL and integer values (decimal
        arithmetic is exact up to the widened precision, which the
        offset-side cast keeps loss-free); DOUBLE values regroup the
        fp additions and are only equal up to ulps — pass an exact
        type when bit-equality matters (the ledger and the catalog
        entries accumulate in DECIMAL per the hash-match
        conventions).

    Cost vs the plain window: one extra map-side-combined groupBy on
    the (key, chunk) partitioning the phase-1 window already
    established (no extra wide shuffle), one tiny summary window, and
    a (key, chunk) join back.  ``chunk_seconds`` trades summary
    cardinality against residual within-chunk skew — pick it so one
    key's rows per chunk fit a task."""
    return _prefix_sums_chunked(
        df, partition_keys, order_by, {alias: value}, ts,
        chunk_seconds=chunk_seconds,
    )


def _prefix_sums_chunked(
    df: DataFrame,
    partition_keys: list[str],
    order_by: list[str],
    values: dict[str, "Column"],
    ts: str,
    *,
    chunk_seconds: int,
) -> DataFrame:
    """Shared chunked-prefix-sum core: append one EXACT running total
    per named value, all computed in a single (key, chunk) window pass
    + one chunk-total summary + one (key, chunk) join — see
    :func:`running_sum_chunked` for the algebra and preconditions.
    Multi-value so callers needing several prefix sums over the same
    ordering (the rolling-window recomposition needs count + sum +
    sum-of-squares) pay the shuffle once, not per value."""
    from pyspark.sql import types as T

    if not order_by or order_by[0] != ts:
        raise ValueError(
            f"ts ({ts!r}) must be the leading order column (got "
            f"{order_by!r}): the chunk id is derived from ts, so any "
            "earlier-ordering column could straddle a chunk boundary "
            "and break the prefix recomposition"
        )
    # loud collision guard (same contract as rolling_sums_chunked):
    # withColumn silently overwrites, so an output alias or a temp
    # name shadowing an input column would corrupt results quietly
    reserved = {"__chunk"}
    for name in values:
        reserved.update({name, f"__ls_{name}", f"__tot_{name}", f"__off_{name}"})
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(
            f"output/temp column names collide with input columns: {clash}"
        )

    def target_for(value: Column) -> T.DataType:
        vt = df.select(value.alias("__v")).schema[0].dataType
        if isinstance(vt, T.DecimalType):
            return T.DecimalType(min(38, vt.precision + 10), vt.scale)
        if isinstance(vt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return T.LongType()
        return vt

    targets = {name: target_for(v) for name, v in values.items()}
    chunk_us = chunk_seconds * 1_000_000
    d = df.withColumn(
        "__chunk", F.expr(f"unix_micros(cast({ts} as timestamp)) div {chunk_us}")
    )
    wloc = (
        Window.partitionBy(*partition_keys, "__chunk")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = d
    for name, v in values.items():
        local = local.withColumn(f"__ls_{name}", F.sum(v).over(wloc))
    summ = local.groupBy(*partition_keys, "__chunk").agg(
        *[F.sum(v).alias(f"__tot_{name}") for name, v in values.items()]
    )
    wc = Window.partitionBy(*partition_keys).orderBy("__chunk")
    # cast each offset to the plain window's sum dtype BEFORE the add:
    # summing the chunk totals widens precision again (p+20), and a
    # decimal add at that width would trigger Spark's precision-loss
    # scale reduction; the true offset always fits the plain dtype, so
    # this cast is exact and the add stays loss-free.
    for name in values:
        summ = summ.withColumn(
            f"__off_{name}",
            F.coalesce(
                F.sum(f"__tot_{name}").over(
                    wc.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast(targets[name]),
        )
    out = local.join(
        summ.select(
            *partition_keys, "__chunk", *[f"__off_{n}" for n in values]
        ),
        [*partition_keys, "__chunk"],
    )
    for name in values:
        out = out.withColumn(
            name,
            (
                F.col(f"__off_{name}") + F.col(f"__ls_{name}").cast(targets[name])
            ).cast(targets[name]),
        )
    return out.select(*df.columns, *values.keys())


def _check_rolling_args(
    df: DataFrame, values: dict[str, "Column"], preceding: int, n_alias: str
) -> None:
    """The argument contract both rolling-sum forms share: a non-negative
    frame and output names that do not shadow an input column (withColumn
    would overwrite it silently)."""
    if preceding < 0:
        raise ValueError(f"preceding must be >= 0, got {preceding}")
    clash = [n for n in [n_alias, *values] if n in df.columns]
    if clash:
        raise ValueError(
            f"output column names collide with input columns: {clash}"
        )


def rolling_sums_chunked(
    df: DataFrame,
    partition_keys: list[str],
    order_by: list[str],
    values: dict[str, "Column"],
    ts: str,
    *,
    preceding: int,
    chunk_seconds: int = 7 * 86_400,
    n_alias: str = "win_n",
) -> DataFrame:
    """Skew-safe ROWS-bounded rolling sums — bit-identical (exact
    types) to ``F.sum(v).over(partitionBy(keys).orderBy(...)
    .rowsBetween(-preceding, 0))``, but NO window partition ever holds
    one key's full history.

    A plain rolling window has the worst hot-key shape of all: a
    low-cardinality key (five event types over a 100 TB stream) makes
    a handful of unsplittable sort-tasks carry the whole table, and no
    salting, AQE, or chunk-halo trick splits a window partition.  The
    recomposition here is prefix-sum algebra instead: a rolling sum
    over the trailing W rows is the DIFFERENCE of two running totals,

        rolling(v)[i] = S_v(i) - S_v(i - W),

    and running totals are exactly what :func:`running_sum_chunked`
    already computes skew-safely.  Concretely:

    1. one chunked pass appends a per-key ROW NUMBER (the prefix sum
       of 1) and the prefix sum of every requested value;
    2. each row fetches the prefix row W = ``preceding + 1`` positions
       earlier by a plain EQUI-join on ``(keys, rn - W)`` — splittable
       by construction (row numbers are unique per key, so it is a
       1:<=1 join keyed across the whole key x position space);
    3. ``rolling = prefix - coalesce(prev_prefix, 0)`` and the
       in-frame row count is ``least(rn, W)`` — both exact integer /
       decimal arithmetic, so the recomposition is provably equal to
       the single-window form (and pinned against it by tests and a
       shared catalog oracle).

    Cost vs the plain window: the self equi-join ships the table once
    more through a splittable exchange — the price of removing the
    unsplittable sort.  Appends one column per ``values`` name (the
    rolling sum over ROWS [-preceding, 0]) plus ``n_alias`` (rows in
    frame).  DOUBLE values regroup fp addition and are only equal up
    to ulps — pass exact types when bit-equality matters."""
    _check_rolling_args(df, values, preceding, n_alias)
    w = preceding + 1
    pref = _prefix_sums_chunked(
        df,
        partition_keys,
        order_by,
        {"__rn": F.lit(1).cast("long"), **{f"__S_{n}": v for n, v in values.items()}},
        ts,
        chunk_seconds=chunk_seconds,
    )
    # pref feeds BOTH sides of the self-join below.  If order_by is not
    # a total order per key, Spark may break ties differently in the
    # two lazy re-evaluations, assigning a row a different __rn on each
    # side and silently mispairing a prefix with the wrong lagged
    # prefix.  Eager localCheckpoint pins ONE materialization that both
    # sides read (same discipline as _blocked_candidate_pairs in
    # dedup.py before its self-join).
    pref = pref.localCheckpoint(eager=True)
    lagged = pref.select(
        *partition_keys,
        F.col("__rn").alias("__rn_lag"),
        *[F.col(f"__S_{n}").alias(f"__P_{n}") for n in values],
    )
    joined = pref.withColumn("__rn_lag", F.col("__rn") - F.lit(w)).join(
        lagged, [*partition_keys, "__rn_lag"], "left"
    )
    prefix_types = dict(pref.dtypes)
    for n in values:
        # the difference widens decimal precision by 1; cast back to
        # the prefix dtype (== the plain rolling window's sum dtype) —
        # exact, the true rolling sum always fits it
        joined = joined.withColumn(
            n,
            (
                F.col(f"__S_{n}") - F.coalesce(F.col(f"__P_{n}"), F.lit(0))
            ).cast(prefix_types[f"__S_{n}"]),
        )
    joined = joined.withColumn(
        n_alias, F.least(F.col("__rn"), F.lit(w).cast("long"))
    )
    return joined.select(*df.columns, *values.keys(), n_alias)


def rolling_sums_plain(
    df: DataFrame,
    partition_keys: list[str],
    order_by: list[str],
    values: dict[str, "Column"],
    *,
    preceding: int,
    n_alias: str = "win_n",
) -> DataFrame:
    """The single-window twin of :func:`rolling_sums_chunked` — same
    output columns (one rolling sum per ``values`` name over ROWS
    [-preceding, 0], plus ``n_alias``), computed by the plain
    partition-by-key window.  Exists so the skew-aware dispatcher has
    a plain branch with an IDENTICAL schema contract."""
    _check_rolling_args(df, values, preceding, n_alias)
    win = (
        Window.partitionBy(*partition_keys)
        .orderBy(*order_by)
        .rowsBetween(-preceding, 0)
    )
    out = df
    for name, v in values.items():
        out = out.withColumn(name, F.sum(v).over(win))
    out = out.withColumn(n_alias, F.count(F.lit(1)).over(win))
    return out.select(*df.columns, *values.keys(), n_alias)


def rolling_sums_auto(
    df: DataFrame,
    partition_keys: list[str],
    order_by: list[str],
    values: dict[str, "Column"],
    ts: str,
    *,
    preceding: int,
    chunk_seconds: int = 7 * 86_400,
    n_alias: str = "win_n",
    decision: dict | None = None,
) -> DataFrame:
    """Skew-aware ROWS-bounded rolling sums: same probe and rule as
    :func:`running_sum_auto`, choosing :func:`rolling_sums_plain` or
    :func:`rolling_sums_chunked`.  The rolling shape is the one whose
    hot key is usually INHERENT, not accidental: a low-cardinality
    partition key (five event types over a 100 TB stream) puts a
    constant fraction of the table into each unsplittable sort task at
    EVERY scale, so the share criterion fires as soon as the data is
    big enough to matter — the regime the sf10 sweep measured (plain
    11.9x decade and 3x slower absolute vs the chunked recomposition).
    Both branches produce the identical schema and hash-check against
    the SAME oracle.  Pass ``decision={}`` to observe the choice."""
    if _window_form(df, partition_keys, decision) == "chunked":
        return rolling_sums_chunked(
            df, partition_keys, order_by, values, ts,
            preceding=preceding, chunk_seconds=chunk_seconds,
            n_alias=n_alias,
        )
    return rolling_sums_plain(
        df, partition_keys, order_by, values,
        preceding=preceding, n_alias=n_alias,
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """Assign gap-based session ids per key: a new session starts when
    the time since the previous event exceeds ``gap_seconds``.

    lag -> boundary flag -> running sum; single shuffle on ``key``.
    The batch twin of Structured Streaming's ``session_window`` (T4).
    """
    order = [ts] + ([tiebreak] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev_ts = F.lag(ts).over(w)
    # interval comparison, not unix_timestamp: works for TIMESTAMP_NTZ
    # and is timezone-independent.
    new_session = (
        prev_ts.isNull()
        | ((F.col(ts) - prev_ts) > F.expr(f"INTERVAL {gap_seconds} SECONDS"))
    ).cast("int")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("session_id", F.sum(new_session).over(wrun))


def sessionize_chunked(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    *,
    chunk_seconds: int = 86_400,
    tiebreak: str | None = None,
) -> DataFrame:
    """Skew-safe two-phase sessionizer — bit-identical output to
    :func:`sessionize` (same ``session_id`` numbering), but no window
    partition ever holds more than one key's events for one time
    chunk.

    `sessionize`'s single window partitions by ``key``: a hot key
    holding 10% of a 100 TB table puts 10% of all rows into ONE task
    (Spark cannot split a window partition — the skew no salting or
    AQE can fix).  This escalation partitions phase 1 by
    ``(key, time-chunk)`` instead:

    1. within each (key, chunk): the same lag → boundary flag →
       running sum, yielding chunk-local session ids 1..n.  The hot
       key's rows spread over its chunks.
    2. per (key, chunk) SUMMARY (one row per present chunk — bounded
       by time-range/chunk, independent of row skew): a boundary
       session merges across adjacent chunks iff
       ``first_ts(next) - last_ts(prev) <= gap`` (the same STRICT gap
       boundary as sessionize), and a running sum of per-chunk session
       starts renumbers globally:
       ``session_id = offset(chunk) + local_id - merged(chunk)``.

    Correctness hinges on ``chunk_seconds >= gap_seconds``: two events
    within the gap then land in the same or ADJACENT chunks, so only
    adjacent-chunk merges exist (enforced loudly).  Chunk width trades
    the summary's cardinality against residual within-chunk skew —
    pick it so one key's rows per chunk fit a task.

    Cost: one extra shuffle of the chunk-level summary (tiny) and a
    (key, chunk) join back — the equality with `sessionize` is pinned
    by tests on uniform AND hot-key data, and the catalog entry
    `sessionize_events_salted` hash-checks it against the SAME DuckDB
    oracle as the plain entry."""
    if chunk_seconds < gap_seconds:
        raise ValueError(
            f"chunk_seconds ({chunk_seconds}) must be >= gap_seconds "
            f"({gap_seconds}): a session could otherwise span "
            "non-adjacent chunks and the boundary merge would miss it"
        )
    chunk_us = chunk_seconds * 1_000_000
    gap_ivl = F.expr(f"INTERVAL {gap_seconds} SECONDS")
    d = df.withColumn(
        "__chunk", F.expr(f"unix_micros(cast({ts} as timestamp)) div {chunk_us}")
    )
    order = [ts] + ([tiebreak] if tiebreak else [])
    w = Window.partitionBy(key, "__chunk").orderBy(*order)
    new_session = (
        F.lag(ts).over(w).isNull() | ((F.col(ts) - F.lag(ts).over(w)) > gap_ivl)
    ).cast("int")
    local = d.withColumn(
        "__ls",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    summ = local.groupBy(key, "__chunk").agg(
        F.min(ts).alias("__first"),
        F.max(ts).alias("__last"),
        F.max("__ls").alias("__n"),
    )
    wc = Window.partitionBy(key).orderBy("__chunk")
    merged = (
        F.lag("__last").over(wc).isNotNull()
        & ((F.col("__first") - F.lag("__last").over(wc)) <= gap_ivl)
    ).cast("long")
    summ = summ.withColumn("__merged", merged).withColumn(
        "__offset",
        F.coalesce(
            F.sum(F.col("__n") - F.col("__merged")).over(
                wc.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ),
    )
    return (
        local.join(
            summ.select(key, "__chunk", "__offset", "__merged"),
            [key, "__chunk"],
        )
        .withColumn(
            "session_id", F.col("__offset") + F.col("__ls") - F.col("__merged")
        )
        .drop("__chunk", "__ls", "__offset", "__merged")
    )


# Window-form thresholds (see decide_window_form).
TASK_ROWS_CAP = 2_000_000
SHARE_CAP = 0.05
MIN_ROWS = 50_000

# session-scoped key-histogram cache (the role a real engine's catalog
# statistics play): keyed by the SEMANTIC hash of the pruned
# (keys-only) plan, so repeated dispatches over the same input — a
# dashboard re-run, a bench best-of-N, a backfill loop — pay the probe
# once.  A hash collision or stale entry can only mis-pick the FORM,
# never the answer: both branches are same-oracle-proven, so the cache
# is a pure performance structure.  Bounded FIFO.
_KEY_STATS_CACHE: dict[int, dict] = {}
_KEY_STATS_CACHE_MAX = 256


def key_rows_stats(df: DataFrame, partition_keys: list[str]) -> dict:
    """One cheap skew probe: per-key row counts, reduced to the three
    numbers a window-form decision needs (``max_key_rows``,
    ``total_rows``, ``n_keys``).  Map-side combined groupBy on the
    (column-pruned) keys alone — at 100 TB only the key column moves,
    and the exchange carries at most one row per key per task (a few
    percent of the main window query's own full-width sort shuffle).
    On small local data the fixed job-launch cost dominates instead,
    which is what the cache amortizes: a repeat over the same lineage
    runs no job."""
    pruned = df.select(*partition_keys)
    ck = pruned.semanticHash()
    hit = _KEY_STATS_CACHE.get(ck)
    if hit is not None:
        return dict(hit)
    row = (
        pruned.groupBy(*partition_keys)
        .count()
        .agg(
            F.max("count").alias("max_key_rows"),
            F.sum("count").alias("total_rows"),
            F.count(F.lit(1)).alias("n_keys"),
        )
        .first()
    )
    out = {
        "max_key_rows": int(row["max_key_rows"] or 0),
        "total_rows": int(row["total_rows"] or 0),
        "n_keys": int(row["n_keys"] or 0),
    }
    if len(_KEY_STATS_CACHE) >= _KEY_STATS_CACHE_MAX:
        _KEY_STATS_CACHE.pop(next(iter(_KEY_STATS_CACHE)))
    _KEY_STATS_CACHE[ck] = dict(out)
    return out


def decide_window_form(stats: dict) -> str:
    """Pick ``"plain"`` or ``"chunked"`` from a key histogram summary.

    The plain window is 2-4x faster at uniform data (SCALING.md's
    honest trade) but puts one key's ENTIRE history into one
    unsplittable sort task; the chunked recomposition bounds every task
    by construction.  Escalate to chunked when either:

      * the hottest key exceeds ``TASK_ROWS_CAP`` rows — the absolute
        criterion: more rows than one window sort task should hold
        regardless of what fraction of the table they are; or
      * the hottest key owns more than ``SHARE_CAP`` of the table (and
        the table is at least ``MIN_ROWS`` — toy frames never need the
        escalation): a key holding 5% of a 100 TB table serializes 5%
        of the job in one task no matter the cluster size — the
        share criterion is scale-free, so the decision made on a
        sampled or historical histogram transfers to the full data.
    """
    mx, total = stats["max_key_rows"], stats["total_rows"]
    if mx > TASK_ROWS_CAP:
        return "chunked"
    if total >= MIN_ROWS and mx > SHARE_CAP * total:
        return "chunked"
    return "plain"


def _window_form(df: DataFrame, keys: list[str], decision: dict | None) -> str:
    """The one dispatch step of the four ``*_auto`` forms: probe the key
    histogram of ``df`` (cached), decide, and record the form and the
    histogram in ``decision`` when the caller passed one."""
    stats = key_rows_stats(df, keys)
    form = decide_window_form(stats)
    if decision is not None:
        decision.update({"form": form, **stats})
    return form


def running_sum_auto(
    df: DataFrame,
    partition_keys: list[str],
    order_by: list[str],
    value: Column,
    ts: str,
    *,
    alias: str = "running_sum",
    chunk_seconds: int = 7 * 86_400,
    decision: dict | None = None,
) -> DataFrame:
    """Skew-aware running total: probe the key histogram and run
    :func:`running_sum` (uniform data — single shuffle, fastest) or
    :func:`running_sum_chunked` (hot key — splittable, same result).
    Both forms hash-check against the SAME oracle, so the dispatch can
    never change the answer — only the plan.  The reference's balance
    loop (oltp_seeder.py:483-487) is exactly the workload where a hot
    account appears mid-stream and a static choice loses one regime.

    Pass ``decision={}`` to observe what was chosen and why."""
    if _window_form(df, partition_keys, decision) == "chunked":
        return running_sum_chunked(
            df, partition_keys, order_by, value, ts,
            alias=alias, chunk_seconds=chunk_seconds,
        )
    return running_sum(df, partition_keys, order_by, value, alias)


def sessionize_auto(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    *,
    chunk_seconds: int = 86_400,
    tiebreak: str | None = None,
    decision: dict | None = None,
) -> DataFrame:
    """Skew-aware sessionizer: same probe and rule as
    :func:`running_sum_auto`, choosing :func:`sessionize` (single
    shuffle) or :func:`sessionize_chunked` (two-phase, skew-safe,
    bit-identical numbering).  Pass ``decision={}`` to observe the
    choice."""
    if _window_form(df, [key], decision) == "chunked":
        return sessionize_chunked(
            df, key, ts, gap_seconds,
            chunk_seconds=chunk_seconds, tiebreak=tiebreak,
        )
    return sessionize(df, key, ts, gap_seconds, tiebreak)


def ledger_running_balance(
    transactions: DataFrame,
    *,
    clamped: bool = False,
) -> DataFrame:
    """Fakestream ledger (X7): signed running balance per account.

    Semantics (FIXTURES.md Family B invariant): only status='completed'
    rows move money; Deposit/Refund add, Withdrawal/Payment subtract;
    Transfer subtracts from account_id and adds to related_account_id.
    Transfers are routed to both sides with a union, then one window.

    ``clamped=True`` applies max(running, 0) — a post-hoc floor, NOT
    the reference's step-wise clamp (each step's base already clamped,
    oltp_seeder.py:462,465).  The true sequential semantics live in
    :func:`ledger_running_balance_clamped` (ordered per-account fold in
    applyInPandas); polished_transactions.py:408-417 is the unclamped
    mode this window computes exactly.
    """
    legs = _ledger_legs(transactions)
    # leg breaks the (date, id) tie when a Transfer's two legs hit the
    # SAME account (related_account_id == account_id): without it the
    # running sum's intermediate rows are order-ambiguous.
    w = (
        Window.partitionBy("account_id")
        .orderBy("transaction_date", "transaction_id", "leg")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = legs.withColumn("balance", F.sum("delta").over(w))
    if clamped:
        out = out.withColumn("balance", F.greatest(F.lit(0).cast("decimal(15,2)"), F.col("balance")))
    return out


def ledger_running_balance_chunked(
    transactions: DataFrame,
    *,
    clamped: bool = False,
    chunk_seconds: int = 7 * 86_400,
) -> DataFrame:
    """Skew-safe ledger: :func:`ledger_running_balance` recomposed
    through :func:`running_sum_chunked` — bit-identical balances
    (DECIMAL prefix sums are exact under regrouping), but one hot
    account holding 10% of a 100 TB transaction table spreads over its
    time chunks instead of landing in one unsplittable window task.

    Strictly simpler than the sessionizer's escalation: addition is
    associative, so the per-(account, chunk) summary needs no
    gap-merge rule — the chunk offset is a plain running sum of chunk
    totals.  ``clamped=True`` applies the same POST-HOC floor as the
    plain form (NOT the reference's step-wise clamp,
    oltp_seeder.py:462,465 — that recurrence depends on the clamped
    previous value and lives in
    :func:`ledger_running_balance_clamped`, whose per-account fold has
    the same hot-key exposure by nature; a hot account there needs
    this unclamped form or a coarser key)."""
    legs = _ledger_legs(transactions)
    out = running_sum_chunked(
        legs,
        ["account_id"],
        ["transaction_date", "transaction_id", "leg"],
        F.col("delta"),
        "transaction_date",
        alias="balance",
        chunk_seconds=chunk_seconds,
    )
    if clamped:
        out = out.withColumn(
            "balance",
            F.greatest(F.lit(0).cast("decimal(15,2)"), F.col("balance")),
        )
    return out


def ledger_running_balance_auto(
    transactions: DataFrame,
    *,
    clamped: bool = False,
    chunk_seconds: int = 7 * 86_400,
    decision: dict | None = None,
) -> DataFrame:
    """Skew-aware X7 ledger — the dispatcher applied to the
    reference's OWN workload shape (the balance loop,
    oltp_seeder.py:483-487, where a hot account appears mid-stream):
    probe the per-ACCOUNT leg histogram and run
    :func:`ledger_running_balance` (single window) or
    :func:`ledger_running_balance_chunked` (splittable).  The probe
    runs over the signed LEGS (a Transfer contributes a row to BOTH
    accounts — the histogram that actually feeds the window), and both
    branches hash-check against the same oracle.  Pass
    ``decision={}`` to observe the choice."""
    legs = _ledger_legs(transactions)
    if _window_form(legs, ["account_id"], decision) == "chunked":
        return ledger_running_balance_chunked(
            transactions, clamped=clamped, chunk_seconds=chunk_seconds
        )
    return ledger_running_balance(transactions, clamped=clamped)


def _ledger_legs(transactions: DataFrame) -> DataFrame:
    """Signed ledger legs shared by both balance modes: completed rows
    only; Transfer emits a debit leg (leg=0) on account_id and a credit
    leg (leg=1) on related_account_id.  ``leg`` is the deterministic
    tiebreak when both legs land on the same (account, date, id)."""
    t = transactions.filter(F.col("status") == "completed")
    sign = (
        F.when(F.col("transaction_type").isin("Deposit", "Refund"), F.col("amount"))
        .when(
            F.col("transaction_type").isin("Withdrawal", "Payment", "Transfer"),
            -F.col("amount"),
        )
        .otherwise(F.lit(0))
    )
    # ONE pass emits both legs via explode
    # instead of unionByName(outflow, inflow) — the union form scanned
    # the transactions source twice (once per branch; Catalyst performs
    # no cross-branch scan reuse), doubling the ledger family's input
    # I/O for the same multiset of leg rows.
    out_leg = F.struct(
        F.col("account_id").alias("account_id"),
        F.col("transaction_id").alias("transaction_id"),
        F.col("transaction_date").alias("transaction_date"),
        F.lit(0).alias("leg"),
        sign.alias("delta"),
    )
    in_leg = F.struct(
        F.col("related_account_id").alias("account_id"),
        F.col("transaction_id").alias("transaction_id"),
        F.col("transaction_date").alias("transaction_date"),
        F.lit(1).alias("leg"),
        F.col("amount").alias("delta"),
    )
    emits_credit = (
        F.col("transaction_type") == "Transfer"
    ) & F.col("related_account_id").isNotNull()
    return t.select(
        F.explode(
            F.when(emits_credit, F.array(out_leg, in_leg)).otherwise(
                F.array(out_leg)
            )
        ).alias("__leg")
    ).select("__leg.*")


def ledger_running_balance_clamped(transactions: DataFrame) -> DataFrame:
    """The reference's step-wise clamped ledger (oltp_seeder.py:462,465:
    ``balance = max(0, balance + delta)`` at EVERY step).

    The recurrence depends on the clamped previous value, so no window
    expresses it; this is the documented applyInPandas case (§2.11):
    legs are built JVM-side, each account's ordered fold runs in numpy
    batches, one shuffle on account_id — identical partitioning to the
    window version.
    """
    import pandas as pd

    from pyspark.sql import types as T

    legs = _ledger_legs(transactions).select(
        "account_id",
        "transaction_id",
        "transaction_date",
        F.col("leg").cast("int").alias("leg"),
        F.col("delta").cast("double").alias("delta"),
    )
    schema = T.StructType(
        [
            T.StructField("account_id", T.LongType()),
            T.StructField("transaction_id", T.LongType()),
            T.StructField("transaction_date", T.TimestampNTZType()),
            T.StructField("leg", T.IntegerType()),
            T.StructField("delta", T.DoubleType()),
            T.StructField("balance", T.DoubleType()),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["transaction_date", "transaction_id", "leg"]
        ).reset_index(drop=True)
        bal = 0.0
        out = []
        for d in pdf["delta"]:
            bal = max(0.0, bal + d)
            out.append(bal)
        pdf["balance"] = out
        return pdf

    return legs.groupBy("account_id").applyInPandas(fold, schema=schema)
