"""Relational operators: filters, joins, set ops (SURVEY.md §2.2-2.3, §2.7).

The reference expresses every join as an ``IN (subquery)`` handed to
Postgres (e.g. polished_transactions.py:475-481) or walks FKs
procedurally in Python (database_seeder.py:136-140).  Here they are
first-class distributed joins; small dimension sides are broadcast so
fact-side data never shuffles for them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ultimate_data_engineering_project_spark import tuning


def semi_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """Rows of ``left`` with a match in ``right`` (J1/J2 — the
    reference's ``IN (SELECT ...)``, polished_transactions.py:475-481).
    Catalyst plans a broadcast left-semi when ``right`` is small."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    """Rows of ``left`` with NO match in ``right`` (J7 — orphaned-record
    detection, the reference's declared referential-integrity check,
    oltp_seeder.py:50)."""
    return left.join(right, on=on, how="left_anti")


def fk_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """FK equi-join with the dimension side broadcast (J3).  At 100 TB
    the fact side must not shuffle for a kB-scale dimension."""
    if broadcast_dim:
        dim = F.broadcast(dim)
    return fact.join(dim, on=on, how=how)


def self_pairs(
    df: DataFrame,
    partition_keys: list[str],
    id_col: str,
    extra_pred: Column | None = None,
) -> DataFrame:
    """Unordered distinct pairs within a group: self equi-join on
    ``partition_keys`` with ``left.id < right.id`` (J5 — the shape of
    the circular-transfer fraud pairing, polished_transactions.py:364-375).

    Equi-join on the partition keys keeps this a hash join (never a
    cartesian); the inequality is applied post-join.
    """
    a = df.alias("a")
    b = df.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in partition_keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    if extra_pred is not None:
        cond = cond & extra_pred
    return a.join(b, on=cond, how="inner")


def fuzzy_vocab_pairs(
    df: DataFrame,
    name_col: str,
    block_expr: Column,
    max_distance: int = 2,
) -> DataFrame:
    """Distinct-first fuzzy dedup: blocked Levenshtein over the DISTINCT
    value vocabulary, with per-value occurrence counts (J6 at scale).

    Row-level fuzzy self-joins amplify duplicated strings
    quadratically: k copies of a value pair with k copies of a near
    neighbour → k² output rows that all encode ONE string-level fact.
    On a column whose vocabulary grows sublinearly with the table (the
    normal case for names/categories — this repo's `part.p_name` has 64
    distinct values at every SF), the scale-correct plan is:

      1. ``GROUP BY value`` → (value, n_rows) — a tiny vocabulary frame
         (map-side partial agg, narrow shuffle on the value);
      2. blocked thresholded Levenshtein over the vocabulary — the
         quadratic step now runs on |vocab|, not |table|;
      3. if row-level assignment is needed, broadcast the pair map back
         onto the fact table (a broadcast equi-join, no extra shuffle).

    Output: one row per unordered near-duplicate VALUE pair —
    (name_a, name_b, distance, n_a, n_b) — constant-size where the
    row-level formulation grows O(table²).
    """
    vocab = df.groupBy(name_col).agg(F.count(F.lit(1)).alias("__n"))
    vocab = vocab.select(
        F.col(name_col).alias("__name"),
        F.col("__n"),
        block_expr.alias("__block"),
        F.length(F.col(name_col)).alias("__len"),
    )
    # r15 (guide §2.4): scale-gated pin of the vocabulary frame —
    # both self-join sides otherwise re-run the full-table distinct
    # aggregate (no cross-branch subtree reuse), i.e. two table-wide
    # shuffles for one vocabulary.  Worth materializing only when the
    # table is large (tuning.pin): the r14 unconditional eager
    # checkpoint cost more than the duplicated aggregate at sf0.1
    # (driver: 0.29s -> 0.46s).
    vocab = tuning.pin(vocab)
    a = vocab.alias("a")
    b = vocab.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.__block") == F.col("b.__block"),
                F.col("a.__name") < F.col("b.__name"),
                F.abs(F.col("a.__len") - F.col("b.__len"))
                <= F.lit(max_distance),
            ],
        )
        .withColumn(
            "distance",
            F.levenshtein(F.col("a.__name"), F.col("b.__name"), max_distance),
        )
        .filter(F.col("distance") >= 0)
        .select(
            F.col("a.__name").alias("name_a"),
            F.col("b.__name").alias("name_b"),
            F.col("distance").cast("long").alias("distance"),
            F.col("a.__n").alias("n_a"),
            F.col("b.__n").alias("n_b"),
        )
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    *,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to heavy key skew: the skewed (fact) side gets
    a random salt in [0, salt_buckets); the other side is replicated
    once per salt value; the join runs on (key, salt).

    A hot key that would land its entire volume in one shuffle partition
    is spread over ``salt_buckets`` partitions instead — the manual
    fallback when AQE's skew-join splitting can't apply (e.g. the
    skewed side feeds an aggregation that must co-group, or a
    stream-static join where AQE doesn't re-plan).  Cost: the other
    side shuffles ``salt_buckets``× — use only when that side is small
    relative to the hot key's volume.

    The reference's hot keys are high-activity accounts (its per-account
    transaction loop, oltp_seeder.py:369-379, concentrates volume on
    active accounts); results are identical to a plain join.

    Only join types where unmatched replicated-side rows cannot leak
    into the output are allowed: right/full outer joins would emit each
    unmatched ``other`` row once per salt bucket.
    """
    allowed = {"inner", "left", "left_outer", "left_semi", "left_anti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}; got {how!r} — a "
            "right/full join would duplicate unmatched replicated rows "
            "once per salt bucket"
        )
    salted_fact = skewed.withColumn(
        "__salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    exploded_other = other.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<int>")),
    )
    return salted_fact.join(exploded_other, on=[on, "__salt"], how=how).drop("__salt")


def bin_range_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width: int,
    extra_on: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval range join WITHOUT an equi key, as a bin-bucketed
    equi-join (the prompt-level "range join" custom operator; complements
    plans/advanced_queries.interval_join_purchase_clicks, whose equi half
    (user_id) already keys the shuffle).

    With no equi column at all, Spark plans an inequality-only join as
    BroadcastNestedLoopJoin — O(|points| x |intervals|) compared rows, a
    100 TB non-starter.  Binning restores an equi key: every point lands
    in exactly one ``bin_width``-sized bucket of its numeric domain, every
    interval is exploded to the buckets it touches, the join runs
    hash-partitioned on the bucket id, and the exact predicate
    ``start <= point < end`` filters inside the match.

    Duplicate-free BY CONSTRUCTION: a point has exactly one bin and an
    interval covers a given bin at most once, so each qualifying
    (point, interval) pair meets in exactly one bucket — no
    ``dropDuplicates`` pass (interval-interval overlap joins would need
    one; this operator is deliberately the point-in-interval case).

    ``point_col``/``start_col``/``end_col`` must be integral (e.g.
    epoch micros via ``unix_micros``) so bucket ids are exact — float
    bucketing would disagree across engines at bin boundaries.  Interval
    replication cost is ceil(len/bin_width)+1 rows; pick ``bin_width``
    near the typical interval length so intervals land in 1-2 buckets.
    Skewed buckets (rush-hour points) are ordinary equi-join skew: AQE
    skew splitting or salted_join applies unchanged.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bin_range_join supports inner/left_semi; got {how!r} — outer "
            "forms would need a dedup-bearing formulation"
        )
    extra_on = list(extra_on or [])
    pt = points.withColumn(
        "__bin", F.floor(F.col(point_col) / F.lit(bin_width)).cast("long")
    )
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(bin_width)).cast("long"),
                # end is exclusive, but a point in the end-boundary bin can
                # still precede it; ceil-to-bin via floor(end/w) keeps the
                # last touched bucket
                F.floor(F.col(end_col) / F.lit(bin_width)).cast("long"),
            )
        ),
    )
    if how == "left_semi":
        # a TRUE semi join: each left row survives at most once no
        # matter how many windows (or window-bins) it hits, and
        # fully-duplicate left rows are preserved — standard left_semi
        # semantics (a post-join dropDuplicates would collapse them)
        a, b = pt.alias("p"), iv.alias("i")
        cond = (
            (F.col("p.__bin") == F.col("i.__bin"))
            & (F.col(f"i.{start_col}") <= F.col(f"p.{point_col}"))
            & (F.col(f"p.{point_col}") < F.col(f"i.{end_col}"))
        )
        for c in extra_on:
            cond = cond & (F.col(f"p.{c}") == F.col(f"i.{c}"))
        return a.join(b, on=cond, how="left_semi").drop("__bin")
    joined = pt.join(iv, on=["__bin", *extra_on], how="inner").filter(
        (F.col(start_col) <= F.col(point_col)) & (F.col(point_col) < F.col(end_col))
    )
    return joined.drop("__bin")


def union_distinct(*dfs: DataFrame) -> DataFrame:
    """ANSI UNION (distinct) across homogeneous frames (§2.7)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out.distinct()


def except_distinct(left: DataFrame, right: DataFrame) -> DataFrame:
    """ANSI EXCEPT (distinct) — ``subtract`` IS the built-in
    EXCEPT DISTINCT operator (the ``distinct().exceptAll(distinct())``
    spelling adds two aggregations the operator doesn't need)."""
    return left.subtract(right)


def intersect_distinct(left: DataFrame, right: DataFrame) -> DataFrame:
    """ANSI INTERSECT (distinct)."""
    return left.intersect(right)
