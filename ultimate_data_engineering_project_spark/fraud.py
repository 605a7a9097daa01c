"""Fraud-detection rules (SURVEY.md J5/W4/X7): circular transfers and
ledger anomaly checks.

The reference *generates* circular transfers (polished_transactions.py:
364-375: ``recent_transfers[from]=to`` then a same-day B→A echo) and
*declares* their detection (:511).  The declarative detection is a self
equi-join on the swapped (account, counterparty) key pair plus the day
— a hash join on composite keys, no window state, no cartesian.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ultimate_data_engineering_project_spark.sources import readers


def circular_transfer_pairs(transactions: DataFrame) -> DataFrame:
    """A→B and B→A transfers on the same day (J5).

    Join condition is fully equi (swapped key pair + date): Catalyst
    plans a shuffled hash join keyed on (account, related, day) —
    at 100 TB this scales with transfers per key-day, never n².
    """
    t = transactions.filter(
        (F.col("transaction_type") == "Transfer")
        & F.col("related_account_id").isNotNull()
    ).select(
        "transaction_id",
        "account_id",
        "related_account_id",
        F.to_date("transaction_date").alias("day"),
        "amount",
    )
    a = t.alias("a")
    b = t.alias("b")
    return a.join(
        b,
        on=[
            F.col("a.account_id") == F.col("b.related_account_id"),
            F.col("a.related_account_id") == F.col("b.account_id"),
            F.col("a.day") == F.col("b.day"),
            F.col("a.transaction_id") < F.col("b.transaction_id"),
        ],
    ).select(
        F.col("a.transaction_id").alias("transaction_id_out"),
        F.col("b.transaction_id").alias("transaction_id_back"),
        F.col("a.account_id").alias("account_a"),
        F.col("a.related_account_id").alias("account_b"),
        F.col("a.day").alias("day"),
        F.col("a.amount").alias("amount_out"),
        F.col("b.amount").alias("amount_back"),
    )


def fraud_training_frame(transactions: DataFrame) -> DataFrame:
    """Per-account features + rule-derived label for the Phase-5 fraud
    scorer: integer velocity features (completed-transaction count,
    large-amount count) and ``is_circular`` = 1 when the account
    appears on either side of a same-day circular transfer
    (`circular_transfer_pairs` — the repo's rule-based detector acts as
    the labeling function, the standard weak-supervision bootstrap when
    no hand-labeled fraud exists).

    One aggregate over transactions + one tiny distinct-account join;
    features are exact integers so the downstream closed-form trainer
    is engine-reproducible.

    The account universe is the FULL union of the two populations:
    features come from completed transactions, the label from transfer
    pairs of ANY status (a failed/pending circular attempt is still a
    fraud signal), so an account whose only activity is a non-completed
    circular pair keeps its row with zero-filled features instead of
    being silently dropped by a features-side left join (r8) — the
    docstring's "appears on either side" contract now actually holds."""
    completed = transactions.filter(F.col("status") == "completed")
    feats = completed.groupBy("account_id").agg(
        F.count(F.lit(1)).alias("n_trx"),
        F.sum((F.col("amount") >= 5000).cast("long")).alias("n_big"),
    )
    pairs = circular_transfer_pairs(transactions)
    # r14 (guide §2.4): one explode emits both account columns — the
    # unionByName form re-derived the circular-pair SELF-JOIN subtree
    # once per branch (no cross-branch reuse in Catalyst).
    circ = (
        pairs.select(
            F.explode(
                F.array(F.col("account_a"), F.col("account_b"))
            ).alias("account_id")
        )
        .distinct()
        .withColumn("__circ", F.lit(1).cast("long"))
    )
    return (
        feats.join(circ, "account_id", "full")
        .withColumn("n_trx", F.coalesce(F.col("n_trx"), F.lit(0).cast("long")))
        .withColumn("n_big", F.coalesce(F.col("n_big"), F.lit(0).cast("long")))
        .withColumn("is_circular", F.coalesce(F.col("__circ"), F.lit(0).cast("long")))
        .drop("__circ")
    )


def linear_fraud_scores(transactions: DataFrame) -> DataFrame:
    """Phase-5 fraud-scoring model (the reference DECLARES an ML fraud
    detector beyond its rule set, reference README.md:44-48; this is
    its oracle-checkable analog): a linear-probability model over the
    velocity features, trained in CLOSED FORM from exact integer sums
    so any engine reproduces the coefficients bit-for-bit.

    Training is the 3x3 normal-equation solve for
    y ~ b0 + b1*n_trx + b2*n_big via Cramer's rule: one hash aggregate
    accumulates n, Σx1, Σx2, Σx1², Σx2², Σx1x2, Σy, Σx1y, Σx2y as
    longs (exact — no float accumulation order to diverge), the four
    3x3 determinants are integer arithmetic on those sums, and the only
    float ops are the final IEEE divisions b_j = det_j/det and the
    scoring polynomial — both bit-identical across engines, which is
    what lets DuckDB reproduce the trained model exactly (same trick as
    the `user_value_trends` OLS entry).

    Scale shape: ONE pass over transactions for features, a 1-row
    coefficient frame broadcast back over the feature frame (the
    scalar-subquery pattern — the nested loop's build side is exactly
    one row).  No iteration, no driver-side math, no collect.

    Exactness bound: the nine sums accumulate exactly as int64, then
    every determinant term is formed in DECIMAL(38,0) — ~126 bits, the
    same range as the HUGEINT DuckDB promotes SUM(BIGINT) to — so the
    two engines stay bit-identical while det terms < 10^38 (with
    x ≤ 1e4 that holds to ~2e7 accounts: n·Σx²·Σx² ≈ n³x⁴).  Past the
    bound Spark's decimal overflow yields NULL (non-ANSI), which the
    assert_true guard turns into a LOUD plan-level error instead of
    silently-wrapped coefficients; quantize or cap features upstream
    if a new feature trips it.  A singular normal-equation matrix
    (det = 0: degenerate/constant features) yields NULL coefficients
    on both engines rather than leaning on IEEE div-by-zero."""
    labeled = fraud_training_frame(transactions)
    coef = closed_form_coef(labeled)
    return labeled.crossJoin(F.broadcast(coef)).select(
        "account_id",
        "n_trx",
        "n_big",
        "is_circular",
        F.round(
            F.col("b0")
            + F.col("b1") * F.col("n_trx")
            + F.col("b2") * F.col("n_big"),
            6,
        ).alias("fraud_score"),
    )


def closed_form_coef(labeled: DataFrame) -> DataFrame:
    """The 1-row (b0, b1, b2) coefficient frame of the closed-form
    normal-equation fit over a `fraud_training_frame` output (see
    linear_fraud_scores for the exactness/overflow/singularity
    contract — this is its training half, shared with the
    gradient-refined trainer)."""
    s = labeled.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_trx").alias("s1"),
        F.sum("n_big").alias("s2"),
        F.sum(F.col("n_trx") * F.col("n_trx")).alias("s11"),
        F.sum(F.col("n_big") * F.col("n_big")).alias("s22"),
        F.sum(F.col("n_trx") * F.col("n_big")).alias("s12"),
        F.sum("is_circular").alias("sy"),
        F.sum(F.col("n_trx") * F.col("is_circular")).alias("s1y"),
        F.sum(F.col("n_big") * F.col("is_circular")).alias("s2y"),
    )

    def _d(name: str):
        return F.col(name).cast("decimal(38,0)")

    n, s1, s2 = _d("n"), _d("s1"), _d("s2")
    s11, s22, s12 = _d("s11"), _d("s22"), _d("s12")
    sy, s1y, s2y = _d("sy"), _d("s1y"), _d("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    # assert_true evaluates to NULL when the condition holds (left
    # operand of the AND, so it runs first): a decimal-overflowed
    # (NULL) determinant aborts the job loudly instead of silently
    # producing garbage coefficients; det = 0 yields NULL coefficients.
    overflow_guard = F.assert_true(
        det.isNotNull()
        & det0.isNotNull()
        & det1.isNotNull()
        & det2.isNotNull(),
        F.lit(
            "fraud-model normal-equation determinant overflowed "
            "decimal(38,0); quantize or cap feature magnitudes upstream"
        ),
    )

    def _coef(det_j):
        return F.when(
            overflow_guard.isNull() & (det != 0),
            det_j.cast("double") / det.cast("double"),
        )

    return s.select(
        _coef(det0).alias("b0"),
        _coef(det1).alias("b1"),
        _coef(det2).alias("b2"),
    )


def trained_fraud_scores(transactions: DataFrame, *, steps: int = 4) -> DataFrame:
    """The TRAINED Phase-5 fraud model (reference README.md:47-53
    declares an ML detector; linear_fraud_scores is the closed-form
    probe, this is the iteratively-trained logistic upgrade): a
    logistic regression over the same velocity features, fit by
    ``steps`` NEWTON/IRLS iterations from w = 0 — every step expressed
    in DataFrame algebra (fixed-point, oracle-checkable like PageRank;
    no MLlib, no driver math, no collect).  Plain gradient descent is
    the wrong tool here: the unscaled (1, n_trx, n_big) design is
    ill-conditioned (the intercept must travel to logit(base rate)
    ≈ -3.8 while coupled to mean(n_trx) ≈ 9), so first-order steps
    oscillate for hundreds of iterations; the 3x3 Newton solve lands
    on the MLE in ~4 (verified against an IRLS twin in tests).

    Each step REUSES the closed-form fit's exactness machinery: the
    Hessian Σ p(1-p)·x·xᵀ and gradient Σ (y-p)·x accumulate as
    ROUND(v·1e6) BIGINT per row (order-free exact sums — the repo's
    mergeable-state discipline), the 3x3 solve is Cramer's rule on
    DECIMAL(38,0) integer determinants (micro-scale factors cancel:
    (1e6·H)⁻¹(1e6·g) = H⁻¹g), and the only float ops per step are one
    sigmoid per row and one IEEE division per coefficient, after which
    the update re-quantizes to micro-units (w += ROUND(Δ·1e6) as
    BIGINT).  Engines can diverge only where a value lands within one
    ulp of a rounding boundary (~1e-10/row odds) — the same bound
    every ROUND(x*1e6) oracle twin here carries.  Determinant bound:
    entries ≤ 0.25e6·n·x² keep |det| < 10^38 to ~1e7 accounts with
    x ≤ 1e2; overflow turns into assert_true's loud error (the
    closed-form contract), a singular Hessian into NULL coefficients.

    Scale shape: `labeled` is per-account (bounded),
    localCheckpointed once so the ``steps`` passes don't re-aggregate
    the transaction scan; each step is one broadcast of a 1-row
    coefficient frame + one map + one 9-column exact aggregate.
    Output carries the trained micro-coefficients on every row so the
    MODEL itself is hash-checked, not just the scores."""
    labeled = fraud_training_frame(transactions).localCheckpoint()
    spark = labeled.sparkSession
    w = readers.local_frame(spark, [(0, 0, 0)], "w0 long, w1 long, w2 long")

    def dot():
        return (
            F.col("w0")
            + F.col("w1") * F.col("n_trx")
            + F.col("w2") * F.col("n_big")
        )

    def sigmoid(dot_micro):
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-(dot_micro / F.lit(1e6))))

    def micro(expr):
        return F.round(expr * 1e6).cast("long")

    x = {0: F.lit(1).cast("long"), 1: F.col("n_trx"), 2: F.col("n_big")}
    for _ in range(steps):
        p = sigmoid(dot())
        wd = p * (F.lit(1.0) - p)
        resid = F.col("is_circular") - p
        terms = [
            micro(wd * x[i] * x[j]).alias(f"h{i}{j}")
            for i in range(3)
            for j in range(i, 3)
        ] + [micro(resid * x[i]).alias(f"g{i}") for i in range(3)]
        s = (
            labeled.crossJoin(F.broadcast(w))
            .select("w0", "w1", "w2", *terms)
            .groupBy("w0", "w1", "w2")
            .agg(
                *[
                    F.sum(c).alias(c)
                    for c in ("h00", "h01", "h02", "h11", "h12", "h22",
                              "g0", "g1", "g2")
                ]
            )
        )

        def _d(name):
            return F.col(name).cast("decimal(38,0)")

        h00, h01, h02 = _d("h00"), _d("h01"), _d("h02")
        h11, h12, h22 = _d("h11"), _d("h12"), _d("h22")
        g0, g1, g2 = _d("g0"), _d("g1"), _d("g2")
        det = (
            h00 * (h11 * h22 - h12 * h12)
            - h01 * (h01 * h22 - h12 * h02)
            + h02 * (h01 * h12 - h11 * h02)
        )
        det_k = [
            g0 * (h11 * h22 - h12 * h12)
            - h01 * (g1 * h22 - h12 * g2)
            + h02 * (g1 * h12 - h11 * g2),
            h00 * (g1 * h22 - h12 * g2)
            - g0 * (h01 * h22 - h12 * h02)
            + h02 * (h01 * g2 - g1 * h02),
            h00 * (h11 * g2 - g1 * h12)
            - h01 * (h01 * g2 - g1 * h02)
            + g0 * (h01 * h12 - h11 * h02),
        ]
        guard = F.assert_true(
            # NULL w (a singular earlier step) propagates NULL quietly,
            # matching the SQL twin; a NULL det under non-NULL w is a
            # decimal(38,0) overflow and must abort loudly
            F.col("w0").isNull()
            | (
                det.isNotNull() & det_k[0].isNotNull()
                & det_k[1].isNotNull() & det_k[2].isNotNull()
            ),
            F.lit(
                "fraud-model Newton-step determinant overflowed "
                "decimal(38,0); quantize or cap feature magnitudes upstream"
            ),
        )
        w = s.select(
            *[
                F.when(
                    guard.isNull() & (det != 0),
                    F.col(f"w{k}")
                    + F.round(
                        det_k[k].cast("double") / det.cast("double") * 1e6
                    ).cast("long"),
                ).alias(f"w{k}")
                for k in range(3)
            ]
        )
    return labeled.crossJoin(F.broadcast(w)).select(
        "account_id",
        "n_trx",
        "n_big",
        "is_circular",
        "w0",
        "w1",
        "w2",
        F.round(sigmoid(dot()), 6).alias("fraud_score"),
    )


def velocity_alerts(
    transactions: DataFrame,
    *,
    max_per_day: int = 10,
    max_amount_per_day: float = 50_000.0,
) -> DataFrame:
    """Per-account daily velocity rule (the standard companion rule to
    the circular check; dashboard 'fraud alerts', reference
    README.md:39): accounts whose daily count or total exceeds limits.
    """
    daily = transactions.filter(F.col("status") == "completed").groupBy(
        "account_id", F.to_date("transaction_date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_trx"),
        F.sum("amount").alias("total_amount"),
    )
    return daily.filter(
        (F.col("n_trx") > max_per_day)
        | (F.col("total_amount") > max_amount_per_day)
    )
