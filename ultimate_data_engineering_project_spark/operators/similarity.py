"""Similarity search over embedding columns (SURVEY.md §2.10 X3;
driver contract 'similarity search' family).

Two paths:
  * brute-force cosine top-k — exact baseline.  Query side broadcast,
    corpus side streamed: each corpus partition scores against the
    in-memory query block, then a window keeps top-k per query.  No
    shuffle of the corpus until the final (tiny) top-k exchange.
  * random-hyperplane LSH ANN — the 100 TB path: bucket on sign-bit
    keys so candidate generation is an equi-join, then exact cosine on
    candidates only.

All arithmetic in double precision with sequential array folds so
results are bit-stable and match the DuckDB oracle
(list_cosine_similarity over DOUBLE[]).

Every candidate-pair SCORING pass goes through `scored_pairs`, which
picks by input scale (tuning.py) between the JVM higher-order-function
fold and the batch-native Arrow kernel `scored_pairs_arrow`: ~100x
less per-pair CPU at bit-identical results (pinned raw-value-for-raw-
value by tests/test_operators.py; rounding stays in the JVM), but a
fixed Python-worker fan-out cost that only amortizes over large
candidate volumes.  The expression form `cosine()` remains the
semantics reference and the oracle-equivalence twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T

from ultimate_data_engineering_project_spark import tuning


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns, computed
    with double accumulators, sequential fold (bit-stable).

    A zero-norm vector yields -1.0, NOT the naive 0/0 (r8): under ANSI
    mode (Spark 4 default) that division THROWS DIVIDE_BY_ZERO mid-
    query, and under non-ANSI it is NaN — which Spark orders ABOVE
    every real double, ranking a zero vector as every query's #1
    neighbor in the top-k windows.  -1.0 (below any real similarity)
    matches what DuckDB's ``list_cosine_similarity`` returns for a
    zero vector, keeping the oracle parity exact at this edge too.
    ``try_divide`` + ``nanvl`` + ``coalesce`` rather than a ``when``
    guard so the norm folds are evaluated once (interpreted HOF
    contexts do no subexpression elimination); a NaN ELEMENT in either
    vector also lands at -1.0 — garbage embeddings rank last instead
    of first."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    dot = F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)
    na = F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nb = F.aggregate(
        F.transform(b, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.coalesce(
        F.nanvl(
            F.try_divide(dot, F.sqrt(na) * F.sqrt(nb)), F.lit(-1.0)
        ),
        F.lit(-1.0),
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _cosine_batch_kernel(va, vb):
    """numpy twin of :func:`cosine` over two pyarrow list arrays —
    BIT-IDENTICAL by construction (tests/test_operators.py pins it on
    adversarial inputs): the dot and both norm folds accumulate in the
    SAME left-to-right element order as the JVM ``aggregate`` fold
    (one vectorized ``acc = acc + x*y`` per dimension index — every
    per-pair addition/multiplication is the identical IEEE-754 double
    op in the identical order), sqrt/division are correctly-rounded on
    both sides, and every degenerate case (null array, null element,
    NaN element, length mismatch, zero norm, empty arrays) lands on
    the same -1.0 the expression's try_divide/nanvl/coalesce chain
    produces.  Null elements surface as NaN through ``to_numpy`` and
    propagate to -1.0 exactly like the JVM's null-propagating fold.
    Returns a float64 ndarray of raw (UNROUNDED) similarities."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(va)
    out = np.full(n, -1.0)
    if n == 0:
        return out

    def lens_starts_flat(arr):
        lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
        lens = np.nan_to_num(lens.astype("float64"), nan=-1.0).astype("int64")
        nn = lens >= 0
        starts = np.zeros(n, dtype="int64")
        starts[nn] = np.concatenate(
            ([0], np.cumsum(lens[nn])[:-1])
        ) if nn.any() else starts[nn]
        flat = pc.list_flatten(arr).to_numpy(zero_copy_only=False)
        return lens, starts, np.asarray(flat, dtype="float64")

    lens_a, starts_a, flat_a = lens_starts_flat(va)
    lens_b, starts_b, flat_b = lens_starts_flat(vb)
    valid = (lens_a >= 0) & (lens_b >= 0) & (lens_a == lens_b)
    for d in np.unique(lens_a[valid]):
        rows = np.nonzero(valid & (lens_a == d))[0]
        if d == 0:
            continue  # empty arrays: zero norms -> stays -1.0
        ia = starts_a[rows, None] + np.arange(d)
        ib = starts_b[rows, None] + np.arange(d)
        X = flat_a[ia]
        Y = flat_b[ib]
        dot = np.zeros(len(rows))
        na = np.zeros(len(rows))
        nb = np.zeros(len(rows))
        for i in range(int(d)):  # sequential fold order == the JVM's
            x = X[:, i]
            y = Y[:, i]
            dot = dot + x * y
            na = na + x * x
            nb = nb + y * y
        denom = np.sqrt(na) * np.sqrt(nb)
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = dot / denom
        sim = np.where(denom == 0.0, -1.0, sim)  # try_divide's null
        sim[np.isnan(sim)] = -1.0  # nanvl (NaN inputs / 0-over-0)
        out[rows] = sim
    return out


def scored_pairs_arrow(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    *,
    round_digits: int = 6,
    out_col: str = "cosine_sim",
) -> DataFrame:
    """Exact cosine over a candidate-pair frame via ``mapInArrow`` —
    the batch-native form of ``withColumn(out, round(cosine(a, b), r))``
    (guide §4.2): the three sequential 64-element folds per pair cost
    ~20µs in the interpreted higher-order-function evaluator vs ~50ns
    in the vectorized kernel, and at 100 TB the per-candidate scoring
    pass is the dominant map-side work of every ANN/brute-force path.
    Only the id/pass-through columns and the two vectors cross the
    Python boundary; the vectors are dropped on return so post-scoring
    exchanges stay narrow.  ROUNDING STAYS IN THE JVM (same F.round as
    before) — the kernel returns raw doubles bit-identical to the
    expression fold (see `_cosine_batch_kernel`), so every oracle hash
    is unchanged."""
    raw = "__raw_" + out_col
    passthrough = [f for f in pairs.schema.fields if f.name not in (a_col, b_col)]
    names = [f.name for f in passthrough]
    out_schema = T.StructType(
        list(passthrough) + [T.StructField(raw, T.DoubleType())]
    )

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            sims = _cosine_batch_kernel(
                rb.column(rb.schema.get_field_index(a_col)),
                rb.column(rb.schema.get_field_index(b_col)),
            )
            cols = [
                rb.column(rb.schema.get_field_index(nm)) for nm in names
            ] + [pa.array(sims, type=pa.float64())]
            yield pa.RecordBatch.from_arrays(cols, names=names + [raw])

    scored = pairs.mapInArrow(score, schema=out_schema)
    return scored.withColumn(out_col, F.round(F.col(raw), round_digits)).drop(raw)


def scored_pairs(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    *,
    round_digits: int = 6,
    out_col: str = "cosine_sim",
) -> DataFrame:
    """Exact cosine over a candidate-pair frame on the kernel
    :func:`tuning.kernel` picks: the JVM expression fold
    (:func:`cosine`) or the batch-native Arrow kernel
    (:func:`scored_pairs_arrow`).  The two are BIT-IDENTICAL (pinned by
    tests/test_operators.py), so the choice is pure performance.  Both
    forms drop the vector columns so post-scoring exchanges stay
    narrow."""
    if tuning.kernel(pairs) == "arrow":
        return scored_pairs_arrow(
            pairs, a_col, b_col, round_digits=round_digits, out_col=out_col
        )
    return pairs.withColumn(
        out_col, F.round(cosine(F.col(a_col), F.col(b_col)), round_digits)
    ).drop(a_col, b_col)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (self-matches
    excluded).  ``queries`` must be small (it is broadcast); the corpus
    is scanned once, scored map-side, and only k rows per query survive
    the final window.

    Similarity is rounded before ranking so ordering is identical on
    any engine; ties break on neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    scored = scored_pairs(
        c.join(F.broadcast(q), on=F.col("query_id") != F.col("neighbor_id")),
        "__qv",
        "__cv",
        round_digits=round_digits,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side constants, shipped
    as literals — no SparkContext randomness)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _int_planes(
    dim: int, n_planes: int, n_tables: int, seed: int
) -> list[list[float]]:
    """Integer-valued hyperplanes (as doubles) for the engine-portable
    LSH twin: with embeddings quantized to round(x * 1e6) every dot
    product is a sum of integer products < 2^36 — EXACT in IEEE double
    regardless of summation order, so any engine computes the identical
    sign bit and the candidate set is reproducible hash-for-hash (the
    gaussian path's float dots are summation-order-sensitive at the
    ULP).  Uniform integer directions are a standard substitute for
    gaussian ones in sign-LSH: only the direction matters, and the
    discretization (1999 values/axis) is far below the sign boundary's
    sensitivity.  Concatenated layout: plane (t, j) at index
    t*n_planes + j, matching `_bucket_tables_expr`."""
    import random

    rng = random.Random(seed)
    return [
        [float(rng.randrange(-999, 1000)) for _ in range(dim)]
        for _ in range(n_planes * n_tables)
    ]


#: SQL fragment quantizing a float vector column to integer-valued
#: doubles (round half away from zero on both Spark and DuckDB).
_QUANTIZE_SQL = "transform({vec}, x -> round(cast(x as double) * 1000000.0D, 0))"


def _lit_matrix(rows: list[list[float]]) -> Column:
    """A list-of-lists constant as ONE array<array<double>> literal via
    a single SQL expression.  Building it element-wise with F.lit/F.array
    costs one py4j round-trip per element — thousands of driver calls
    and seconds of plan-construction latency for LSH plane / centroid
    matrices; one parsed expr string is ~constant time."""
    body = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in row) + ")" for row in rows
    )
    return F.expr(f"array({body})")


def _bind(col: Column, fn) -> Column:
    """Evaluate ``col`` ONCE per row and pass it to ``fn`` as a lambda
    variable (1-element array transform).  Referencing a non-trivial
    expression multiple times in a projection duplicates its whole
    subtree — Catalyst does not CSE across lambda-function boundaries,
    so e.g. 30 element_at references to a 30-dot-product sign vector
    would recompute all 30 dot products 30 times."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def lsh_bucket_key(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket key: bit i = sign(vec . plane_i).  Random
    hyperplane LSH (Charikar): collision probability 1 - theta/pi."""

    def to_key(signs: Column) -> Column:
        key = F.lit(0).cast("long")
        for i in range(len(planes)):
            key = key + F.element_at(signs, i + 1) * F.lit(1 << i).cast("long")
        return key

    return _bind(_plane_signs(vec, planes), to_key)


def _plane_signs(vec: Column, planes: list[list[float]]) -> Column:
    """array<long> of sign bits (1 if vec·plane_i >= 0 else 0), one
    shared plane-matrix literal, one transform — the whole LSH signature
    is a single expression subtree regardless of plane count."""
    P = _lit_matrix(planes)
    return F.transform(
        P,
        lambda p: (
            F.aggregate(
                F.zip_with(vec, p, lambda x, w: x.cast("double") * w),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0
        )
        .cast("long"),
    )


def _bucket_tables_expr(
    vec_sql: str, all_planes: list[list[float]], n_planes: int, n_tables: int
) -> str:
    """The whole multi-table bucket computation as ONE SQL expression
    string.  Building the same tree Column-by-Column costs ~0.8s of
    py4j round-trips per call (measured: 30 planes x 64 dims) — one
    `F.expr` parse of a generated string is ~25ms for an identical
    Catalyst tree.  ``vec_sql`` is any SQL expression yielding the
    vector (a backticked column name, or e.g. a quantizing transform).

    Shape: bind the concatenated sign vector once (1-element transform,
    see `_bind`), then per table t sum bit j of signs[t*n_planes+j]."""
    planes_sql = "array(" + ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in row) + ")"
        for row in all_planes
    ) + ")"
    signs = (
        f"transform({planes_sql}, p -> cast(aggregate("
        f"zip_with({vec_sql}, p, (x, w) -> cast(x as double) * w), "
        f"cast(0.0 as double), (acc, v) -> acc + v) >= 0 as bigint))"
    )
    bucket = " + ".join(
        f"element_at(s, cast(t * {n_planes} + {j + 1} as int)) "
        f"* cast({1 << j} as bigint)"
        for j in range(n_planes)
    )
    tables = (
        f"transform(sequence(0, {n_tables - 1}), "
        f"t -> named_struct('table_id', cast(t as int), 'bucket', {bucket}))"
    )
    return f"element_at(transform(array({signs}), s -> {tables}), 1)"


def _bucket_tables(
    vec: Column | str, dim: int, n_planes: int, n_tables: int, seed: int
) -> Column:
    """array<struct<table_id int, bucket long>>: all LSH tables' bucket
    keys computed from ONE sign vector over the concatenated plane
    matrix (n_tables*n_planes planes, same per-table values as
    generating each table with seed+t).

    Pass ``vec`` as a column NAME (str) for the fast path: the whole
    expression is generated as one SQL string (single parse, no
    per-node py4j traffic).  A Column falls back to the builder API —
    identical tree, slower construction."""
    all_planes = [
        plane for t in range(n_tables) for plane in _hyperplanes(dim, n_planes, seed + t)
    ]
    if isinstance(vec, str):
        return F.expr(
            _bucket_tables_expr(f"`{vec}`", all_planes, n_planes, n_tables)
        )

    def make_tables(signs: Column) -> Column:
        def per_table(t: Column) -> Column:
            bucket = F.lit(0).cast("long")
            for j in range(n_planes):
                bucket = bucket + F.element_at(
                    signs, (t * n_planes + j + 1).cast("int")
                ) * F.lit(1 << j).cast("long")
            return F.struct(t.cast("int").alias("table_id"), bucket.alias("bucket"))

        return F.transform(F.sequence(F.lit(0), F.lit(n_tables - 1)), per_table)

    # signs bound once per row: n_tables*n_planes dot products total,
    # not that again per element_at reference
    return _bind(_plane_signs(vec, all_planes), make_tables)


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 10,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (X2 dedup family, embedding
    flavor): multi-table hyperplane-LSH candidate generation, exact
    cosine verify, keep pairs with cosine >= threshold and id_a < id_b.

    The self-join runs on (table_id, bucket) — O(sum of bucket sizes
    squared), never O(n²) over the corpus; for true near-dups (theta
    ~ 0) per-table collision probability is (1 - theta/pi)^n_planes
    ~ 1, so recall across n_tables is effectively 1.  ``n_planes``
    controls bucket occupancy (2^n_planes buckets/table): scale it with
    log2(corpus size) so per-bucket candidate pairs stay bounded —
    near-dup LSH is for high thresholds (>= ~0.9); low-threshold pair
    mining degenerates to candidate explosion by construction and
    belongs to brute_force_topk / IVF instead.
    """
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    banded = base.withColumn(
        "__t", F.explode(_bucket_tables("__v", dim, n_planes, n_tables, seed))
    ).select("__id", "__v", "__t.table_id", "__t.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.table_id") == F.col("b.table_id"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__v").alias("__va"),
            F.col("b.__v").alias("__vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        scored_pairs(pairs, "__va", "__vb", round_digits=round_digits)
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def _centroid_dist2(vec: Column, centroid_col: Column) -> Column:
    """Squared L2 distance between an array column and a centroid array
    (sequential fold — deterministic)."""
    return F.aggregate(
        F.zip_with(
            vec, centroid_col, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _train_centroids_numpy(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    seed: int,
    *,
    max_train: int = 2048,
    iters: int = 8,
) -> list[list[float]]:
    """Seeded Lloyd's k-means on a BOUNDED deterministic sample,
    vectorized in numpy on the driver.

    This is the standard IVF training recipe (train the coarse
    quantizer on a sample, ship centroids as constants): the sample is
    the top ``max_train`` rows by hashed id — a TakeOrdered, O(N log k)
    map-side, never a full sort — so training cost is independent of
    corpus size and identical across runs/cluster layouts.  Replaces an
    MLlib KMeans fit whose per-iteration Spark jobs dominated wall
    clock at small-to-mid scale (and which collects to the driver
    internally anyway)."""
    X = _train_sample(corpus, id_col, vec_col, seed, max_train)
    if len(X) == 0:
        raise ValueError(
            "IVF centroid training sample is empty (corpus has no rows "
            "with a non-null embedding) — nothing to cluster"
        )
    # a corpus smaller than the requested centroid count would otherwise
    # duplicate training points as centroids (k-means++ D^2 weights go
    # to zero): clamp k to the sample size — callers size inverted
    # lists from the returned list, so a shorter list is well-defined
    n_centroids = min(n_centroids, len(X))
    cents = _kmeans_pp_numpy(X, n_centroids, seed, iters)
    return [list(map(float, c)) for c in cents]


def _train_sample(
    corpus: DataFrame, id_col: str, vec_col: str, seed: int, max_train: int
):
    """Bounded deterministic training sample as a numpy matrix: the top
    ``max_train`` rows by hashed id — a TakeOrdered, O(N log k)
    map-side, never a full sort — so training cost is independent of
    corpus size and identical across runs/cluster layouts.  The hash
    runs on the STRING form of the id so string/uuid ids work too."""
    import numpy as np

    rows = (
        corpus.select(
            F.col(id_col).alias("__i"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .orderBy(
            F.pmod(
                F.xxhash64(F.col("__i").cast("string"), F.lit(seed)),
                F.lit(1_000_003),
            ),
            "__i",
        )
        .limit(max_train)
        .collect()
    )
    return np.array([r["__v"] for r in rows], dtype=np.float64)


def _kmeans_pp_numpy(X, k: int, seed: int, iters: int):
    """Seeded k-means++ init (D^2 sampling) + Lloyd iterations over an
    in-memory sample.  Shared by the IVF coarse quantizer and the PQ
    sub-quantizers; RNG sequence is a compatibility contract (seeded
    results are pinned by tests/bench)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    cents = np.empty((k, X.shape[1]), dtype=np.float64)
    cents[0] = X[rng.randint(len(X))]
    d2 = ((X - cents[0]) ** 2).sum(axis=1)
    for c in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(X), 1.0 / len(X))
        cents[c] = X[rng.choice(len(X), p=probs)]
        d2 = np.minimum(d2, ((X - cents[c]) ** 2).sum(axis=1))
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _ranked_centroids(cents_lit: Column, vec: Column) -> Column:
    # array<struct<dist2,cid>> sorted by distance (struct ordering);
    # ONE shared centroid-matrix literal + an index-aware transform
    # keeps the expression tree (and plan-build py4j traffic) small
    return F.array_sort(
        F.transform(
            cents_lit,
            lambda c, i: F.struct(
                _centroid_dist2(vec, c).alias("dist2"),
                i.alias("cid"),
            ),
        )
    )


def ivf_index_frame(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus -> the PERSISTABLE IVF index rows ``(id, vec, __cid)``:
    every vector assigned to its nearest centroid in one map-side pass.
    Write this to parquet (partition or bucket by ``__cid`` at scale to
    co-locate each inverted list) and serve probes against it with
    :func:`ivf_probe_index` — the index-build half of :func:`ivf_topk`,
    split out so a STREAM can extend the index batch by batch
    (streaming.pipelines.run_incremental_ann_stream)."""
    cents_lit = _lit_matrix(centroids)
    return corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).withColumn("__cid", _ranked_centroids(cents_lit, F.col("vec"))[0]["cid"])


def ivf_probe_index(
    queries: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    n_probe: int = 4,
    round_digits: int = 6,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Probe a persisted IVF index (:func:`ivf_index_frame` layout) for
    each query's top-k neighbors: queries expand to their ``n_probe``
    nearest centroid ids, equi-join the index on ``__cid``, exact
    cosine re-ranks.  The index side never reshuffles for candidate
    generation when the query batch broadcasts — the serving shape for
    a micro-batch of new vectors against a 100 TB corpus index.
    Self-matches (same id on both sides) are dropped."""
    cents_lit = _lit_matrix(centroids)
    probed = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn(
        "__cid",
        F.explode(
            F.transform(
                F.slice(
                    _ranked_centroids(cents_lit, F.col("__qv")), 1, n_probe
                ),
                lambda s: s["cid"],
            )
        ),
    )
    indexed = index.select(
        F.col("id").alias("neighbor_id"), F.col("vec").alias("__cv"), "__cid"
    )
    cand = scored_pairs(
        (
            indexed.join(F.broadcast(probed), "__cid")
            if broadcast_queries
            else probed.join(indexed, "__cid")
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv"),
        "__qv",
        "__cv",
        round_digits=round_digits,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    round_digits: int = 6,
    broadcast_queries: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the clustered-corpus scale
    path, complementing the data-independent LSH of :func:`ann_topk`.

    Train: k-means over a corpus sample (MLlib, seeded).  Index: assign
    every corpus vector to its nearest centroid — the 'inverted list'
    key, a plain column, so the index IS the DataFrame's partitioning.
    Search: each query probes its ``n_probe`` nearest centroids and
    equi-joins the corpus on the centroid id; exact cosine re-ranks the
    candidates and a window keeps k.

    At 100 TB: centroids are a driver-side constant (n_centroids × dim
    doubles), trained on a bounded deterministic sample
    (:func:`_train_centroids_numpy` — the FAISS-style recipe);
    assignment is one map-side pass; candidate generation is a
    shuffled equi-join on cluster id scaling with list occupancy — never
    |corpus| × |queries|.  Raise n_centroids ∝ √N to keep lists bounded,
    and repartition/bucket the indexed corpus by ``__cid`` to co-locate
    each list.
    """
    centroids = _train_centroids_numpy(corpus, id_col, vec_col, n_centroids, seed)
    cents_lit = _lit_matrix(centroids)

    def ranked_centroids(vec: Column) -> Column:
        return _ranked_centroids(cents_lit, vec)

    indexed = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__cid", ranked_centroids(F.col("__cv"))[0]["cid"])

    probed = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
        .withColumn(
            "__cid",
            F.explode(
                F.transform(
                    F.slice(ranked_centroids(F.col("__qv")), 1, n_probe),
                    lambda s: s["cid"],
                )
            ),
        )
    )
    # Bounded query sets (the dominant ANN serving shape) broadcast:
    # the corpus never shuffles for candidate generation, leaving ONE
    # exchange in the whole plan (the per-query top-k window).  Large
    # query sets keep the shuffled equi-join on the list id.
    cand = scored_pairs(
        (indexed.join(F.broadcast(probed), "__cid") if broadcast_queries
         else probed.join(indexed, "__cid"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv"),
        "__qv",
        "__cv",
        round_digits=round_digits,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _role_buckets(
    df: DataFrame,
    role_id: str,
    id_col: str,
    vec_col: str,
    *,
    portable: bool,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """(role_id, __v_<role_id>, table_id, bucket) rows — one per LSH
    table per vector; the shared bucketing step of `ann_topk` and
    `ann_lsh_candidates`."""
    out = df.select(
        F.col(id_col).alias(role_id), F.col(vec_col).alias(f"__v_{role_id}")
    )
    if portable:
        planes = _int_planes(dim, n_planes, n_tables, seed)
        vec_sql = _QUANTIZE_SQL.format(vec=f"`__v_{role_id}`")
        bucket_col = F.expr(
            _bucket_tables_expr(vec_sql, planes, n_planes, n_tables)
        )
    else:
        bucket_col = _bucket_tables(
            f"__v_{role_id}", dim, n_planes, n_tables, seed
        )
    return out.withColumn("__t", F.explode(bucket_col)).select(
        role_id, f"__v_{role_id}", "__t.table_id", "__t.bucket"
    )


def ann_lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int = 64,
    n_planes: int = 3,
    n_tables: int = 10,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """The raw multi-table LSH CANDIDATE set (query_id, neighbor_id) —
    `ann_topk`'s bucket-join stage before cosine scoring/top-k, exposed
    so the LSH stage's RECALL is auditable cross-engine (r11 judge ask
    #7): joined against the exact top-k truth, every true neighbor the
    buckets missed is a visible, hash-checkable row.  Queries are
    broadcast (bounded query set), so candidate generation never
    shuffles the corpus."""
    qb = _role_buckets(
        queries, "query_id", id_col, vec_col,
        portable=portable, dim=dim, n_planes=n_planes,
        n_tables=n_tables, seed=seed,
    )
    cb = _role_buckets(
        corpus, "neighbor_id", id_col, vec_col,
        portable=portable, dim=dim, n_planes=n_planes,
        n_tables=n_tables, seed=seed,
    )
    return (
        cb.join(F.broadcast(qb), on=["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    dim: int = 64,
    n_planes: int = 3,
    n_tables: int = 10,
    seed: int = 42,
    round_digits: int = 6,
    broadcast_queries: bool = False,
    portable: bool = False,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    Each vector gets `n_tables` bucket keys; query/corpus rows join on
    (table_id, bucket) — a plain shuffled equi-join that scales with
    bucket occupancy, not corpus size squared.  Exact cosine is computed
    only for candidates, then a per-query window keeps k.  Recall is
    tunable via n_planes (bucket width) and n_tables; the defaults
    (3 planes x 10 tables, ~0.98 recall on the fixture) suit the
    weak-similarity regime (top-k cosine ~0.3); raise n_planes for
    corpora with strong near-duplicates to shrink buckets.

    ``portable=True`` swaps gaussian planes for integer ones over
    round(x*1e6)-quantized vectors (`_int_planes`): every sign bit is
    exact integer arithmetic, so a SQL engine reproduces the identical
    candidate set — the hash-checkable twin of the default path.
    """
    qb = _role_buckets(
        queries, "query_id", id_col, vec_col,
        portable=portable, dim=dim, n_planes=n_planes,
        n_tables=n_tables, seed=seed,
    )
    cb = _role_buckets(
        corpus, "neighbor_id", id_col, vec_col,
        portable=portable, dim=dim, n_planes=n_planes,
        n_tables=n_tables, seed=seed,
    )
    if broadcast_queries:
        # Bounded query set: broadcast its bucket keys so the corpus
        # never shuffles for candidate generation, then make the ONE
        # exchange in the plan a repartition on query_id — hash
        # partitioning on query_id co-locates every (query_id,
        # neighbor_id) pair, so the multi-table dedup aggregation AND
        # the top-k window both run exchange-free on top of it.
        # Cosine is computed BEFORE the multi-table dedup: a candidate
        # seen in t tables costs t cheap 64-dim dot products map-side,
        # but only narrow (query_id, neighbor_id, sim) rows cross the
        # exchange — the two 64-float vectors never shuffle and never
        # pass through an array-typed aggregate.  Duplicates carry the
        # identical rounded sim, so first() is deterministic.
        matched = scored_pairs(
            cb.join(F.broadcast(qb), on=["table_id", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id", "neighbor_id", "__v_query_id", "__v_neighbor_id"
            ),
            "__v_query_id",
            "__v_neighbor_id",
            round_digits=round_digits,
        )
        cand = (
            matched.repartition("query_id")
            .groupBy("query_id", "neighbor_id")
            .agg(F.first("cosine_sim").alias("cosine_sim"))
        )
    else:
        cand = scored_pairs(
            qb.join(cb, on=["table_id", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id", "neighbor_id", "__v_query_id", "__v_neighbor_id"
            ),
            "__v_query_id",
            "__v_neighbor_id",
            round_digits=round_digits,
        ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    max_train: int = 2048,
    iters: int = 8,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    vector into ``m`` equal sub-spaces and run an independent seeded
    k-means (``n_codes`` sub-centroids) in each, over the same bounded
    deterministic sample as the IVF coarse quantizer.

    Returns ``m`` codebooks of ``n_codes`` sub-centroids each —
    m × n_codes × (dim/m) doubles, a driver-side constant at any corpus
    scale (the FAISS training recipe: sample-train, ship as literals).
    """
    X = _train_sample(corpus, id_col, vec_col, seed, max_train)
    if len(X) == 0:
        raise ValueError(
            "PQ training sample is empty (corpus has no rows with a "
            "non-null embedding) — nothing to quantize"
        )
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"vector dim ({dim}) must be divisible by m ({m})")
    d_sub = dim // m
    k = min(n_codes, len(X))

    # r14 note: a ThreadPoolExecutor over the m independent books was
    # A/B-measured 2.6x SLOWER than this serial loop (0.23s -> 0.61s
    # for 16 books): each book is many small numpy ops whose Python
    # overhead holds the GIL, so threads serialize with extra contention.
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = X[:, j * d_sub : (j + 1) * d_sub]
        cents = _kmeans_pp_numpy(sub, k, seed + j, iters)
        books.append([list(map(float, c)) for c in cents])
    return books


def _pq_codebooks_lit(codebooks: list[list[list[float]]]) -> Column:
    """The full codebook set as ONE nested literal column
    array<array<array<double>>> — shared across expressions so the plan
    carries a single constant."""
    return F.array(*[_lit_matrix(book) for book in codebooks])


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` small codes (nearest sub-centroid
    per sub-space) — the compressed representation PQ serves from.

    Returns (id_col, pq_codes array<int>).  At 100 TB the codes column
    is what you PERSIST: m ints per row instead of dim floats (codes
    fit a byte each at n_codes<=256 — a 32x storage cut at dim=64/m=8
    before parquet even compresses), and every downstream scan prunes
    to it.

    One ``mapInPandas`` kernel runs the (rows × n_codes × d_sub)
    distance argmin as one numpy batch per Arrow chunk; an interpreted
    expression fold would evaluate m × n_codes distances per row
    (measured ~4x slower at sf0.1).  Ties take the FIRST minimal code;
    the re-rank stage makes top-k robust to exact-ULP distance ties."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    cbs = [np.asarray(b, dtype=np.float64) for b in codebooks]
    id_type = corpus.schema[id_col].dataType.simpleString()

    def encode_batches(batches):
        for pdf in batches:
            if len(pdf):
                X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
                codes = np.empty((len(pdf), m), dtype=np.int32)
                for j, cb in enumerate(cbs):
                    sub = X[:, j * d_sub : (j + 1) * d_sub]
                    d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
                    codes[:, j] = d2.argmin(axis=1)
                yield pd.DataFrame({id_col: pdf[id_col], "pq_codes": list(codes)})
            else:
                yield pd.DataFrame({id_col: pdf[id_col], "pq_codes": []})

    return corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).mapInPandas(encode_batches, f"{id_col} {id_type}, pq_codes array<int>")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
    rerank: int = 0,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): the
    compressed-corpus scale path, completing the X3 family (brute =
    exact, LSH = data-independent, IVF = clustered, PQ = compressed).

    Each broadcast QUERY row precomputes its distance look-up table
    once — ``lut[j][c]`` = squared L2 between the query's j-th
    sub-vector and sub-centroid c (m × n_codes doubles, an expression
    over the tiny query side).  Each CORPUS row then costs ``m`` array
    lookups + adds — NOT a dim-wide float walk: the classic ADC trade
    that makes full-scan ANN viable over 100 TB of codes.  Ranking
    rounds the ADC distance and breaks ties on neighbor id, so results
    are deterministic on any engine/cluster.

    ``encoded``/``codebooks`` accept a pre-trained, persisted index
    (see ``pq_encode``); by default both are built in-query.

    ``rerank`` > k turns on the standard two-stage recipe: ADC keeps the
    top ``rerank`` candidates per query (compressed scan), then exact
    squared-L2 over the ORIGINAL vectors of only those candidates picks
    the final k — the re-rank join touches rerank x |queries| rows, so
    full-precision vectors are read for a vanishing fraction of the
    corpus.  This is how PQ serves high recall without giving up the
    compressed scan.

    Output schema is identical in both modes:
    (query_id, neighbor_id, dist2, rank) — ``dist2`` is exact squared
    L2 when rerank > k, the ADC approximation otherwise.
    """
    if codebooks is None:
        codebooks = pq_train(
            corpus, id_col, vec_col, m=m, n_codes=n_codes, seed=seed
        )
    m = len(codebooks)
    n_codes = len(codebooks[0])
    d_sub = len(codebooks[0][0])
    if encoded is None:
        encoded = pq_encode(corpus, codebooks, id_col, vec_col)
    enc = encoded.select(
        F.col(id_col).alias("neighbor_id"), F.col("pq_codes").alias("__codes")
    )
    cb = _pq_codebooks_lit(codebooks)
    qv = F.col("__qv")
    lut = F.transform(
        cb,
        lambda book, j: F.transform(
            book,
            lambda c: _centroid_dist2(F.slice(qv, j * d_sub + 1, d_sub), c),
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__lut", lut).drop("__qv")
    scored = (
        enc.join(F.broadcast(q), on=F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "adc_dist2",
            F.round(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    F.lit(0.0),
                    lambda acc, j: acc
                    + F.element_at(
                        F.element_at(F.col("__lut"), j + 1),
                        F.element_at(F.col("__codes"), j + 1) + 1,
                    ),
                ),
                round_digits,
            ),
        )
        .drop("__lut", "__codes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("neighbor_id")
    )
    if rerank <= k:
        # same output schema as the re-rank branch: dist2 here is the
        # ADC approximation (no exact re-rank was requested)
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                F.col("adc_dist2").alias("dist2"),
                "rank",
            )
        )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    qv_side = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cv_side = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    exact = (
        cand.join(cv_side, "neighbor_id")
        .join(F.broadcast(qv_side), "query_id")
        .withColumn(
            "dist2",
            F.round(_centroid_dist2(F.col("__qv"), F.col("__cv")), round_digits),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist2", "rank")
    )


def pq_probe_codes(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    *,
    corpus: DataFrame | None = None,
    rerank: int = 0,
    round_digits: int = 6,
) -> DataFrame:
    """Serve top-k from a PERSISTED PQ codes frame (:func:`pq_encode`
    layout ``(id, pq_codes)``) — the compressed-domain twin of
    :func:`ivf_probe_index`, split out so a STREAM can ADC-scan only
    the history it has already encoded
    (streaming.pipelines.run_incremental_pq_stream).

    Each broadcast query carries its m x n_codes ADC look-up table; the
    codes frame is scanned once per query batch at m array lookups per
    row — at 100 TB this is the scan you actually run: m bytes per
    corpus row, no full-precision vector reads.  ``rerank > k`` adds
    the exact re-rank stage and then needs ``corpus`` (the original
    vectors) — which the re-rank join touches only for the rerank x
    |queries| candidate rows, not the scan."""
    if rerank > k and corpus is None:
        raise ValueError(
            "rerank > k re-ranks on exact distances and needs `corpus` "
            "(the original-vector frame) for the candidate rows"
        )
    return pq_topk(
        corpus,
        queries,
        id_col,
        vec_col,
        k=k,
        codebooks=codebooks,
        encoded=codes,
        rerank=rerank,
        round_digits=round_digits,
    )


def pq_candidates_int(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int = 64,
    m: int = 4,
    n_codes: int = 8,
    rerank: int = 20,
    n_queries: int = 5,
) -> DataFrame:
    """Portable INT-codebook PQ candidate generation — the recall-audit
    twin of :func:`pq_topk`'s float path, completing the audit family
    (the ann_topk_lsh_int / ivf_candidates_int convention): every
    arithmetic step is exact int64, so a DuckDB oracle derives the
    identical candidate set and the recall audit can flag each miss as
    a hash-checked row.

    Pipeline, mirrored step for step by the SQL oracle:
      1. quantize vectors (round(x*1e6) -> bigint, the shared scale);
      2. per sub-space codebooks: deterministic init (the sub-vectors
         of ids 0..n_codes-1) + ONE integer Lloyd refine — the
         kmeans_lloyd_refine_int recipe applied to each of the ``m``
         d_sub-wide slices (empty codes keep their init sub-centroid),
         all ``m`` trained together by clustering.lloyd_update;
      3. encode: each corpus vector -> m nearest-sub-centroid codes
         (exact int64 squared L2; ties to the lowest code);
      4. ADC: each query precomputes its m x n_codes integer look-up
         table as an expression on the broadcast side; each corpus row
         costs m array lookups + BIGINT adds — the compressed-scan
         shape of :func:`pq_topk`, in the exact-integer domain;
      5. keep the top ``rerank`` candidates per query (ties on
         neighbor id).

    Misses are STRUCTURAL, like IVF's unprobed lists: a true neighbor
    whose quantized-code distance lands past the rerank boundary is
    invisible at any downstream re-rank budget — exactly the loss the
    m/n_codes/rerank knobs trade away.

    Scale shape: training is ONE bounded pass for all m sub-spaces —
    one init collect, then one Lloyd update (a corpus map + one
    n_codes*dim aggregate + one bounded collect — the corpus never
    shuffles on its own key), so its Spark jobs do not grow with m;
    encode is one Arrow-kernel map (the same per-book int64 argmin,
    bit-identical to the sequential fold — the
    clustering._argmin_books argument); the ADC scan broadcasts the
    bounded query set so the corpus again never shuffles; the only
    exchange is the top-``rerank`` window on query_id.

    Returns ``(query_id, neighbor_id)`` — the candidate set whose
    misses the recall audit exposes row by row.
    """
    import numpy as np
    import pandas as pd

    from ultimate_data_engineering_project_spark.operators.clustering import (
        _argmin_books,
        _dist2_int,
        _lit_int_matrix,
        init_centroids,
        lloyd_update,
        quantize_vec,
    )

    if dim % m:
        raise ValueError(f"vector dim ({dim}) must be divisible by m ({m})")
    d_sub = dim // m

    # 1+2: one init collect (the full vectors of ids 0..n_codes-1, cut
    # into the m sub-space inits on the driver), then one batched
    # Lloyd update for all m codebooks
    init = init_centroids(corpus, n_codes, id_col, vec_col)
    books = lloyd_update(
        corpus,
        [[c[j * d_sub : (j + 1) * d_sub] for c in init] for j in range(m)],
        vec_col,
    )

    # 3: Arrow-kernel encode — all m argmins in one int64 pass per
    # batch; ties -> lowest code, matching the oracle's ORDER BY d2, code
    cbs = [np.asarray(b, dtype=np.int64) for b in books]

    def encode_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes, _ = _argmin_books(np.array(pdf["qv"].tolist(), dtype=np.int64), cbs)
            yield pd.DataFrame(
                {"neighbor_id": pdf["id"], "pq_codes": list(codes.astype(np.int32))}
            )

    enc = corpus.select(
        F.col(id_col).alias("id"), quantize_vec(F.col(vec_col)).alias("qv")
    ).mapInPandas(encode_batches, "neighbor_id long, pq_codes array<int>")

    # 4: integer ADC look-up table as an expression on the broadcast
    # query side (the pq_topk shape, exact int64 terms)
    cb_lit = F.array(*[_lit_int_matrix(b) for b in books])
    lut = F.transform(
        cb_lit,
        lambda book, j: F.transform(
            book,
            lambda c: _dist2_int(
                F.slice(F.col("__qv"), j * d_sub + 1, F.lit(d_sub)), c
            ),
        ),
    )
    q = (
        corpus.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("query_id"),
            quantize_vec(F.col(vec_col)).alias("__qv"),
        )
        .withColumn("__lut", lut)
        .drop("__qv")
    )
    scored = (
        enc.join(F.broadcast(q), on=F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "adc_d2",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0).cast("long"),
                lambda acc, j: acc
                + F.element_at(
                    F.element_at(F.col("__lut"), j + 1),
                    F.element_at(F.col("pq_codes"), j + 1) + 1,
                ),
            ),
        )
        .drop("__lut", "pq_codes")
    )

    # 5: top-rerank candidate pool per query
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
