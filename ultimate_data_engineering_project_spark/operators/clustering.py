"""Embedding clustering (SURVEY.md §2.10 X2/X3 adjacency; driver
contract "training-data pipeline" family): k-means assignment, a Lloyd
refinement step, and SemDeDup-style within-cluster semantic dedup.

Why this exists: at 100 TB the two clustering consumers are
  * corpus bucketing — assign every document's embedding to a coarse
    cluster so downstream work (semantic dedup, mixture sampling,
    topic quotas) runs per-cluster instead of globally; and
  * SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — near-duplicate
    SEMANTIC pairs are found within clusters only, turning an O(n²)
    all-pairs cosine into per-cluster blocks keyed by cluster id.

Scale shape: init collects the k lowest-id rows and sorts them on the
driver (one job, no sort exchange); assignment is a pure map (per-row
fold against a broadcast literal centroid matrix — no join, no
shuffle); the Lloyd update (:func:`lloyd_update`) trains any number of
codebooks at once — one Arrow map emits per-batch member sums, then
ONE groupBy(book, cluster, pos) exchange of at most batches×k×dim rows
and one bounded collect, so PQ's m sub-space codebooks cost the same
Spark round trips as a single k-means.  SemDeDup candidate generation
is a cluster-keyed equi-join (never a cartesian — the catalog-wide plan
ban applies).  Nothing here re-shuffles the corpus beyond the one
aggregation a mean requires.

Engine portability (the md5-twin trick applied to clustering): all
distance arithmetic runs on round(x*1e6)-quantized integer vectors, so
dist² terms are EXACT integers in both engines (per-element products
≤ 64·(2²·10¹²) ≈ 2.6e14 < 2⁵³; totals carried as BIGINT), and the
Lloyd mean is integer round-half-up — floor((2·s + n) / (2·n)) — which
both engines evaluate identically (the quotient is exact-integer-valued
only when 2s+n = m·2n exactly, in which case IEEE division returns m
exactly; otherwise the true value is ≥ 1/(2n) away from an integer,
9+ orders above the ~1-ulp division error while cluster sums stay
< 2⁵³, i.e. n ≲ 10⁹ rows/cluster at this quantization — beyond that,
shard the mean or drop to decimal).  The final cosine re-rank reuses
the `similarity.cosine` double fold already proven portable by the
`cosine_topk_bruteforce` oracle.

Reference parity: the reference has no clustering operator — this is
part of the beyond-reference LLM-pipeline surface the driver contract
asks for (see SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Quantization scale shared with the engine-portable LSH twin
#: (similarity._int_planes oracle): round(x * 1e6) on IEEE doubles
#: matches DuckDB's round() on every non-half case (float32 inputs
#: scaled by 1e6 land on .5 exactly only for hand-crafted values).
QUANT_SCALE = 1_000_000.0


def quantize_vec(vec: Column, scale: float = QUANT_SCALE) -> Column:
    """array<float|double> -> array<bigint> by round(x*scale) — the
    exact-integer domain every cross-engine distance runs in."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * F.lit(scale), 0).cast("long")
    )


def _lit_int_matrix(rows: list[list[int]]) -> Column:
    """k×dim integer constant as ONE array<array<bigint>> literal (one
    parsed expr — see similarity._lit_matrix for why not F.lit loops)."""
    body = ", ".join(
        "array(" + ", ".join(f"{int(x)}L" for x in row) + ")" for row in rows
    )
    return F.expr(f"array({body})")


def _dist2_int(a: Column, b: Column) -> Column:
    """Squared L2 between two array<bigint> columns — sequential fold,
    BIGINT accumulator, exact (dim·(2·scale)² ≲ 2.6e14 per element
    at QUANT_SCALE, far under int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _argmin_books(Q, books):
    """Per-book nearest centroid: book j covers the j-th ``d``-wide
    slice of each row of the int64 matrix ``Q`` (``d`` = the books'
    width).  Squared L2 as ONE int64 numpy matmul per book —
    |q|² + |c|² − 2·q·c, every term an EXACT integer (≤ dim·(2·
    QUANT_SCALE)² ≈ 2.6e14 per product sum, far under int64), so it
    is bit-identical to the sequential :func:`_dist2_int` fold and to
    the SQL oracle.  argmin returns the FIRST minimum — ties to the
    lowest centroid id.  Returns (codes, dist2), both (rows, books)."""
    import numpy as np

    d = books[0].shape[1]
    codes = np.empty((len(Q), len(books)), dtype=np.int64)
    dist2 = np.empty_like(codes)
    rows = np.arange(len(Q))
    for j, C in enumerate(books):
        sub = Q[:, j * d : (j + 1) * d]
        d2 = (
            (sub * sub).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2 * (sub @ C.T)
        )
        codes[:, j] = d2.argmin(axis=1)
        dist2[:, j] = d2[rows, codes[:, j]]
    return codes, dist2


def _assign_kernel(centroids: list[list[int]], keep_cols: list[str]):
    """Arrow-vectorized assignment kernel (mapInPandas): the
    single-book :func:`_argmin_books`, exact int64.

    Why a kernel and not column expressions (§2.11 documented
    inexpressible-efficiently case): Spark's higher-order functions
    are always interpreted (k·dim lambda evals per row), and unrolling
    the arithmetic into k·dim literal terms explodes codegen (measured
    seconds per 1k rows once the generated method overflows the JIT
    limits).  Dense linear algebra over Arrow batches is the same
    escape hatch the PQ ADC scan uses."""
    import numpy as np
    import pandas as pd

    C = np.array(centroids, dtype=np.int64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
            codes, dist2 = _argmin_books(Q, [C])
            out = {c: pdf[c] for c in keep_cols}
            out["cluster_id"] = codes[:, 0]
            out["dist2"] = dist2[:, 0]
            yield pd.DataFrame(out)

    return fn


def init_centroids(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """Deterministic init: the quantized vectors of the k lowest ids.

    DOCUMENTED BOUNDED COLLECT: k rows (k is a small constant — the
    coarse-cluster count, not data-sized), quantized ENGINE-side so the
    literals are bit-identical to what the SQL oracle derives from the
    same rows.  Seeded-random init (the production choice for quality)
    lives in similarity._kmeans_pp_numpy; this init exists so the
    whole pipeline is reproducible cross-engine.

    PRECONDITION: ids 0..k-1 must all exist in ``id_col`` (true for
    the dense vec_id columns this init serves).  With gaps, the
    positional cluster ids Spark assigns (0..len-1) would silently
    diverge from an oracle keyed on id values — so fail loudly."""
    rows = (
        corpus.filter(F.col(id_col) < k)
        .select(F.col(id_col).alias("__i"), quantize_vec(F.col(vec_col)).alias("__q"))
        .collect()
    )
    rows.sort(key=lambda r: r["__i"])  # k rows: a driver sort, not a range exchange
    if len(rows) != k:
        raise ValueError(
            f"init_centroids needs contiguous ids 0..{k - 1} in {id_col!r}; "
            f"found {len(rows)} of {k} — with gaps the positional cluster "
            "ids would mislabel every assignment"
        )
    return [list(r["__q"]) for r in rows]


def assign_clusters(
    corpus: DataFrame,
    centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One assignment pass: ``(id, qv, cluster_id, dist2)`` — a pure
    map (scan -> quantize projection -> Arrow kernel), no join, no
    shuffle, embarrassingly parallel at any corpus size.  Distance
    arithmetic is exact int64 (see :func:`_assign_kernel`); ties go to
    the lowest centroid id."""
    base = corpus.select(
        F.col(id_col).alias("id"), quantize_vec(F.col(vec_col)).alias("qv")
    )
    return base.mapInPandas(
        _assign_kernel(centroids, ["id", "qv"]),
        "id long, qv array<bigint>, cluster_id long, dist2 long",
    )


def lloyd_update(
    corpus: DataFrame,
    books: list[list[list[int]]],
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """One Lloyd update of ``g = len(books)`` codebooks at once — book
    j covers the j-th equal slice of the quantized vector (``g = 1``
    is plain k-means; PQ passes its m sub-space books).  Each updated
    centroid is the integer round-half-up mean of its members,
    element-wise: floor((2s + n) / (2n)).

    Shape: ONE Arrow map assigns every row in every book
    (:func:`_argmin_books`) and emits its batch's member sums as
    ``(book, cluster_id, pos, s, n)`` rows; ONE groupBy(book,
    cluster_id, pos) exchange adds them up (at most batches×k×dim rows,
    whatever the corpus size); ONE bounded collect (≤ k×dim rows)
    returns the means.  Clusters that lost all members keep their
    current centroid, the standard Lloyd convention."""
    import numpy as np
    import pandas as pd

    Bs = [np.asarray(b, dtype=np.int64) for b in books]
    k, d = Bs[0].shape

    def member_sums(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
            codes, _ = _argmin_books(Q, Bs)
            for j in range(len(Bs)):
                onehot = (codes[:, j][:, None] == np.arange(k)).astype(np.int64)
                s = onehot.T @ Q[:, j * d : (j + 1) * d]  # (k, d), exact int64
                n = onehot.sum(axis=0)
                cid = np.flatnonzero(n)
                yield pd.DataFrame(
                    {
                        "book": np.full(len(cid) * d, j, dtype=np.int64),
                        "cluster_id": np.repeat(cid, d),
                        "pos": np.tile(np.arange(d, dtype=np.int64), len(cid)),
                        "s": s[cid].ravel(),
                        "n": np.repeat(n[cid], d),
                    }
                )

    sums = (
        corpus.select(quantize_vec(F.col(vec_col)).alias("qv"))
        .mapInPandas(member_sums, "book long, cluster_id long, pos long, s long, n long")
        .groupBy("book", "cluster_id", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )
    # round-half-up(s/n) in pure integer terms: floor((2s+n)/(2n)).
    # Division is exact-enough IEEE (see module docstring bound).
    elem = F.floor(
        (F.lit(2) * F.col("s") + F.col("n")) / (F.lit(2) * F.col("n"))
    ).cast("long")
    new = [[list(c) for c in b] for b in books]
    for r in sums.select("book", "cluster_id", "pos", elem.alias("elem")).collect():
        new[r["book"]][r["cluster_id"]][r["pos"]] = r["elem"]
    return new


def kmeans_refine(
    corpus: DataFrame,
    k: int,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-means with deterministic init and ``n_iters`` Lloyd updates,
    returning the final assignment ``(id, cluster_id, dist2)``.

    Each iteration is one :func:`lloyd_update` (one corpus map + one
    k·dim aggregation); the corpus is never shuffled on its own key.
    ``n_iters`` is a small constant (driver loop over bounded
    collects), not data-driven.
    """
    cents = init_centroids(corpus, k, id_col, vec_col)
    for _ in range(n_iters):
        (cents,) = lloyd_update(corpus, [cents], vec_col)
    return assign_clusters(corpus, cents, id_col, vec_col).select(
        "id", "cluster_id", "dist2"
    )


def derive_k(corpus: DataFrame, target_cluster: int = 64) -> int:
    """k = max(8, ceil(n / target_cluster)) — cluster count grows with
    the corpus so per-cluster pair blocks stay BOUNDED (the property
    that keeps SemDeDup's within-cluster O(block²) linear overall).
    DOCUMENTED BOUNDED COLLECT: one count row; the SQL oracle derives
    the same k with a scalar subquery."""
    import math

    n = corpus.count()
    return max(8, math.ceil(n / float(target_cluster)))


def semantic_dedup_pairs(
    corpus: DataFrame,
    k: int | None,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    target_cluster: int = 64,
) -> DataFrame:
    """SemDeDup: near-duplicate pairs by embedding cosine, candidates
    restricted to SAME-CLUSTER pairs (the O(n²) all-pairs cosine
    becomes Σ per-cluster blocks; ``k=None`` derives k ∝ n via
    :func:`derive_k` so block sizes stay bounded as the corpus grows).
    Output ``(cluster_id, a_id, b_id, cosine_sim)`` with a_id < b_id
    and cosine ≥ threshold.

    Cosine is computed over the QUANTIZED integer vectors (round(x·1e6)
    — relative error ~1e-6, irrelevant for a near-dup measure): the
    Gram matrix of a cluster block is one exact int64 numpy matmul, and
    the only float ops are the final sqrt/divide — bit-identical in
    both engines, so the SQL oracle reproduces every pair and score.
    A zero vector scores -1.0 against everything (below any real
    similarity), matching similarity.cosine's edge rule.

    Plan shape: scan -> quantize -> Arrow assignment kernel (pure map)
    -> ONE exchange on cluster_id -> per-cluster pair kernel.  No
    joins at all; nothing all-pairs across clusters."""
    import numpy as np
    import pandas as pd

    if k is None:
        k = derive_k(corpus, target_cluster)
    assigned = assign_clusters(corpus, init_centroids(corpus, k, id_col, vec_col),
                               id_col, vec_col).select("id", "qv", "cluster_id")

    def pairs_fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        Q = np.array(pdf["qv"].to_numpy()[order].tolist(), dtype=np.int64)
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"cluster_id": [], "a_id": [], "b_id": [], "cosine_sim": []}
            )
        G = Q @ Q.T  # exact int64 (dim·(2·QUANT_SCALE)² ≪ 2⁶³)
        nrm = np.sqrt(np.diag(G).astype(np.float64))
        denom = nrm[:, None] * nrm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = G / denom
        cos[~np.isfinite(cos)] = -1.0  # zero-norm rows rank last
        cos = np.round(cos, round_digits)
        iu, ju = np.triu_indices(n, k=1)
        keep = cos[iu, ju] >= threshold
        iu, ju = iu[keep], ju[keep]
        return pd.DataFrame(
            {
                "cluster_id": np.full(len(iu), int(pdf["cluster_id"].iloc[0])),
                "a_id": ids[iu],
                "b_id": ids[ju],
                "cosine_sim": cos[iu, ju],
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        pairs_fn,
        "cluster_id long, a_id long, b_id long, cosine_sim double",
    )


def ivf_candidates_int(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_lists: int = 8,
    n_probe: int = 2,
    n_queries: int = 5,
) -> DataFrame:
    """Portable INT-centroid IVF candidate generation (the recall-audit
    twin of similarity.ivf_topk's float path, the ann_topk_lsh_int
    convention): deterministic init + ONE integer Lloyd refine gives
    centroids both engines derive bit-identically; every vector lands
    in exactly one inverted list (the kmeans_lloyd_refine_int
    assignment); each query probes its ``n_probe`` exact-int-nearest
    lists.  Returns (query_id, neighbor_id) — the candidate set whose
    misses the recall audit exposes row by row.

    Scale shape: index build is init + one :func:`lloyd_update`
    (corpus maps + one k·dim aggregate, corpus never shuffled on its
    own key); probing BROADCASTS the query→list expansion onto the
    index (the ivf_probe_index serving shape).  Ties everywhere break to the
    lowest cid — array_sort on struct<dist2,cid> matches the oracle's
    ORDER BY dist2, cid."""
    cents0 = init_centroids(corpus, n_lists, id_col, vec_col)
    (cents1,) = lloyd_update(corpus, [cents0], vec_col)
    index = assign_clusters(corpus, cents1, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "cluster_id"
    )
    cents_lit = _lit_int_matrix(cents1)
    qv = quantize_vec(F.col(vec_col))
    ranked = F.array_sort(
        F.transform(
            cents_lit,
            lambda c, i: F.struct(
                _dist2_int(qv, c).alias("dist2"),
                i.cast("long").alias("cid"),
            ),
        )
    )
    probed = (
        corpus.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(
                F.transform(
                    F.slice(ranked, 1, n_probe), lambda s: s["cid"]
                )
            ).alias("cluster_id"),
        )
    )
    return (
        index.join(F.broadcast(probed), "cluster_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
