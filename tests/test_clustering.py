"""Clustering-family semantics (operators/clustering.py): k-means
assignment / Lloyd refinement / SemDeDup checked against an in-memory
numpy reference on sf0.001, plus the physical-plan properties that
carry the 100 TB story (map-only assignment, cluster-keyed equi-join
for pair generation).
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ultimate_data_engineering_project_spark.operators import clustering
from ultimate_data_engineering_project_spark.sources.readers import load_table

K = 8
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _numpy_corpus(spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    # mirror the engine quantization: round-half-up on the double value
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Q = np.floor(X * 1_000_000.0 + 0.5).astype(np.int64)
    return ids, X, Q


def _np_assign(Q, cents):
    d2 = ((Q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return d2.argmin(axis=1), d2.min(axis=1)


def test_assign_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.init_centroids(emb, K)
    got = {
        r["id"]: (r["cluster_id"], r["dist2"])
        for r in clustering.assign_clusters(emb, cents).collect()
    }
    ids, _, Q = _numpy_corpus(spark, sf_dir)
    want_c, want_d = _np_assign(Q, np.array(cents, dtype=np.int64))
    assert len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[int(vid)] == (int(want_c[i]), int(want_d[i])), vid


def test_init_centroids_are_quantized_lowest_ids(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.init_centroids(emb, K)
    ids, _, Q = _numpy_corpus(spark, sf_dir)
    order = np.argsort(ids)
    for c in range(K):
        assert cents[c] == list(Q[order[c]]), c


def test_init_centroids_rejects_id_gaps(spark, sf_dir):
    """Gapped ids would silently return < k centroids and mislabel
    every assignment (positional cluster ids != id values) — the
    contiguous-id precondition must fail loudly (r8 advice)."""
    import pytest as _pytest

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id != 1")
    with _pytest.raises(ValueError, match="contiguous ids"):
        clustering.init_centroids(emb, K)


def test_lloyd_refine_matches_numpy(spark, sf_dir):
    """Full iteration parity: integer round-half-up means, empty
    clusters keep the previous centroid, then exact reassignment."""
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        r["id"]: (r["cluster_id"], r["dist2"])
        for r in clustering.kmeans_refine(emb, K, n_iters=1).collect()
    }
    ids, _, Q = _numpy_corpus(spark, sf_dir)
    cents = np.array(clustering.init_centroids(emb, K), dtype=np.int64)
    a0, _ = _np_assign(Q, cents)
    new = cents.copy()
    for c in range(K):
        members = Q[a0 == c]
        if len(members):
            s = members.sum(axis=0)
            n = len(members)
            new[c] = np.floor_divide(2 * s + n, 2 * n)  # floor((2s+n)/2n)
    a1, d1 = _np_assign(Q, new)
    for i, vid in enumerate(ids):
        assert got[int(vid)] == (int(a1[i]), int(d1[i])), vid


def test_lloyd_empty_cluster_keeps_fallback(spark):
    """A centroid that attracts no members survives the update
    unchanged (standard Lloyd convention) instead of vanishing."""
    rows = [
        (0, [0.0, 0.0]),
        (1, [1.0, 1.0]),
        (2, [1.2, 1.0]),
        (3, [0.1, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # explicit centroids (quantized domain): centroid 1 sits far from
    # every vector, so it attracts no members
    cents = [[0, 0], [100_000_000, 100_000_000], [1_000_000, 1_000_000]]
    present = {r["cluster_id"] for r in clustering.assign_clusters(df, cents).collect()}
    (updated,) = clustering.lloyd_update(df, [cents])
    assert 1 not in present  # no members landed on the far centroid
    assert updated[1] == cents[1]  # ...so its centroid is unchanged
    assert len(updated) == 3


@pytest.mark.parametrize("m", [1, 2, 4, 8])
def test_batched_lloyd_matches_numpy_per_slice(spark, m):
    """lloyd_update trains m codebooks at once, book j on the j-th
    64/m-wide slice; each must equal an independent one-step integer
    Lloyd on its slice alone: init rows vec_id < K, ties to the lowest
    code, round-half-up means, empty clusters keep their init."""
    sf01 = os.path.join(REPO, "perfbench", "fixtures", "sf0.01")
    emb = load_table(spark, sf01, "embeddings")
    ids, _, Q = _numpy_corpus(spark, sf01)
    low = np.argsort(ids)[:K]
    assert (ids[low] == np.arange(K)).all()  # the init rows: vec_id < K
    init = Q[low]
    d = Q.shape[1] // m
    want = []
    for j in range(m):
        sub, c0 = Q[:, j * d : (j + 1) * d], init[:, j * d : (j + 1) * d]
        a, _ = _np_assign(sub, c0)
        book = c0.copy()
        for c in range(K):
            members = sub[a == c]
            if len(members):
                n = len(members)
                book[c] = np.floor_divide(2 * members.sum(axis=0) + n, 2 * n)
        want.append(book.tolist())
    cents = clustering.init_centroids(emb, K)
    got = clustering.lloyd_update(
        emb, [[c[j * d : (j + 1) * d] for c in cents] for j in range(m)]
    )
    assert got == want


def _construction_jobs(spark, group, build):
    """Spark jobs launched while ``build()`` constructs its frame."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "construction")
    try:
        build()
    finally:
        sc.setJobGroup(f"{group}_done", "clear")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_codebook_training_jobs_independent_of_book_count(spark, sf_dir):
    """All PQ sub-space codebooks train in one bounded pass, so the
    construction-time jobs of pq_candidates_int do not grow with m;
    one k-means iteration is an init collect plus one update (its
    exchange and bounded collect), at most 3 jobs."""
    from ultimate_data_engineering_project_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    jobs = {
        m: _construction_jobs(
            spark, f"pq_m{m}", lambda m=m: similarity.pq_candidates_int(emb, m=m)
        )
        for m in (2, 8)
    }
    assert jobs[2] == jobs[8], jobs
    refine = _construction_jobs(
        spark, "kmeans_refine_1", lambda: clustering.kmeans_refine(emb, K, n_iters=1)
    )
    assert refine <= 3, refine


def test_semantic_dedup_is_within_cluster_cosine(spark, sf_dir):
    """Every emitted pair is same-cluster with cosine >= threshold, and
    every same-cluster pair above threshold is emitted (completeness
    within the cluster blocking — what SemDeDup guarantees).  Cosine is
    over the quantized integer vectors (the operator's documented
    domain), reproduced independently here."""
    emb = load_table(spark, sf_dir, "embeddings")
    thr = 0.30
    got = {
        (r["a_id"], r["b_id"]): (r["cluster_id"], r["cosine_sim"])
        for r in clustering.semantic_dedup_pairs(emb, K, threshold=thr).collect()
    }
    ids, X, Q = _numpy_corpus(spark, sf_dir)
    cents = np.array(clustering.init_centroids(emb, K), dtype=np.int64)
    a, _ = _np_assign(Q, cents)
    cluster_of = {int(v): int(c) for v, c in zip(ids, a)}
    qnorm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    want = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cluster_of[int(ids[i])] != cluster_of[int(ids[j])]:
                continue
            cos = round(float(int(Q[i] @ Q[j]) / (qnorm[i] * qnorm[j])), 6)
            if cos >= thr:
                want[(int(ids[i]), int(ids[j]))] = (
                    cluster_of[int(ids[i])],
                    cos,
                )
    assert set(got) == set(want)
    for pair, (cid, cos) in want.items():
        assert got[pair][0] == cid
        assert got[pair][1] == cos


def test_assignment_plan_is_map_only(spark, sf_dir):
    """The 100 TB property: cluster assignment is scan -> project —
    no Exchange, no Join anywhere in the plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.init_centroids(emb, K)
    plan = (
        clustering.assign_clusters(emb, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_semantic_dedup_plan_is_cluster_keyed(spark, sf_dir):
    """Pair generation is the per-cluster Arrow kernel behind ONE
    exchange keyed on cluster_id — no join of any kind, nothing
    all-pairs across clusters."""
    emb = load_table(spark, sf_dir, "embeddings")
    plan = (
        clustering.semantic_dedup_pairs(emb, K, threshold=0.30)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    import re

    exchanges = re.findall(r"hashpartitioning\([^)]*\)", plan)
    assert exchanges and all("cluster_id" in e for e in exchanges), plan


def test_ivf_recall_audit_floor_and_structure(spark, sf_dir):
    """The int-IVF recall audit (the third audit-family member) must
    carry the full exact top-5 truth (5 queries x 5 rows) and a recall
    floor — IVF misses are structural (a true neighbor in an unprobed
    list), so the floor documents what nprobe=2 of 8 lists buys."""
    from ultimate_data_engineering_project_spark.plans.catalog import catalog

    rows = catalog()["ann_ivf_recall_audit"].fn(spark, sf_dir).collect()
    assert len(rows) == 25, len(rows)
    assert {r.query_id for r in rows} == set(range(5))
    recall = sum(r.captured for r in rows) / len(rows)
    assert recall >= 0.85, recall
    # every rank 1..5 present per query — the truth side is complete
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.rank)
    assert all(v == {1, 2, 3, 4, 5} for v in by_q.values()), by_q


def test_pq_recall_audit_floor_and_structure(spark, sf_dir):
    """The int-PQ recall audit (r14 — the FOURTH audit-family member)
    must carry the full exact top-5 truth (5 queries x 5 rows) and a
    recall floor — PQ misses are structural like IVF's (a true
    neighbor whose ADC distance lands past the rerank-pool boundary),
    so the floor documents what m=4/n_codes=8/rerank=50 buys; at
    least one captured AND one missed row exist at every fixture
    scale, so the audit's miss-visibility is exercised, not vacuous."""
    from ultimate_data_engineering_project_spark.plans.catalog import catalog

    rows = catalog()["ann_pq_recall_audit"].fn(spark, sf_dir).collect()
    assert len(rows) == 25, len(rows)
    assert {r.query_id for r in rows} == set(range(5))
    recall = sum(r.captured for r in rows) / len(rows)
    assert recall >= 0.6, recall
    assert any(r.captured == 0 for r in rows)  # misses stay visible
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.rank)
    assert all(v == {1, 2, 3, 4, 5} for v in by_q.values()), by_q
