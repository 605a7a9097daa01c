"""Deduplication operators (SURVEY.md §2.10 X1/X2; driver contract
'dedup' family): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every near-dup path goes through LSH banding so candidate
generation is a hash-partitioned equi-join on band keys — never an
O(n^2) cross join.  All hashing is xxhash64 (JVM-side, seeded,
deterministic across runs/executors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ultimate_data_engineering_project_spark import tuning
from ultimate_data_engineering_project_spark.sources import readers

# Mersenne prime 2^31-1: universal-hash modulus for MinHash permutations.
# 31-bit so a*x stays below 2^63 (Spark ANSI mode errors on long overflow).
_MERSENNE31 = (1 << 31) - 1


def exact_dedup(df: DataFrame, cols: list[str], keep_order_col: str) -> DataFrame:
    """Exact dedup keeping the row with the smallest ``keep_order_col``
    per duplicate group (X1).

    The window is keyed on a map-side md5 FINGERPRINT of the dedup
    columns, never the columns themselves: at 100 TB an exchange that
    hash-partitions on a raw wide column (document text) ships every
    row's full key bytes as the shuffle key on top of the payload,
    while the 32-hex fingerprint keeps the key narrow and 128 bits
    make accidental merges negligible at any corpus size (~3e-15
    expected collisions at 1e12 rows — the same md5 discipline as the
    docs_exact_dedup_canonical / curation-flagship entries, r7).
    Multi-column keys fingerprint the JSON encoding of a struct, which
    is null-position-safe where concat_ws/xxhash64 null-skipping would
    conflate ('a', NULL, 'b') with ('a', 'b', NULL)."""
    from pyspark.sql import Window

    if len(cols) == 1:
        fp = F.md5(F.col(cols[0]).cast("string"))
    else:
        fp = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    # materialize the fingerprint as a real column BEFORE the window so
    # the exchange hash-partitions on it and Catalyst can prune the raw
    # key columns out of the shuffle payload when the caller's
    # downstream plan doesn't read them
    w = Window.partitionBy(F.col("__fp")).orderBy(F.col(keep_order_col))
    return (
        df.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (distinct)."""
    toks = F.split(text, " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """64-bit shingle hashes WITHOUT building shingle strings: hash each
    token once, then hash the n-tuple of token hashes per position
    (xxhash64 is variadic).  Same Jaccard as string shingles up to
    negligible collision mass, at a fraction of the cost — no per-
    shingle string allocation/concat.  Sorted for cheap set compare.

    The token-hash array is bound as a lambda variable (via a 1-element
    array transform) so it is evaluated ONCE per row — referencing the
    expression directly inside the positional lambda would re-evaluate
    the whole token-hash pipeline per shingle position.
    """
    toks = F.split(text, " ")
    th = F.transform(toks, lambda t: F.xxhash64(t))

    def per_row(t: Column) -> Column:
        # guard: texts shorter than n tokens hash as a single shingle
        # (the whole-token-tuple padded by position reuse is avoided —
        # element_at is out-of-bounds-strict under ANSI).
        full = F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.xxhash64(
                        *[F.element_at(t, i + j + 1) for j in range(n)]
                    ),
                )
            )
        )
        short = F.array(F.xxhash64(t))  # whole short text = one shingle
        return F.when(F.size(t) >= n, full).otherwise(short)

    return F.element_at(F.transform(F.array(th), per_row), 1)


def _minhash_signature(shingle_hashes: str, num_hashes: int, seed: int) -> Column:
    """num_hashes MinHash values via universal hashing
    h_i(x) = (a_i*x + b_i) mod p (Broder's linear-permutation family).

    Layout: the shingle array is bound ONCE, then num_hashes scalar
    min-aggregates run over it (one per permutation).  The earlier
    array-accumulator fold (zip_with per shingle) allocated two
    num_hashes-slot arrays per SHINGLE per row — the same pathology
    fixed in `simhash`, ~2x slower.  The naive formulation —
    num_hashes separate array_min(transform(...)) expressions over the
    un-bound input — is worse still: Catalyst's projection collapse
    inlines the whole upstream shingle pipeline into every pass
    (~30x).  Coefficients ship as one literal-array expression; all
    three forms are value-identical, and bit-identity with the Arrow
    kernel is pinned in tests.
    """
    if not isinstance(shingle_hashes, str):
        raise TypeError(
            "_minhash_signature takes the shingle-hash COLUMN NAME (the "
            "expression is generated as one SQL string)"
        )
    a_l, b_l = _minhash_coeffs(num_hashes, seed)
    a_sql = "array(" + ", ".join(f"{a}L" for a in a_l) + ")"
    b_sql = "array(" + ", ".join(f"{b}L" for b in b_l) + ")"
    p = _MERSENNE31
    return F.expr(
        f"element_at(transform(array(`{shingle_hashes}`), sh -> "
        f"transform(sequence(0, {num_hashes - 1}), i -> "
        f"aggregate(sh, CAST({p} AS BIGINT), (acc, x) -> least(acc, "
        f"(element_at({a_sql}, i + 1) * (x & {p}) "
        f"+ element_at({b_sql}, i + 1)) % {p})))), 1)"
    )


def _minhash_coeffs(num_hashes: int, seed: int):
    """The (a_i, b_i) universal-hash coefficients — one generator shared
    by both kernels so their signatures are bit-identical."""
    import random

    rng = random.Random(seed)
    a = [rng.randrange(1, _MERSENNE31) for _ in range(num_hashes)]
    b = [rng.randrange(0, _MERSENNE31) for _ in range(num_hashes)]
    return a, b


def _minhash_signature_arrow(num_hashes: int, seed: int, shh_col: str = "__shh"):
    """Arrow kernel for the signature fold: the same
    h_i(x) = (a_i*(x & p) + b_i) mod p family as the JVM fold, but the
    (shingles × num_hashes) min-reduction runs as one vectorized numpy
    batch per Arrow chunk instead of an interpreted Catalyst HOF fold.

    Bit-identical to `_minhash_signature` (shared coefficients; a < 2^31
    and x & p < 2^31 keep a*x below 2^62, so int64 never overflows in
    either engine).  Only the signature fold crosses into Python — the
    shingle hashing stays JVM-side xxhash64, so the Arrow transfer per
    row is one array<long>, not the text.

    Returns a ``mapInPandas`` function (batch iterator → batch iterator,
    appending ``__sig``), NOT a pandas_udf expression: the LSH pair
    search self-joins the signature plan, and analyzer relation-dedup
    duplicates an expression-level PythonUDF with its original result id
    on both branches, which defeats physical-planning UDF extraction
    (the raw PythonUDF then lands in a shuffle-write projection and the
    interpreter cannot evaluate it).  A map-level plan node has no such
    extraction step, and exchange reuse still materializes it once.
    """
    import numpy as np
    import pandas as pd

    a_l, b_l = _minhash_coeffs(num_hashes, seed)
    a = np.asarray(a_l, dtype=np.int64)
    b = np.asarray(b_l, dtype=np.int64)
    p = np.int64(_MERSENNE31)

    def sig_batch(shh):
        lens = np.fromiter((len(v) for v in shh), dtype=np.int64, count=len(shh))
        out = np.full((len(shh), num_hashes), _MERSENNE31, dtype=np.int64)
        nz = lens > 0
        if nz.any():
            flat = (
                np.concatenate([np.asarray(v, dtype=np.int64) for v in shh[nz]])
                & p
            )
            # (n_shingles, num_hashes) permuted hashes, min per row segment
            h = (flat[:, None] * a[None, :] + b[None, :]) % p
            offsets = np.zeros(int(nz.sum()), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=offsets[1:])
            out[nz] = np.minimum.reduceat(h, offsets, axis=0)
        return list(out)

    def fn(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["__sig"] = (
                sig_batch(pdf[shh_col].to_numpy())
                if len(pdf)
                else pd.Series([], dtype=object)
            )
            yield pdf

    return fn


def _with_minhash_signature(
    df: DataFrame, kernel: str, num_hashes: int, seed: int
) -> DataFrame:
    """Append ``__sig`` (array<long>) to ``df`` (which must carry
    ``__shh``) using ``kernel``, ``arrow`` or ``jvm`` (see
    :func:`tuning.kernel`)."""
    from pyspark.sql import types as T

    if kernel == "jvm":
        return df.withColumn(
            "__sig", _minhash_signature("__shh", num_hashes, seed)
        )
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("__sig", T.ArrayType(T.LongType()), False)]
    )
    return df.mapInPandas(_minhash_signature_arrow(num_hashes, seed), out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    jaccard_threshold: float = 0.5,
    max_band_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding (X2),
    verified with exact shingle-set Jaccard.

    The signature fold runs on the kernel :func:`tuning.kernel` picks,
    the same dispatch as ``similarity.scored_pairs``: ``arrow`` computes
    the (shingles × num_hashes) min-fold as one numpy batch per Arrow
    chunk, ``jvm`` is the Catalyst higher-order-function fold.  Both use
    the same universal-hash coefficients and produce bit-identical
    signatures (asserted in tests).  The fold is the only per-row
    superlinear term, so the Arrow kernel's payoff grows with document
    length × num_hashes; below the threshold its fixed Python-worker
    cost dominates.

    Plan shape: per-doc signature (map-only) -> explode to `bands` rows
    -> self equi-join on (band_id, band_hash) -> distinct pairs ->
    exact Jaccard check on the shingle arrays.  The join key is a
    64-bit hash, so the shuffle moves O(n*bands) narrow rows; no
    cross join anywhere.

    Returns (id_a, id_b, jaccard) with id_a < id_b and
    jaccard >= jaccard_threshold.
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing signature elements would be silently ignored"
        )
    rows_per_band = num_hashes // bands
    # shingle-hash arrays (array<long>) are the working representation:
    # Jaccard over 64-bit shingle hashes equals Jaccard over shingles up
    # to negligible collision mass, and long arrays shuffle/compare far
    # cheaper than string arrays (shingle strings are never built).
    # round-robin spread BEFORE the heavy per-row work: a corpus landing
    # as few large files (or one) would otherwise run the whole
    # shingle+signature pipeline on as few cores.  One listing sizes
    # both the spread and the kernel.
    files = tuning.input_files(df)
    n_spread = tuning.spread_width(df, files)
    kernel = tuning.kernel(df, files)
    # NOT checkpointed (r14, A/B-measured): materializing the heavy
    # per-doc shingle-hash arrays costs more than re-deriving them for
    # the verify sides — the expensive thing to pin is the SIGNATURE
    # pipeline, checkpointed narrow at `banded` below (both-ck 3.06s /
    # base-only 1.99s / banded-only 1.59s at sf0.1).
    base = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .repartition(n_spread)
        .select("__id", shingle_hashes(F.col("__text"), shingle_n).alias("__shh"))
    )

    # keyed repartition = materialization barrier: without it Catalyst's
    # projection collapse inlines the signature aggregate into each of
    # the `bands` band-hash expressions (recomputing it 8x per row).
    sig = _with_minhash_signature(base, kernel, num_hashes, seed).repartition("__id")
    # the band join carries ONLY (id, band_id, band_hash) — the shingle
    # arrays are re-attached after pair dedup, so heavy payloads cross
    # the shuffle once per surviving doc, not once per band.
    banded = sig.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("__sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("__band"),
    ).select("__id", "__band.band_id", "__band.band_hash")

    if max_band_size is not None:
        # degenerate-band guard (same contract as timeseries
        # max_bucket_size): a band key shared by a template-spam slab of
        # documents would make the self-join quadratic in the slab.
        # Dropping oversized bands bounds within-band work at
        # O(max_band_size^2); a true near-dup pair loses only the
        # recall that band carried (it still meets in its other
        # bands), and the exact-Jaccard verify keeps precision at 1.0.
        from pyspark.sql import Window

        wb = Window.partitionBy("band_id", "band_hash")
        banded = (
            banded.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= max_band_size)
            .drop("__bn")
        )

    # r15: pin the narrow (id, band_id, band_hash) frame only at
    # SCALE (tuning.pin, input-size gated) — both self-join sides
    # re-derive the signature pipeline without it (no cross-branch
    # reuse under AQE), but on small inputs the duplicated branch
    # overlaps on idle cores and the r14 unconditional eager
    # localCheckpoint here measured SLOWER on the driver's cold sweep
    # (minhash_near_dup_pairs 1.23s -> 1.64s); over a 100 TB corpus
    # the second signature pass dwarfs the materialization and the
    # pin wins.
    banded = tuning.pin(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify reads the PRE-signature frame: exact-Jaccard only needs the
    # shingle arrays, and keeping the Python map node out of these
    # branches matters — routing them through `sig` would serialize the
    # arrays through the Arrow fold again.  Re-deriving shingles here is
    # pure JVM map work and A/B-measured cheaper than materializing the
    # heavy arrays (see the `base` comment above).
    sh_a = base.select(F.col("__id").alias("id_a"), F.col("__shh").alias("sh_a"))
    sh_b = base.select(F.col("__id").alias("id_b"), F.col("__shh").alias("sh_b"))
    verified = pairs.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _md5_shingle_frame(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(__id, shingle) rows — distinct word-level shingles per doc, docs
    shorter than ``shingle_n`` tokens excluded (cross-engine shingle
    semantics shared by the md5 full-corpus and incremental paths)."""
    toks = F.split(F.col("__text"), " ")
    return (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .filter(F.size(toks) >= shingle_n)
        .select(
            "__id", F.explode(shingles(F.col("__text"), shingle_n)).alias("shingle")
        )
    )


def _md5_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(__id, __shs array<string>) — the per-doc distinct shingle SET as
    one array column (docs shorter than ``shingle_n`` tokens excluded).
    The array form feeds the signature expressions; explode it for the
    set-arithmetic verify step.  Round-robin spread BEFORE the heavy
    md5 work: a corpus landing as one file would otherwise run
    num_hashes x |shingles| md5 calls per doc on one core (the same
    guard as the xxhash path's tuning.spread_width)."""
    toks = F.split(F.col("__text"), " ")
    return (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .repartition(tuning.spread_width(df))
        .filter(F.size(toks) >= shingle_n)
        .select("__id", shingles(F.col("__text"), shingle_n).alias("__shs"))
    )


def _md5_band_frame(
    shingle_sets: DataFrame, *, num_hashes: int, bands: int
) -> DataFrame:
    """(__id, band_id, band_key) rows from a (__id, __shs) frame:
    permutation i of a shingle is md5(i ':' shingle), the signature
    element is the lexicographic MIN per (doc, i), and each band of
    ``rows_per_band`` consecutive elements hashes back through md5.
    Engine-portable (md5 only) — this IS the persisted index layout for
    the incremental dedup path.

    All signature/band math is per-doc ARRAY expressions over the bound
    shingle set — zero shuffle (the former explode-to-(doc, shingle,
    permutation) + two groupBys moved |docs|x|shingles|x num_hashes md5
    STRINGS through an exchange; at sf0.1 that shuffle was ~4x the
    whole operator)."""
    rows_per_band = num_hashes // bands

    # factory closure, NOT a default-arg lambda — PySpark reads a
    # lambda's arity to decide (element) vs (element, index) HOF form,
    # so `lambda sx, _i=i:` silently becomes the 2-arg variant
    def perm_fn(j: int):
        return lambda sx: F.md5(F.concat(F.lit(f"{j}:"), sx).cast("binary"))

    def band_structs(shs):
        sig = [
            F.array_min(F.transform(shs, perm_fn(i))) for i in range(num_hashes)
        ]
        return F.array(
            *[
                F.struct(
                    F.lit(b).cast("int").alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            ",", *sig[b * rows_per_band : (b + 1) * rows_per_band]
                        ).cast("binary")
                    ).alias("band_key"),
                )
                for b in range(bands)
            ]
        )

    bound = F.element_at(F.transform(F.array(F.col("__shs")), band_structs), 1)
    return shingle_sets.select("__id", F.explode(bound).alias("__b")).select(
        "__id", "__b.band_id", "__b.band_key"
    )


def minhash_band_index_md5(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Build the persistable LSH band INDEX for a corpus: one
    (id, band_id, band_key) row per doc-band, ready to be written as
    parquet (partition/bucket by band_key for co-located probes).  The
    100 TB incremental-dedup contract: index the historical corpus
    ONCE; each new batch probes it with
    ``minhash_match_index_md5`` instead of re-LSHing 100 TB per batch.
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    return _md5_band_frame(
        _md5_shingle_sets(df, id_col, text_col, shingle_n),
        num_hashes=num_hashes,
        bands=bands,
    ).select(F.col("__id").alias("id"), "band_id", "band_key")


def minhash_match_index_md5(
    new_docs: DataFrame,
    index: DataFrame,
    old_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup detection: match a NEW batch of documents
    against a pre-built corpus band index (``minhash_band_index_md5``
    output, typically re-read from parquet), returning verified
    (new_id, old_id, jaccard) pairs.

    Scale shape: the new batch (small) is banded and equi-joined against
    the index on (band_id, band_key) — the historical corpus
    contributes only its narrow index rows, never its text.  Exact
    Jaccard verification re-reads OLD documents only for candidate ids
    (a semi-join-bounded subset), so per-batch cost is
    O(|batch| + |candidates|), not O(|corpus|).  Within-batch pairs are
    NOT reported — run the batch through the full pair path for those;
    this operator is the batch-vs-history half of incremental dedup.
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    # r14 (optimization round, guide §5/§3.3): the new batch and the
    # candidate set are BOUNDED by this operator's contract (per-batch
    # cost is O(|batch| + |candidates|), never O(|corpus|)), so pinning
    # them with eager localCheckpoints is scale-safe and removes the
    # duplicated subtrees the lazy form paid: new_sets fed three
    # consumers (new_sh twice via n_new/inter, new_bands once) and
    # cand fed two (old-doc semi-join + inter), each re-running the
    # whole shingle/band/index-join pipeline per reference — ~20
    # parquet scans in one plan at r13.  The checkpoint materializes
    # only batch-sized frames; the corpus-sized index side still
    # streams through exactly one banded equi-join.
    new_sets = _md5_shingle_sets(
        new_docs, id_col, text_col, shingle_n
    ).localCheckpoint(eager=True)
    new_sh = new_sets.select("__id", F.explode("__shs").alias("shingle"))
    new_bands = _md5_band_frame(new_sets, num_hashes=num_hashes, bands=bands)
    cand = (
        new_bands.alias("n")
        .join(
            index.alias("o"),
            on=[
                F.col("n.band_id") == F.col("o.band_id"),
                F.col("n.band_key") == F.col("o.band_key"),
            ],
        )
        .select(
            F.col("n.__id").alias("new_id"), F.col("o.id").alias("old_id")
        )
        # defense-in-depth: if the caller's new/old sets overlap (or a
        # replayed stream batch probes an index already holding its own
        # rows), drop trivial self-pairs instead of reporting jaccard 1.0
        .filter(F.col("new_id") != F.col("old_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # verify: shingle sets of the new batch (already built) + ONLY the
    # candidate old docs (semi-join prune before the heavy re-shingle);
    # the candidates' shingle rows are checkpointed too — they feed both
    # n_old and the intersection join, and recomputing them would
    # re-scan the old corpus once per consumer
    old_cand = old_docs.join(
        cand.select(F.col("old_id").alias(id_col)).distinct(), on=id_col, how="left_semi"
    )
    old_sh = _md5_shingle_frame(
        old_cand, id_col, text_col, shingle_n
    ).localCheckpoint(eager=True)
    n_new = new_sh.groupBy("__id").agg(F.count(F.lit(1)).alias("n_a"))
    n_old = old_sh.groupBy("__id").agg(F.count(F.lit(1)).alias("n_b"))
    inter = (
        cand.join(
            new_sh.select(F.col("__id").alias("new_id"), "shingle"), "new_id"
        )
        .join(
            old_sh.select(F.col("__id").alias("old_id"), "shingle"),
            ["old_id", "shingle"],
        )
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(n_new.select(F.col("__id").alias("new_id"), "n_a"), "new_id")
        .join(n_old.select(F.col("__id").alias("old_id"), "n_b"), "old_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "old_id", "jaccard")
    )


def _md5_band_candidates(
    shingle_sets: DataFrame, *, num_hashes: int, bands: int
) -> DataFrame:
    """Distinct banded-minhash candidate pairs (id_a < id_b) from a
    (__id, __shs) frame — the LSH half of the md5 twin, shared by the
    pairs path and the recall audit."""
    bands_df = _md5_band_frame(shingle_sets, num_hashes=num_hashes, bands=bands)
    # r15: scale-gated pin of the narrow (id, band_id, band_key) frame
    # (tuning.pin) — both self-join sides otherwise re-derive it,
    # running the min-of-md5 signature (num_hashes md5 calls per
    # shingle, the md5 twin's dominant map cost) twice over the
    # corpus, which only outweighs a full materialization on a large
    # input (the r14 unconditional eager checkpoint here was part of
    # minhash_recall_audit's 2x driver-sweep regression).
    bands_df = tuning.pin(bands_df)
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Engine-portable MinHash+LSH near-dup pairs (X2): the md5 twin of
    `minhash_lsh_pairs`, built so a SQL oracle can reproduce the EXACT
    candidate set hash-for-hash on another engine.

    Permutation i of a shingle is ``md5(i || ':' || shingle)`` and the
    signature element is the lexicographic MIN of those hex strings —
    no engine-specific 64-bit hash, no modular arithmetic, identical
    text in, identical signature out on any engine with md5.  Bands
    hash ``rows_per_band`` consecutive signature strings back through
    md5; candidates self-equi-join on (band_id, band_key); survivors
    verify with exact shingle-set Jaccard.  Docs shorter than
    ``shingle_n`` tokens are excluded (cross-engine shingle semantics).

    Scale shape is the same banded equi-join as the xxhash64 path;
    the md5-string representation costs more per row (hex strings vs
    64-bit ints on the wire) — this entry exists for *auditability*,
    the xxhash64+Arrow path is the production kernel.
    """
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "a ragged extra band would diverge from the default-bound oracle"
        )
    sets = _md5_shingle_sets(df, id_col, text_col, shingle_n)
    base = sets.select("__id", F.explode("__shs").alias("shingle"))
    cand = _md5_band_candidates(sets, num_hashes=num_hashes, bands=bands)
    # shingles() is array_distinct, so (doc, shingle) rows are already
    # unique — no dedup shuffle needed before set arithmetic
    sh = base
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col("__id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("__id").alias("id_b"), "shingle")
    n_inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        n_inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index
    (X2 exact variant — the oracle-checkable baseline for MinHash).

    explode(shingles) -> self-join on shingle hash -> per-pair
    intersection count -> Jaccard from per-doc shingle counts.  The
    candidate set is bounded by shared shingles (inverted-index join),
    not n^2.  At 100 TB you'd pre-filter hot shingles (stop-shingles) —
    exposed via `max_doc_freq`.
    """
    n_spread = tuning.spread_width(df)
    base = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .repartition(n_spread)
        .select("__id", shingle_hashes(F.col("__text"), shingle_n).alias("__sh"))
    )
    sizes = base.select("__id", F.size("__sh").alias("__n"))
    inv = base.select("__id", F.explode(F.col("__sh")).alias("__sh64"))
    # df>1 prune behind a count window: a shingle hash held by exactly
    # one doc can never form a pair, so dropping it is exact (sizes
    # above pre-date the prune), and the window's hashpartitioning on
    # the join key is reused by BOTH self-join sides — one exchange,
    # one pass over the shingle pipeline.
    from pyspark.sql import Window

    df_w = Window.partitionBy("__sh64")
    inv = (
        inv.withColumn("__df", F.count(F.lit(1)).over(df_w))
        .filter(F.col("__df") > 1)
        .drop("__df")
    )
    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.join(b, on=[F.col("a.__sh64") == F.col("b.__sh64"), F.col("a.__id") < F.col("b.__id")])
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("n_a"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document (X2/Charikar): sum ±1 per bit over
    token xxhash64s, take sign bits.

    Token hashing stays JVM-side; the bit-vote fold is a per-row
    expression (aggregate over a 64-slot array) — map-only, no shuffle,
    no Python.
    """
    # round-robin spread first: the bit-vote fold is heavy per-row map
    # work, and a single-file corpus would run it all on one core (the
    # minhash `tuning.spread_width` discipline)
    df = df.repartition(tuning.spread_width(df))
    # SQL-expression form: the Python API's shiftright/shiftleft only
    # accept literal ints for the shift amount, the SQL functions accept
    # any expression.  Vote layout: per-BIT scalar aggregates over the
    # once-bound token-hash array (votes_b = 2*ones_b - n), NOT a
    # per-token 64-slot array fold — the fold allocates an array per
    # token per row and measured 2x slower at sf0.1; both forms are
    # bit-identical (asserted when this kernel landed).
    votes = F.expr(
        f"""
        element_at(transform(
          array(transform(split(`{text_col}`, ' '), t -> xxhash64(t))),
          th -> transform(sequence(0, 63),
            b -> CAST(2 * aggregate(th, CAST(0 AS BIGINT),
                                    (acc, h) -> acc + (shiftright(h, b) & 1))
                      - size(th) AS INT))), 1)
        """
    )
    sim = F.expr(
        """
        aggregate(
          zip_with(__votes, sequence(0, 63),
                   (v, b) -> IF(v > 0,
                                shiftleft(CAST(1 AS BIGINT), b),
                                CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT),
          (acc, x) -> acc | x
        )
        """
    )
    return (
        df.withColumn("__votes", votes)
        .select(F.col(id_col), sim.alias("simhash"))
    )


def simhash_md5(
    df: DataFrame, id_col: str, text_col: str = "text", *, n_bits: int = 48
) -> DataFrame:
    """Engine-portable SimHash (X2): per-token hash = first n_bits/4 hex
    chars of md5 (exact integer on any engine), bit-vote fold, sign
    bits.  48 bits (12 hex chars) keep every value < 2^48 — safely
    inside BIGINT on engines without unsigned 64-bit."""
    if n_bits % 4:
        raise ValueError(
            f"n_bits ({n_bits}) must be divisible by 4 (hex-digit granularity); "
            "truncating would leave the top bits permanently zero"
        )
    n_hex = n_bits // 4
    # round-robin spread first (see `simhash`): heavy per-row fold must
    # not run on a single-file scan's one partition
    df = df.repartition(tuning.spread_width(df))
    # per-bit scalar aggregates over the once-bound token-hash array
    # (see `simhash` — 2x faster than the per-token array fold,
    # bit-identical)
    votes = F.expr(
        f"""
        element_at(transform(
          array(transform(split(`{text_col}`, ' '),
                t -> cast(conv(substring(md5(cast(t as binary)), 1, {n_hex}),
                               16, 10) as bigint))),
          th -> transform(sequence(0, {n_bits - 1}),
            b -> CAST(2 * aggregate(th, CAST(0 AS BIGINT),
                                    (acc, h) -> acc + (shiftright(h, b) & 1))
                      - size(th) AS INT))), 1)
        """
    )
    sim = F.expr(
        f"""
        aggregate(
          zip_with(__votes, sequence(0, {n_bits - 1}),
                   (v, b) -> IF(v > 0,
                                shiftleft(CAST(1 AS BIGINT), b),
                                CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT),
          (acc, x) -> acc | x
        )
        """
    )
    return df.withColumn("__votes", votes).select(
        F.col(id_col), sim.alias("simhash")
    )


def simhash_near_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    n_bits: int = 48,
    block_bits: int = 12,
) -> DataFrame:
    """SimHash near-dup pairs, engine-portable twin of
    `simhash_near_pairs` — every step (md5-derived token hashes, bit
    votes, block keys, bit_count hamming) is exact integer arithmetic a
    SQL engine reproduces hash-for-hash, so the APPROXIMATE SimHash
    path itself carries a full oracle (the `minhash_lsh_pairs_md5`
    pattern).  Blocks on n_bits/block_bits slices; pigeonhole recall is
    GUARANTEED only when max_hamming < n_blocks (a pair differing in at
    most n_blocks-1 bits must leave one block untouched), so that is
    enforced — the twin's output is then EXACTLY the brute-force
    {hamming <= max_hamming} pair set, not an approximation of it.  For
    looser thresholds use more/smaller blocks or the xxhash64
    production path, whose wider radius is documented as approximate.
    Same banded-equi-join scale shape as the production path.

    Returns (id_a, id_b, hamming) with id_a < id_b,
    hamming <= max_hamming."""
    if n_bits % block_bits:
        raise ValueError(
            f"n_bits ({n_bits}) must be divisible by block_bits ({block_bits})"
        )
    n_blocks = n_bits // block_bits
    if max_hamming >= n_blocks:
        raise ValueError(
            f"max_hamming ({max_hamming}) >= n_blocks ({n_blocks}): "
            "pigeonhole blocking cannot guarantee recall — pairs with "
            "one differing bit per block would share no key and be "
            "silently dropped; lower max_hamming or shrink block_bits"
        )
    mask = (1 << block_bits) - 1
    # Keyed repartition = materialization barrier (stops projection
    # collapse from inlining the bit-vote sketch into every per-block
    # expression); the r15 scale-gated pin (tuning.pin) additionally
    # materializes the narrow (id, simhash) frame on LARGE inputs so
    # both self-join sides read one computation — r14's unconditional
    # eager localCheckpoint here cost more than the duplicated sketch
    # on the driver's cold sweep (simhash_near_dup_pairs 0.83s ->
    # 1.56s at sf0.1), while at 100 TB the second corpus-wide sketch
    # pass is the thing to avoid.
    sh = tuning.pin(
        simhash_md5(df, id_col, text_col, n_bits=n_bits).repartition(id_col)
    )
    blocked = sh.select(
        F.col(id_col).alias("__id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright("simhash", q * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("block"),
                    )
                    for q in range(n_blocks)
                ]
            )
        ).alias("__b"),
    ).select("__id", "simhash", "__b.q", "__b.block")
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.q") == F.col("b.q"),
                F.col("a.block") == F.col("b.block"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # dedup BEFORE the hamming filter — measured 1.7x faster than
        # filter-first: the partial (map-side) aggregate keeps one
        # buffer per distinct pair and evaluates first(hamming) once
        # per GROUP, while a pre-dedup filter evaluates bit_count(xor)
        # once per CANDIDATE row (10-50x more on near-dup-heavy
        # corpora).  Output and semantics identical either way.
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs: block on 16-bit quarters (pigeonhole: any
    pair within hamming distance <= 3 shares a quarter; for
    max_hamming up to 8 this is a high-recall blocking, standard
    practice) then exact hamming check via bit_count(xor).

    r15: keyed-repartition barrier (anti-projection-collapse) plus a
    scale-gated pin (tuning.pin) — the sketch fold runs twice across
    the self-join branches without a pin (no cross-branch reuse under
    AQE), which is the cheaper side of the trade below the pin
    threshold and the wrong one over a 100 TB corpus."""
    sh = tuning.pin(simhash(df, id_col, text_col).repartition(id_col))
    blocked = sh.select(
        F.col(id_col).alias("__id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright("simhash", q * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("block"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("__b"),
    ).select("__id", "simhash", "__b.q", "__b.block")
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.q") == F.col("b.q"),
                F.col("a.block") == F.col("b.block"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # dedup BEFORE the hamming filter — measured 1.7x faster than
        # filter-first: the partial (map-side) aggregate keeps one
        # buffer per distinct pair and evaluates first(hamming) once
        # per GROUP, while a pre-dedup filter evaluates bit_count(xor)
        # once per CANDIDATE row (10-50x more on near-dup-heavy
        # corpora).  Output and semantics identical either way.
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iterations: int = 25,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """Connected components over an undirected edge set, returning
    ``(id, component)`` for every node that appears in an edge, where
    ``component`` is the minimum node id in the component.

    This is the step the reference's dedup story stops short of: near-dup
    detection yields PAIRS, but canonicalization needs CLUSTERS —
    transitively closed groups (A~B, B~C => {A,B,C}) with one survivor
    each.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each
    round re-hangs every node under the minimum id of its neighborhood:

      * large-star: for each node u, connect every LARGER neighbor to
        min(N(u) + {u});
      * small-star: for each node u, connect u and every SMALLER
        neighbor to that minimum.

    Both are one groupBy + one equi-join on the node id (narrow long
    keys), and the pair converges to a star forest in O(log^2 n) rounds
    — O(log n) in practice; dedup graphs (near-clique clusters from
    LSH) settle in 2-3.  That is what makes it 100 TB-viable where
    driver-side union-find (all edges collected) and naive label
    propagation (O(diameter) rounds) are not.

    Each round ends in ``localCheckpoint`` to truncate lineage —
    iterative Spark plans otherwise grow exponentially deep and
    re-execute prior rounds.  Convergence is detected with one scalar
    aggregate per round (edge count + order-independent xxhash64 xor).

    Graphs whose DEDUPED edge count is at most
    ``small_graph_threshold`` take a bounded driver union-find instead:
    each alternating-star round costs multiple jobs of pure scheduling
    latency, which dwarfs a union-find when the graph is tiny — the
    same bounded-collect contract as the IVF centroid trainer.  Driver
    cost at the 200k default is a few tens of MB of Python objects
    (Rows + the parent dict), so size the threshold to the driver, not
    to the wire bytes.  The gate is one LIMIT-bounded collect over the
    already-checkpointed frame — it fetches at most threshold+1 rows,
    which are the small graph's edges when it fits, so a billion-edge
    graph pays nothing to learn it is big.  The
    distributed path is unchanged for anything bigger, and both paths
    are asserted identical in tests.  Pass 0 to force the distributed
    path.
    """
    raw = (
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # a node that appears ONLY in self-loop edges still counts as "a
    # node that appears in an edge" (the documented contract): keep
    # those as singleton (id, id) rows and fold them in at the end —
    # filtering u != v first would silently drop them from the output
    e = raw.filter(F.col("u") != F.col("v"))
    loops = raw.filter(F.col("u") == F.col("v")).select(
        F.col("u").alias("id"), F.col("u").alias("component")
    )
    # one bounded collect both probes the size and fetches a small graph
    small = e.limit(small_graph_threshold + 1).collect() if small_graph_threshold else []
    if small_graph_threshold and len(small) <= small_graph_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in small:
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by min id so the root IS the component label
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        out = [(x, find(x)) for x in parent]
        local = readers.local_frame(
            edges.sparkSession, out, "id long, component long"
        )
        return (
            local.unionByName(loops)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )

    def _sym(df: DataFrame) -> DataFrame:
        return df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))

    # each star op attaches min(N(u) ∪ {u}) via a partition-only window
    # (no ordering, so no sort) instead of groupBy+self-join: one
    # exchange on u serves the whole op, where the agg+join form costs
    # two.  Iteration latency, not data volume, dominates CC rounds.
    from pyspark.sql import Window

    u_w = Window.partitionBy("u")

    def _large_star(df: DataFrame) -> DataFrame:
        nbrs = _sym(df)
        with_min = nbrs.withColumn(
            "m", F.least(F.min("v").over(u_w), F.col("u"))
        )
        # no trailing distinct: the next op (small-star) dedups on its
        # own output anyway, and duplicate (v, m) rows change neither
        # windows' min nor the final distinct — dropping it saves one
        # full exchange per round (iteration latency dominates CC)
        return (
            with_min.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def _small_star(df: DataFrame) -> DataFrame:
        # orient every edge large->small: u > v.  No distinct here
        # either: the u_w window's min is duplicate-insensitive and the
        # round's single closing distinct restores set semantics (which
        # the convergence fingerprint's xor DOES require)
        directed = df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        with_min = directed.withColumn("m", F.min("v").over(u_w))
        out = (
            with_min.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(with_min.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return out

    def _fingerprint(df: DataFrame):
        # bit_xor, not sum: order-independent AND overflow-free under
        # ANSI mode (rows are distinct, so xor cancellation is safe)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = None
    converged = False
    for _ in range(max_iterations):
        # eager checkpoint: each round's frame has MULTIPLE consumers
        # (the symmetrizing union references it twice, plus the
        # fingerprint) — a lazy checkpoint materializes per-partition on
        # first touch and the other consumers can race into recompute;
        # measured A/B at sf0.1, eager is equal-or-faster and stabler.
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        fp = _fingerprint(e)
        if fp == prev:
            converged = True
            break
        prev = fp
    if not converged:
        # large-star/small-star converges in O(log n) rounds, so hitting
        # the cap means either a pathological graph or a bug — either
        # way the returned components may be UNDER-merged.  Surface it
        # rather than silently returning partial clusters.
        import warnings

        warnings.warn(
            f"connected_components stopped at max_iterations="
            f"{max_iterations} without a fixed point; components may be "
            "under-merged — raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )

    # e is now a star forest oriented large->small: (node, root).  Roots
    # themselves have no outgoing edge; give each a self-row.
    comp = e.select(F.col("u").alias("id"), F.col("v").alias("component")).union(
        e.select(F.col("v").alias("id"), F.col("v").alias("component"))
    )
    return (
        comp.unionByName(loops)
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


def ngram_contamination(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    shingle_n: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Train/eval contamination check (the decontamination step of an
    LLM data pipeline): for every corpus document, how many probe
    (benchmark) documents share at least ``min_shared`` word
    ``shingle_n``-grams with it, and the largest such overlap.

    Returns (id, n_probe_matches, max_shared) for contaminated corpus
    docs only.

    Scale: bipartite inverted-index equi-join on 64-bit shingle hashes
    (shingle strings never materialize) — candidate volume scales with
    shared-shingle document frequency, never |corpus| x |probe|; the
    probe side (a benchmark suite) is typically small enough that the
    join broadcasts.  Same candidate-generation shape as the near-dup
    family; the reference has no analog.
    """
    def exploded(df: DataFrame, out_id: str) -> DataFrame:
        toks_ok = F.size(F.split(F.col(text_col), " ")) >= shingle_n
        return (
            # round-robin spread BEFORE the per-row shingle pipeline —
            # a single-file corpus would otherwise hash every shingle
            # on one core (the trap tuning.spread_width closes for the
            # minhash/jaccard paths)
            df.repartition(tuning.spread_width(df))
            .filter(toks_ok)
            .select(
                F.col(id_col).alias(out_id),
                F.explode(shingle_hashes(F.col(text_col), shingle_n)).alias("__sh"),
            )
        )

    shared = (
        exploded(corpus, "__cid")
        .join(exploded(probe, "__pid"), "__sh")
        .groupBy("__cid", "__pid")
        .agg(F.count(F.lit(1)).alias("__n_shared"))
        .filter(F.col("__n_shared") >= min_shared)
    )
    return shared.groupBy(F.col("__cid").alias("id")).agg(
        F.count(F.lit(1)).alias("n_probe_matches"),
        F.max("__n_shared").alias("max_shared"),
    )


def duplicated_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 24,
    stride: int = 4,
    merge_gap: int | None = None,
    max_occ: int = 16,
    min_anchors: int = 1,
) -> DataFrame:
    """Cross-document duplicated-SPAN detection (substring-granularity
    exact dedup, the ExactSubstr idea of Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" re-expressed for a
    distributed engine): finds contiguous regions of text shared
    verbatim between documents and reports each as a span, not just a
    doc-level verdict — the op that catches a licence header, a quoted
    paragraph, or a templated footer pasted across otherwise-distinct
    documents, which doc-level MinHash scores below any threshold.

    Suffix arrays (the paper's structure) are a shared-memory design;
    the distributed re-expression is CONTENT-DEFINED ANCHORING
    (rsync/CDC-style): every w-char window is hashed, and a window is
    an *anchor* iff its hash ≡ 0 (mod ``stride``) — selection depends
    only on content, so two copies of a span select the SAME anchors
    regardless of where each copy sits in its document (a fixed-stride
    grid would misalign copies and match nothing).  A duplicated span
    of length L ≥ w then shares an anchor with probability
    1 − (1 − 1/stride)^(L−w+1) (≥ 99.7% at the defaults for L ≥ 114,
    exact-by-construction for any span that contains one anchor).

    Pipeline, every stage keyed (never all-pairs):

    1. anchor extraction — map-side only: positions and hashes are
       computed as an array fold per row and FILTERED to anchors
       before the explode, so only ~n_chars/stride rows ever exist;
    2. a boilerplate cap drops hashes occurring > ``max_occ`` times
       corpus-wide (ubiquitous strings would otherwise create
       quadratic bucket blowup — the same degenerate-bucket cap the
       MinHash band join uses);
    3. candidate matches — one hash-partitioned self-equi-join on the
       anchor hash (doc_a < doc_b);
    4. span assembly — matches on the same DIAGONAL (pa − pb constant)
       belong to the same aligned copy; per (doc_a, doc_b, diag) a
       window orders by pa and an islands pass (gap > ``merge_gap``
       starts a new island) merges runs of anchors into maximal spans.
       The groupBy that follows keys on a superset of the window's
       partition key, so Spark inserts NO second exchange.

    The hash is md5 (engine-portable: the DuckDB oracle reproduces
    anchor selection, matching, and merging bit-for-bit); a production
    deployment would swap xxhash64 for ~3x cheaper map-side CPU with
    the identical plan shape.

    Returns ``(doc_a, doc_b, a_start, b_start, span_len, n_anchors)``
    with 1-based character offsets; ``span_len = last_anchor_pos −
    first_anchor_pos + w`` (the verified-duplicated extent).
    """
    if merge_gap is None:
        merge_gap = 2 * w
    kept = _cap_anchor_occurrences(
        span_anchors(df, w=w, stride=stride, id_col=id_col, text_col=text_col),
        max_occ,
    )
    # r15 (guide §2.4/§7.2 duplicated-subtree check): both sides of
    # the h-keyed self-join consume `kept`.  At runtime the second
    # branch rides a ReusedExchange of the first on small inputs
    # (pinned by tests/test_physical_plans.py), so no materialization
    # is needed there — r14's unconditional eager localCheckpoint
    # replaced that reuse with a blocking job and measured SLOWER on
    # the driver's cold sweep (1.68s -> 2.48s at sf0.1) besides
    # breaking the plan test.  Over a large corpus the scale-gated pin
    # (tuning.pin) materializes the capped anchor frame once so the
    # per-position md5 fold over every character (the dominant map
    # cost) cannot run twice even where exchange reuse fails to fire.
    kept = tuning.pin(kept)
    matches = (
        kept.alias("a")
        .join(kept.alias("b"), "h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.p").alias("pa"),
            (F.col("a.p") - F.col("b.p")).alias("diag"),
        )
    )
    return merge_match_spans(matches, w=w, merge_gap=merge_gap,
                             min_anchors=min_anchors)


def span_anchors(
    df: DataFrame,
    *,
    w: int = 24,
    stride: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined anchor extraction (the shared first stage of
    `duplicated_spans` and its incremental stream): ``(doc_id, p, h)``
    — md5 of every w-gram, kept iff hash ≡ 0 (mod stride), filtered
    inside the array fold BEFORE the explode.  The anchor frame IS the
    persisted span index layout."""
    from ultimate_data_engineering_project_spark.operators.text import (
        _spread_narrow_scan,
    )

    # the per-position md5 fold dominates: a local few-file scan must
    # be spread or one core hashes the whole corpus (no-op at cluster
    # scale where the input is thousands of splits)
    df = _spread_narrow_scan(df)
    text = F.col(text_col)
    pos = F.sequence(F.lit(1), (F.length(text) - F.lit(w - 1)).cast("int"))
    grams = F.transform(
        pos,
        lambda p: F.struct(
            p.cast("long").alias("p"), F.md5(text.substr(p, F.lit(w))).alias("h")
        ),
    )
    sel = F.filter(
        grams,
        lambda s: F.conv(F.substring(s["h"], 1, 12), 16, 10).cast("bigint")
        % stride
        == 0,
    )
    return (
        df.where(F.length(text) >= w)
        .select(F.col(id_col).alias("doc_id"), F.explode(sel).alias("a"))
        .select("doc_id", F.col("a.p").alias("p"), F.col("a.h").alias("h"))
    )


def _cap_anchor_occurrences(anchors: DataFrame, max_occ: int) -> DataFrame:
    """Boilerplate cap: drop anchor hashes occurring > max_occ times in
    the given frame (degenerate-bucket bound for the h-keyed join)."""
    from pyspark.sql import Window

    return (
        anchors.withColumn(
            "__occ", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .where(F.col("__occ") <= max_occ)
        .drop("__occ")
    )


def merge_match_spans(
    matches: DataFrame,
    *,
    w: int,
    merge_gap: int,
    min_anchors: int = 1,
) -> DataFrame:
    """Diagonal islands-merge (the shared last stage): matches
    ``(doc_a, doc_b, pa, diag)`` on the same diagonal merge into
    maximal spans; the groupBy keys on a superset of the window's
    partition key, so no second exchange."""
    from pyspark.sql import Window

    wd = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = matches.withColumn("__prev", F.lag("pa").over(wd)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("__prev").isNull()
                | (F.col("pa") - F.col("__prev") > merge_gap),
                1,
            ).otherwise(0)
        ).over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pa").alias("a_start"),
            (F.max("pa") - F.min("pa") + F.lit(w)).alias("span_len"),
            F.count(F.lit(1)).alias("n_anchors"),
        )
        .where(F.col("n_anchors") >= min_anchors)
        .select(
            "doc_a",
            "doc_b",
            "a_start",
            (F.col("a_start") - F.col("diag")).alias("b_start"),
            "span_len",
            "n_anchors",
        )
    )
