"""Sinks (SURVEY.md S5-S8).

The reference lands pandas CSVs on S3 one object per batch
(psql_connector.py:136-166) and mutates rows with per-row UPDATEs
(oltp_seeder.py:483-487).  Spark-native equivalents:
  * typed, partitioned parquet append (bronze) and compatibility CSV:
    ``DataFrameWriter`` directly, no wrapper;
  * ``merge_overwrite`` — the join+overwrite MERGE pattern replacing
    in-place UPDATE (SURVEY §7 hard part (a)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    *,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) table write — the co-location
    contract for repeated large joins/aggregations on the same key.

    Two tables bucketed by the join key into the same bucket count join
    WITHOUT a shuffle: each task zips matching bucket files.  With
    ``sort_cols`` the sort-merge join also skips its sort.  At 100 TB
    this converts every recurring fact-fact join on the bucket key from
    a full network shuffle into a local merge — the biggest single
    lever for a fixed workload.  (Parquet files carry no bucket
    metadata, so this requires the catalog: hence saveAsTable.)
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def compact_parquet(
    spark,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
    keep_generations: int = 0,
    race_retries: int = 0,
) -> int:
    """Compact a parquet directory's small files to ~``target_file_bytes``
    outputs; returns the number of files written.

    The small-files problem is what every incremental/streaming bronze
    layer degrades into: thousands of KB-scale files per partition turn
    a 100 TB scan into a metadata storm (one task + one open per file,
    NameNode/liststore pressure) and defeat row-group-level skipping.
    Compaction = read -> repartition to ceil(bytes/target) -> commit
    through the manifest protocol (sources/manifest.py).
    ``partition_by`` hashes on the partition columns so each hive
    directory's rows land in one task (one file per directory).
    ``sort_within_by`` additionally sorts rows inside each output file
    (sortWithinPartitions — NO global shuffle) so min/max row-group
    stats become selective for those columns: the cheap cousin of
    Z-ordering for the single-column case.

    The table is in the one layout of sources/manifest.py: the rewrite
    is a ``manifest.fold`` that lands in a new immutable ``gen-NNNNNN``
    prefix, the ``_current`` pointer flips atomically (one small
    PUT/rename) to that base with no deltas, then superseded prefixes
    are DELETEd — no data-file rename, so local paths and remote
    schemes (hdfs://, s3a://) behave the same.  A stream's table whose
    pointer names deltas or merge keys is refused: only its stream
    (or `compact_rollup`) knows its merge rule.  Readers MUST use
    ``readers.read_current`` (it follows the pointer and reads with the
    stored schema; a plain ``spark.read.parquet`` on the root would
    double-read during the cleanup window).  The first call on a flat
    table ADOPTS it: data moves under ``gen-000001`` and the superseded
    flat files are deleted.  A crash before the flip leaves an orphan
    prefix the retry overwrites (the adoption source list excludes
    ``gen-*`` children, so a crashed first adoption never mixes into
    the flat read or its byte sizing); a crash after the flip leaves
    relics that readers ignore and the next run deletes.

    ``keep_generations=N`` ages superseded prefixes instead of deleting
    immediately — the N newest are retained, closing the
    in-flight-reader race (a reader that resolved the pointer up to N
    flips ago still finds its files) and enabling time travel via
    ``readers.read_at_generation``.

    Run a single compactor per table: the pointer is re-read after the
    flip and a lost race raises ``manifest.ManifestRaceError`` before
    cleanup.  ``race_retries=N`` instead re-runs a losing compaction
    from the winner's fresh state up to N times — both writers
    complete, and the loser's orphan prefix stays pointer-invisible
    and ages out under the normal ``keep_generations`` cleanup.

    The pointer names only the data prefix and its generation, not key
    statistics: computing them here would re-read the new generation on
    every compaction, while the window dispatchers' cached key probe
    (``windows.key_rows_stats``) pays once per input lineage.

    Input bytes are read from the filesystem listing, not estimated
    from row counts, so decompression ratio never skews the output
    sizing."""
    from ultimate_data_engineering_project_spark.sources import manifest

    return manifest.retry_races(
        lambda: _compact_parquet_attempt(
            spark,
            path,
            target_file_bytes=target_file_bytes,
            partition_by=partition_by,
            sort_within_by=sort_within_by,
            keep_generations=keep_generations,
        ),
        race_retries,
    )


def _compact_parquet_attempt(
    spark,
    path: str,
    *,
    target_file_bytes: int,
    partition_by: list[str] | None,
    sort_within_by: list[str] | None,
    keep_generations: int,
) -> int:
    import math

    from ultimate_data_engineering_project_spark.sources import manifest

    ptr = manifest.read_pointer(spark, path)
    if ptr and (ptr["deltas"] or "keys" in ptr):
        raise ValueError(
            f"{path!r} is a stream's table (its pointer names deltas or "
            "merge keys); fold it with its stream or compact_rollup"
        )
    if ptr:
        src_list = manifest.named_paths(path, ptr)
        base = manifest.read_table(spark, path, ptr=ptr)
    else:
        # adoption: explicit flat-source list, never the bare root — a
        # crashed first attempt leaves an orphan gen- dir that a root
        # read would mix in (conflicting layouts, double-counted bytes)
        src_list = manifest.list_flat_sources(spark, path)
        if not src_list:
            raise ValueError(f"no data to adopt under {path!r}")
        base = spark.read.option("basePath", path).parquet(*src_list)
    total = sum(sum(manifest.parquet_sizes(spark, s)) for s in src_list)
    n_out = max(1, math.ceil(total / target_file_bytes))
    if partition_by:
        # a single partition bigger than target_file_bytes would need a
        # salt column here to split further — callers with that shape
        # should compact partition-by-partition instead
        df = base.repartition(n_out, *partition_by)
    else:
        df = base.repartition(n_out)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    meta = manifest.fold(
        spark, path, ptr or manifest.new_pointer(), frame=df,
        partition_by=partition_by, keep_generations=keep_generations,
    )
    if ptr is None:
        manifest.delete_flat_children(spark, path)  # adoption
    return len(manifest.parquet_sizes(spark, manifest.join(path, meta["base"])))


def shuffled_export(
    df,
    path: str,
    *,
    key_col: str,
    seed: int = 0,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Deterministic GLOBAL shuffle of a training corpus at write time.

    Training runs need the corpus in a reproducible pseudo-random order
    (same order on every rerun/engine/cluster size — a seeded epoch).
    A driver-side orderBy + single writer or a global row_number window
    would serialize on one task; the scale-correct form is:

      shuffle_key = md5(seed || ':' || key)   (uniform, deterministic)
      repartitionByRange(shuffle_key)         (range exchange, sampled
                                               bounds — parallel)
      sortWithinPartitions(shuffle_key)       (local sort, no merge)

    Files are then globally ordered by shuffle_key: reading partitions
    in filename order replays the identical shuffled sequence.  The
    column is kept in the output so loaders can verify order.
    """
    from pyspark.sql import functions as F

    out = df.withColumn(
        "shuffle_key",
        F.md5(
            F.concat_ws(":", F.lit(str(seed)), F.col(key_col).cast("string")).cast(
                "binary"
            )
        ),
    )
    if n_files:
        out = out.repartitionByRange(n_files, "shuffle_key")
    else:
        out = out.repartitionByRange("shuffle_key")
    out.sortWithinPartitions("shuffle_key").write.mode(mode).parquet(path)


def merge_overwrite(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Set-oriented upsert: rows in ``updates`` replace same-key rows in
    ``current``; new keys append (S8 — the reference's keyed UPDATE,
    recast).  Anti-join + union: one shuffle each side on the key.

    The caller persists the result (full or partition-scoped overwrite);
    with a Delta/Iceberg table this becomes a real MERGE INTO — the
    algorithm is identical.
    """
    kept = current.join(updates.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(updates)


def s3a_conf(
    endpoint: str,
    access_key: str | None = None,
    secret_key: str | None = None,
    *,
    path_style_access: bool = True,
    ssl: bool = False,
) -> dict[str, str]:
    """Hadoop configuration for an s3a:// object-store sink/source (the
    reference lands batches on S3/MinIO — psql_connector.py:136-166 +
    compose.yaml MinIO service).  Apply with
    ``for k, v in s3a_conf(...).items():
        spark.sparkContext._jsc.hadoopConfiguration().set(k, v)``
    or as ``spark.hadoop.*`` builder configs; then every parquet or
    CSV path may be ``s3a://bucket/prefix``.  Path-style access +
    no-SSL are the MinIO-compatible defaults; credentials default to the
    provider chain (IAM role) when not given."""
    conf = {
        "fs.s3a.endpoint": endpoint,
        "fs.s3a.path.style.access": str(path_style_access).lower(),
        "fs.s3a.connection.ssl.enabled": str(ssl).lower(),
        "fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
    }
    if access_key is not None:
        conf["fs.s3a.access.key"] = access_key
    if secret_key is not None:
        conf["fs.s3a.secret.key"] = secret_key
    return conf


def zorder_value(
    cols: list[str], mins: list[float], maxs: list[float], *, bits: int = 12
) -> "F.Column":
    """Z-order (Morton) key over 2-4 numeric columns as one JVM-side
    expression: each column is linearly quantized to ``bits`` bits over
    its [min, max] range (driver-known constants — one bounded aggregate
    upstream), then the bit planes interleave so nearby (c1, c2, ...)
    tuples get nearby keys.  len(cols) * bits must stay <= 63 (signed
    long)."""
    n = len(cols)
    if not 2 <= n <= 4:
        raise ValueError("zorder_value interleaves 2-4 columns")
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits overflows a signed long")
    top = (1 << bits) - 1
    quantized = []
    for c, mn, mx in zip(cols, mins, maxs):
        span = float(mx) - float(mn)
        if span <= 0:
            quantized.append(F.lit(0).cast("long"))
            continue
        scaled = (
            (F.col(c).cast("double") - float(mn)) / span * top
        ).cast("long")
        quantized.append(F.least(F.lit(top), F.greatest(F.lit(0), scaled)))
    return _morton_interleave(quantized, bits)


def _morton_interleave(quantized: list["F.Column"], bits: int) -> "F.Column":
    """Interleave the low ``bits`` bits of each quantized column into
    one Morton key (bit i of column j lands at position i*n + j)."""
    n = len(quantized)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, qc in enumerate(quantized):
            bit = F.shiftright(qc, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def _rank_bucket(col: str, boundaries: list[float]) -> "F.Column":
    """Equi-DEPTH bucket id of a column against driver-computed quantile
    boundaries (count of boundaries <= x): rank quantization is what
    makes Z-ordering robust to skew — a heavy-tailed column under
    linear min/max quantization collapses into a handful of codes and
    the interleave degenerates to a single-column sort."""
    blit = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.size(F.filter(blit, lambda b: b <= F.col(col).cast("double"))).cast(
        "long"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 8,
    n_files: int = 8,
    mode: str = "overwrite",
    quantization: str = "rank",
) -> None:
    """Write parquet Z-ORDERED on ``cols`` for multi-column data
    skipping (the Delta OPTIMIZE ZORDER BY recipe, expressed with plain
    open-source Spark): quantize + interleave into a Morton key, range-
    partition on it, sort within partitions, write.

    Why it matters at 100 TB: parquet readers prune row groups by
    min/max stats.  A single-column sort gives perfect pruning on that
    column and NONE on the others; the Morton layout gives good pruning
    on EVERY interleaved column at once, so multi-predicate scans skip
    most of the table.  The improvement is asserted quantitatively in
    tests (per-row-group stats via pyarrow: fraction of row groups a
    small box query must read drops vs a one-column sort layout).

    ``quantization='rank'`` (default) buckets each column by its own
    approximate quantile boundaries (equi-depth — skew-proof, the
    range-partition-id recipe); ``'linear'`` scales by [min, max] (fine
    for uniform columns, degenerate for heavy tails).  Both need only a
    bounded driver round-trip of per-column constants.  Rank mode pays
    O(2^bits) comparisons per row per column against the boundary
    literal — the default 8 bits (256 equi-depth buckets per dimension)
    is plenty of layout resolution at a write-once cost; raise bits
    only with 'linear'."""
    n = len(cols)
    if not 2 <= n <= 4:
        raise ValueError("write_zordered interleaves 2-4 columns")
    if quantization == "rank":
        k = 1 << bits
        if n * bits > 63:
            raise ValueError(f"{n} cols x {bits} bits overflows a signed long")
        probs = [i / k for i in range(1, k)]
        casted = df.select(
            *[F.col(c).cast("double").alias(c) for c in cols]
        )
        bounds = casted.stat.approxQuantile(cols, probs, 0.01)
        q = [_rank_bucket(c, bounds[i]) for i, c in enumerate(cols)]
        z = _morton_interleave(q, bits)
    elif quantization == "linear":
        row = df.agg(
            *[
                F.min(F.col(c).cast("double")).alias(f"__mn{i}")
                for i, c in enumerate(cols)
            ],
            *[
                F.max(F.col(c).cast("double")).alias(f"__mx{i}")
                for i, c in enumerate(cols)
            ],
        ).collect()[0]
        mins = [row[f"__mn{i}"] for i in range(len(cols))]
        maxs = [row[f"__mx{i}"] for i in range(len(cols))]
        z = zorder_value(cols, mins, maxs, bits=bits)
    else:
        raise ValueError(
            f"unknown quantization {quantization!r}; use 'rank' or 'linear'"
        )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
