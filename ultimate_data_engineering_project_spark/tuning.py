"""Scale decisions: every choice the engine makes from input size.

The right plan for a test-sized fixture on one machine is the wrong one
over a 100 TB corpus, so these choices are made per call from the
frame's source files, sized metadata-only (:func:`input_files`: the
file listing plus a local stat; it never runs a job and never
finalizes the AQE plan).  This list is the only place they are made:

* **Pin** — :func:`pin`, at every multi-branch frame site.
  ``spark.udep.pin.mode``: ``auto`` (default) | ``always`` | ``never``.
  ``spark.udep.pin.minInputBytes``: integer, default 1 GiB.
  ``spark.udep.pin.storage``: ``auto`` (default) | ``localCheckpoint``
  | ``diskPersist``.
  Catalyst reuses no subtree across branches, so a frame feeding both
  sides of a self-join is computed once per side.  Below the threshold
  the duplicated branch overlaps on idle cores and is cheaper than a
  blocking materialization job; above it the second pass over the
  input costs more than one materialization.  1 GiB per scan is where
  a duplicated pass stops hiding behind idle cores at any practical
  executor sizing (measured pin cost at sf0.1: 0.3-5 s per query).

* **Similarity kernel** — :func:`kernel`, in
  ``similarity.scored_pairs`` (cosine scoring) and
  ``dedup.minhash_lsh_pairs`` (MinHash signature fold).
  ``spark.udep.similarity.kernel``: ``auto`` (default) | ``arrow`` |
  ``jvm``.
  ``spark.udep.similarity.kernelMinInputBytes``: integer, default
  256 MiB.
  Each site has a bit-identical Arrow kernel and JVM
  higher-order-function fold.  The Arrow kernel is far cheaper per row
  but pays a fixed Python-worker start and Arrow transfer per stage,
  which dominates small inputs (brute-force cosine at sf0.1, ~7 MB of
  vectors: kernel 8.5 s, JVM fold under 1 s).  At 256 MiB of vector
  input, ~10-100M candidate pairs after blocking, the fold's per-pair
  CPU is minutes and dwarfs the worker start.  The JVM fold also keeps
  every byte off the Python workers.

* **Scan spread width** — :func:`spread_width`, before heavy per-row
  map work (dedup shingling and signatures, the text folds, the Avro
  codec).  No conf: ``min(spark.sql.shuffle.partitions, max(8, 4 *
  splits))``, where splits is :func:`estimate_splits`.  A corpus that
  lands as a few files would otherwise run the whole per-row pipeline
  on a few cores, and an explicit ``repartition(n)`` is exempt from
  AQE coalescing, so the full conf width would pay a task wave per
  near-empty partition on a small input.

In ``auto`` mode a frame with no local listing (in-memory sources, a
remote scheme) takes the small side.  A mode outside its list or a
threshold that is not an integer raises ``ValueError`` naming the key.
"""

from __future__ import annotations

import os
from urllib.parse import urlsplit

from pyspark.sql import DataFrame

PIN_MODE_CONF = "spark.udep.pin.mode"
PIN_MIN_BYTES_CONF = "spark.udep.pin.minInputBytes"
PIN_STORAGE_CONF = "spark.udep.pin.storage"
PIN_MIN_BYTES_DEFAULT = 1 << 30

KERNEL_CONF = "spark.udep.similarity.kernel"
KERNEL_MIN_BYTES_CONF = "spark.udep.similarity.kernelMinInputBytes"
KERNEL_MIN_BYTES_DEFAULT = 256 << 20


def input_files(df: DataFrame) -> tuple[int, int]:
    """``(file count, total bytes)`` of the frame's source files.

    ``(0, 0)`` when there is no local listing: in-memory or RDD-backed
    sources (an already-checkpointed batch), a remote scheme whose
    sizes are not cheaply listable from the driver, or a listing that
    raced a rewrite.  Metadata-only: probing
    ``.rdd.getNumPartitions()`` instead would finalize the AQE plan and
    execute upstream exchange stages of a derived frame."""
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - sources without file listing
        return 0, 0
    total = 0
    for f in files:
        u = urlsplit(f)
        if u.scheme.lower() not in ("", "file"):
            return 0, 0
        try:
            total += os.path.getsize(u.path or f)
        except OSError:  # pragma: no cover - listing raced a rewrite
            return 0, 0
    return len(files), total


def estimate_splits(
    df: DataFrame, files: tuple[int, int] | None = None
) -> int | None:
    """Scan split count: the file count, or bytes over
    ``spark.sql.files.maxPartitionBytes`` for large splittable files.
    None without a local listing.  ``files`` is a listing the caller
    already holds."""
    n_files, n_bytes = files or input_files(df)
    if not n_files:
        return None
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return max(n_files, -(-n_bytes // conf.filesMaxPartitionBytes()))


def spread_width(df: DataFrame, files: tuple[int, int] | None = None) -> int:
    """Round-robin width before heavy per-row work: 4x the scan's
    split count, at least 8, at most ``spark.sql.shuffle.partitions``
    (the conf width when the splits are unknown).  Splits, not files:
    one 10 GB parquet file is ~80 splits."""
    n_conf = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_splits = estimate_splits(df, files)
    return n_conf if n_splits is None else min(n_conf, max(8, 4 * n_splits))


def _conf_choice(df: DataFrame, key: str, allowed: tuple[str, ...]) -> str:
    """The session value of ``key`` (default ``allowed[0]``), which must
    be one of ``allowed``."""
    value = df.sparkSession.conf.get(key, allowed[0])
    if value not in allowed:
        raise ValueError(
            f"{key}={value!r}: expected one of {', '.join(map(repr, allowed))}"
        )
    return value


def _conf_int(df: DataFrame, key: str, default: int) -> int:
    """The session value of ``key`` as an integer."""
    raw = df.sparkSession.conf.get(key, str(default))
    try:
        return int(raw)
    except ValueError:
        raise ValueError(f"{key}={raw!r}: expected an integer") from None


def choose(
    df: DataFrame,
    mode_conf: str,
    min_bytes_conf: str,
    min_bytes_default: int,
    *,
    small: str,
    large: str,
    force: bool = False,
    files: tuple[int, int] | None = None,
) -> str:
    """Resolve one scale decision to ``small`` or ``large``.

    ``mode_conf`` is ``auto``, ``small`` or ``large``; the last two
    force a side.  ``auto`` takes ``large`` when the source files total
    at least ``min_bytes_conf`` bytes, and lists them only then.
    ``force=True`` resolves ``auto`` to ``large`` without listing; a
    forced ``small`` mode still wins.  ``files`` is a listing the
    caller already holds."""
    mode = _conf_choice(df, mode_conf, ("auto", small, large))
    threshold = _conf_int(df, min_bytes_conf, min_bytes_default)
    if mode != "auto":
        return mode
    if force:
        return large
    n_files, n_bytes = files or input_files(df)
    return large if n_files and n_bytes >= threshold else small


def kernel(df: DataFrame, files: tuple[int, int] | None = None) -> str:
    """``arrow`` or ``jvm`` for the similarity kernels."""
    return choose(
        df,
        KERNEL_CONF,
        KERNEL_MIN_BYTES_CONF,
        KERNEL_MIN_BYTES_DEFAULT,
        small="jvm",
        large="arrow",
        files=files,
    )


def pin(df: DataFrame, *, eager: bool = False, force: bool = False) -> DataFrame:
    """Materialize ``df`` once for multi-branch consumption when the
    input is big enough (see the module docstring).

    ``force=True`` skips the size gate, for frames measured worth
    materializing at every scale (the recall audit's shared shingle
    frames); ``spark.udep.pin.mode=never`` still wins.  Frames with no
    file listing are not pinned in ``auto`` mode: they are already
    materialized or test-sized, and a cluster feeding non-file sources
    sets the mode explicitly.

    Storage ``auto`` uses ``localCheckpoint`` on a local master, where
    executor loss ends the app anyway, and ``persist(DISK_ONLY)``
    elsewhere, which keeps lineage so a lost executor recomputes
    instead of failing the query.  ``eager`` applies to
    ``localCheckpoint`` only; lazy (the default) runs no job while the
    DataFrame is being built."""
    storage = _conf_choice(
        df, PIN_STORAGE_CONF, ("auto", "localCheckpoint", "diskPersist")
    )
    taken = choose(
        df,
        PIN_MODE_CONF,
        PIN_MIN_BYTES_CONF,
        PIN_MIN_BYTES_DEFAULT,
        small="never",
        large="always",
        force=force,
    )
    if taken == "never":
        return df
    if storage == "auto":
        local = df.sparkSession.sparkContext.master.startswith("local")
        storage = "localCheckpoint" if local else "diskPersist"
    if storage == "diskPersist":
        from pyspark import StorageLevel

        return df.persist(StorageLevel.DISK_ONLY)
    return df.localCheckpoint(eager=eager)
