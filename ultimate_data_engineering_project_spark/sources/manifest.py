"""Manifest-pointer table layout: the one compaction protocol.

``sinks.compact_parquet`` and ``streaming.pipelines.compact_rollup``
never rename data files.  A compaction writes its output into a NEW
immutable prefix and then flips one small pointer object, so the same
protocol is safe on a local filesystem, HDFS and s3a://-style object
stores (where rename is a non-atomic O(data) copy+delete).  Readers
follow the pointer (``readers.read_current`` / ``read_rollup``):

``table_dir/``
  ``_current``       one small JSON object — THE pointer (see below)
  ``gen-000001/``    immutable data prefixes; a compaction writes a
  ``gen-000002/``    NEW generation and never touches an old one

The CDC table of ``streaming.pipelines.run_cdc_stream`` is the second
user of the pointer.  Its pointer also names the committed
``batch=<id>`` deltas beside the base generation: every micro-batch
writes one delta and flips the pointer through ``commit``, and a fold
writes the next ``gen-`` prefix from the base and the deltas.  Its
reader is ``cdc_table_image``.

The pointer flip is the only mutation of shared state, and it is a
single small-object write:

* local / HDFS: write ``_current.tmp`` then ``os.replace`` /
  ``FileSystem.rename`` — atomic on POSIX and HDFS;
* object stores: one PUT of the ``_current`` key — PUT is atomic on
  S3/GCS/ABFS (readers see the old or the new pointer, never a torn
  one).  Data files are only ever PUT into a fresh prefix and DELETEd
  after the flip — no data-file rename anywhere in the protocol.

Crash discipline (pinned by tests):
  * crash BEFORE the flip: the new generation prefix is an orphan; the
    pointer still names the old one, readers are unaffected, and the
    next compaction run rewrites the same next-generation name
    (generation numbers derive from the pointer, so the retry
    overwrites the orphan).
  * crash AFTER the flip, before cleanup: superseded prefixes linger;
    readers ignore them (they follow the pointer) and the next
    compaction deletes them.
  * in-flight readers that resolved the pointer before a flip may
    still be scanning the old prefix while cleanup deletes it — the
    same race every snapshot-pointer table format has.  The answer is
    GENERATION AGEING: ``keep_generations=N`` on the compactors
    retains the N newest superseded prefixes (deleting only older
    ones), so a reader that resolved the pointer up to N compactions
    ago still finds its files; ``read_at_generation`` /
    ``read_current(generation=...)`` give the retained prefixes their
    natural audit read (time travel to a prior snapshot).

Writer discipline: the protocol is SINGLE-COMPACTOR.  ``write_pointer``
is last-writer-wins (object stores give us atomic PUT, not
compare-and-swap), so two concurrent compactions would both derive the
same next generation, overwrite each other's data files mid-write, and
the winner's cleanup could delete state the loser believes committed.
Run one compactor per table (the same discipline every
pointer-flipping maintenance job has).  ``commit`` re-reads the pointer
AFTER its flip and raises :class:`ManifestRaceError` on a lost race
before any cleanup (best-effort detection, not prevention);
``retry_races`` re-runs a losing compaction from the winner's pointer.

Remote paths go through Spark's Hadoop FileSystem (the s3a connector
the cluster already has); local paths use plain Python I/O so the
protocol is testable with zero cluster dependencies.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlsplit

POINTER_NAME = "_current"


def _is_local(path: str) -> bool:
    parts = urlsplit(path)
    scheme = parts.scheme.lower()
    return scheme in ("", "file") and not (scheme == "file" and parts.netloc)


def _local_path(path: str) -> str:
    parts = urlsplit(path)
    return parts.path if parts.scheme.lower() == "file" else path


def _hadoop_fs(spark, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath, jvm


def read_pointer(spark, table_dir: str) -> dict | None:
    """The table's current manifest, or None if the table has no
    pointer (legacy flat layout)."""
    if _is_local(table_dir):
        p = os.path.join(_local_path(table_dir), POINTER_NAME)
        if not os.path.exists(p):
            return None
        with open(p, "r", encoding="utf-8") as fh:
            return json.load(fh)
    fs, jpath, jvm = _hadoop_fs(spark, table_dir)
    ptr = jvm.org.apache.hadoop.fs.Path(jpath, POINTER_NAME)
    if not fs.exists(ptr):
        return None
    stream = fs.open(ptr)
    try:
        raw = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(raw.decode("utf-8"))


def write_pointer(spark, table_dir: str, meta: dict) -> None:
    """Atomically flip the table pointer to ``meta``.

    Local: tmp file + ``os.replace`` (atomic rename on POSIX).
    Remote: a single ``FileSystem.create(overwrite=True)`` — one PUT
    on object stores, which is atomic there (S3/GCS/ABFS never expose
    a partially-written object)."""
    payload = json.dumps(meta, sort_keys=True).encode("utf-8")
    if _is_local(table_dir):
        root = _local_path(table_dir)
        os.makedirs(root, exist_ok=True)
        tmp = os.path.join(root, POINTER_NAME + ".tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(root, POINTER_NAME))
        return
    fs, jpath, jvm = _hadoop_fs(spark, table_dir)
    ptr = jvm.org.apache.hadoop.fs.Path(jpath, POINTER_NAME)
    out = fs.create(ptr, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()


def list_children(spark, table_dir: str, prefix: str) -> list[str]:
    """Child directory NAMES under ``table_dir`` starting with
    ``prefix`` (scheme-agnostic; used to find batch=/gen- prefixes)."""
    if _is_local(table_dir):
        root = _local_path(table_dir)
        if not os.path.isdir(root):
            return []
        return sorted(
            n for n in os.listdir(root)
            if n.startswith(prefix) and os.path.isdir(os.path.join(root, n))
        )
    fs, jpath, _ = _hadoop_fs(spark, table_dir)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            out.append(name)
    return sorted(out)


def delete_prefix(spark, table_dir: str, name: str) -> None:
    """Delete one child prefix (post-flip cleanup; a DELETE, never a
    rename, so it is object-store-safe)."""
    if _is_local(table_dir):
        import shutil

        p = os.path.join(_local_path(table_dir), name)
        if os.path.exists(p):
            shutil.rmtree(p)
        return
    fs, jpath, jvm = _hadoop_fs(spark, table_dir)
    child = jvm.org.apache.hadoop.fs.Path(jpath, name)
    if fs.exists(child):
        fs.delete(child, True)


def join(table_dir: str, name: str) -> str:
    return table_dir.rstrip("/") + "/" + name


def list_flat_sources(spark, table_dir: str) -> list[str]:
    """Root-level data sources for ADOPTION of a legacy flat table:
    every child EXCEPT ``gen-*`` prefixes, the pointer, and metadata
    files.  A crashed first adoption (gen written, pointer flip never
    happened) leaves an orphan ``gen-`` dir beside the flat files — a
    bare ``spark.read.parquet(root)`` would then mix the two layouts
    (conflicting-directory failure) and double-count bytes, so the
    retry must read exactly this list."""
    def keep(n: str) -> bool:
        # gen- prefixes are the new layout; "_"/"." children are
        # metadata Spark would skip in a directory read but would choke
        # on in an explicit file list (_SUCCESS, .crc, _current*).
        # Spark's own rule keeps "_" names with "=": partition dirs
        # such as __bucket=3
        hidden = n.startswith(".") or (n.startswith("_") and "=" not in n)
        return not (n.startswith("gen-") or hidden)

    if _is_local(table_dir):
        root = _local_path(table_dir)
        if not os.path.isdir(root):
            return []
        return [
            os.path.join(root, n) for n in sorted(os.listdir(root)) if keep(n)
        ]
    fs, jpath, _ = _hadoop_fs(spark, table_dir)
    if not fs.exists(jpath):
        return []
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(jpath)
        if keep(st.getPath().getName())
    )


class ManifestRaceError(RuntimeError):
    """A compactor lost a pointer race: another writer flipped the
    table past this compaction's generation.  Carries the fresh
    generation so the loser can retry from the winner's state."""

    def __init__(self, message: str, *, seen):
        super().__init__(message)
        self.seen = seen


def verify_pointer_generation(spark, table_dir: str, generation: int) -> None:
    """Best-effort lost-race detection for the single-compactor
    contract: re-read the pointer and fail loudly if another writer
    flipped it past ``generation`` (see the module docstring — PUT is
    atomic but not compare-and-swap, so this detects a lost race
    after the fact rather than preventing it).  ``commit`` calls it
    between its flip and its cleanup, so a losing compactor never
    deletes the winner's state; ``retry_races`` catches the
    :class:`ManifestRaceError` and re-runs from the fresh pointer."""
    ptr = read_pointer(spark, table_dir)
    got = ptr.get("generation") if ptr else None
    if got != generation:
        raise ManifestRaceError(
            f"manifest pointer race on {table_dir!r}: this compaction "
            f"flipped to generation {generation} but the pointer now "
            f"reads {got!r} — another compactor is running against the "
            "single-writer contract; aborting before cleanup so the "
            "winner's state is not deleted",
            seen=got,
        )


def generation_name(generation: int) -> str:
    return f"gen-{generation:06d}"


def commit(
    spark, table_dir: str, meta: dict, *, keep_generations: int = 0
) -> None:
    """The commit step of a compaction whose output already sits in
    ``generation_name(meta["generation"])``: flip the pointer to
    ``meta``, verify the flip was not lost to another compactor, then
    age out superseded ``gen-`` prefixes.

    Cleanup is DELETEs only and runs only after the lost-race check, so
    a losing compactor never deletes the winner's state.  With
    ``keep_generations=N`` the N newest superseded prefixes survive
    (in-flight readers and ``read_at_generation`` time travel);
    otherwise every superseded prefix goes.  A crash anywhere in here
    leaves prefixes the pointer does not name: readers ignore them and
    the next commit deletes them."""
    generation = meta["generation"]
    write_pointer(spark, table_dir, meta)
    verify_pointer_generation(spark, table_dir, generation)
    live = generation_name(generation)
    superseded = [
        n for n in list_children(spark, table_dir, "gen-") if n != live
    ]
    for name in superseded[: max(0, len(superseded) - keep_generations)]:
        delete_prefix(spark, table_dir, name)


def retry_races(attempt, race_retries: int):
    """Run ``attempt()`` and, each time it loses a pointer race, run it
    again from the winner's fresh pointer, up to ``race_retries`` more
    times; the last :class:`ManifestRaceError` propagates.  The loser's
    own prefix stays pointer-invisible and ages out under the normal
    ``keep_generations`` cleanup."""
    for n in range(race_retries + 1):
        try:
            return attempt()
        except ManifestRaceError:
            if n == race_retries:
                raise


def total_bytes(spark, path: str) -> int:
    """Recursive data size of a prefix (compaction output sizing) —
    parquet bytes from the local walk, or the filesystem's content
    summary on remote schemes."""
    if _is_local(path):
        root = _local_path(path)
        if os.path.isfile(root):  # adoption lists root-level files too
            return os.path.getsize(root) if root.endswith(".parquet") else 0
        return sum(
            os.path.getsize(os.path.join(dirpath, f))
            for dirpath, _, files in os.walk(root)
            for f in files
            if f.endswith(".parquet")
        )
    fs, jpath, _ = _hadoop_fs(spark, path)
    return int(fs.getContentSummary(jpath).getLength())


def delete_flat_children(spark, table_dir: str) -> None:
    """Adoption cleanup: after a legacy flat table's data is rewritten
    into its first ``gen-`` prefix and the pointer flipped, delete the
    superseded flat files/partition dirs at the root (everything except
    ``gen-*`` prefixes and the pointer).  DELETEs only."""
    if _is_local(table_dir):
        import shutil

        root = _local_path(table_dir)
        for n in os.listdir(root):
            if n.startswith("gen-") or n.startswith(POINTER_NAME):
                continue
            p = os.path.join(root, n)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
        return
    fs, jpath, _ = _hadoop_fs(spark, table_dir)
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("gen-") or name.startswith(POINTER_NAME):
            continue
        fs.delete(st.getPath(), True)
