"""Manifest-pointer table layout: the one layout of every table that
grows batch by batch, and the one compaction protocol.

This module is the only code that knows the layout.  The streams of
``streaming.pipelines`` (CDC, its quarantine, dedup, ann, pq, bm25,
bpe_encode, quality_model, span and rollup), ``compact_rollup`` and
``sinks.compact_parquet`` write through `commit_batch` and `fold`;
``readers.read_current``, ``cdc_table_image``, ``read_rollup`` and the
streams' history probes read through `read_table`.

``table_dir/``
  ``_current``       one small JSON object — THE pointer (see below)
  ``gen-000001/``    the base: immutable data prefixes; a fold writes
  ``gen-000002/``    a NEW generation and never touches an old one
  ``batch=<id>/``    the deltas: one prefix per committed batch

The pointer is ``{generation, base, through, stream, deltas, schema}``
(a CDC table adds ``keys`` and ``n_buckets``): ``base`` names the live
``gen-`` prefix (or None), ``deltas`` the committed batch ids beside
it, ``schema`` the stored schema every read uses (no inference, no
listing; directory-partition columns carry a ``partition`` mark in
their metadata), ``stream`` the writer the deltas belong to and ``through``
the highest batch id of ``stream`` the base holds (-1 if none).

Rules of `commit_batch(table, batch_id, stream, build)`:
  * membership: a batch id the pointer names, or one at or below
    ``through`` of the same ``stream``, is a no-op and ``build`` is
    never called — a replay after the flip or after a fold leaves no
    trace;
  * otherwise the frame lands in ``batch=<id>`` (overwriting a crashed
    attempt's orphan) and the pointer flips to name it;
  * fold after ``FOLD_DELTAS``: once the pointer names that many
    deltas, they fold with the base into ``gen-(g+1)`` through the
    table's merge rule (append: union; rollup partials: their
    algebra; CDC: last writer wins) and ``through`` becomes the
    highest id folded;
  * stream switch: a pointer written by another ``stream`` (batch ids
    restart with a new checkpoint) first has its deltas folded, and
    ``through`` resets;
  * probe output first: a stream body commits the output of its
    history probe before it extends the tables its probe reads, so a
    replay that still has to build its probe never finds its own batch
    in a history table (`read_table(before_batch=)` refuses a boundary
    that is already folded);
  * adoption: a table with no pointer whose bare ``batch=<id>``
    prefixes an earlier version's stream left is read, and committed
    to, with the ids below the batch as deltas of the stream (see
    `_resolve`);
  * a stream's own fold keeps as many superseded generations as it
    finds, so it never undoes a compactor's ``keep_generations``.

The pointer flip is the only mutation of shared state, and it is a
single small-object write:

* local / HDFS: write ``_current.tmp`` then ``os.replace`` /
  ``FileSystem.rename`` — atomic on POSIX and HDFS;
* object stores: one PUT of the ``_current`` key — PUT is atomic on
  S3/GCS/ABFS (readers see the old or the new pointer, never a torn
  one).  Data files are only ever PUT into a fresh prefix and DELETEd
  after the flip — no data-file rename anywhere in the protocol.

Crash discipline (pinned by tests):
  * crash BEFORE the flip: the new ``gen-`` or ``batch=`` prefix is an
    orphan; the pointer still names the old state, readers are
    unaffected, and the retry rewrites the same name (generation
    numbers derive from the pointer, batch ids from the checkpoint).
  * crash AFTER the flip, before cleanup: superseded prefixes linger;
    readers ignore them (they follow the pointer), the next commit
    deletes superseded ``gen-`` prefixes and the next fold every
    ``batch=`` prefix its pointer does not name.
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


def _load_pointer(spark, table_dir: str) -> dict | None:
    """The pointer object as stored, of any version, or None."""
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


def read_pointer(spark, table_dir: str) -> dict | None:
    """The table's current manifest, or None if the table has no
    pointer (legacy flat layout).  A pointer without the keys of this
    layout (earlier versions wrote ``{data, generation}``,
    ``{base, folded_through, generation}``, or a CDC pointer with no
    ``through``) raises ``ValueError`` naming the table and the missing
    keys."""
    meta = _load_pointer(spark, table_dir)
    if meta is None:
        return None
    missing = [k for k in new_pointer() if k not in meta]
    if missing:
        raise ValueError(
            f"table at {table_dir} has a pointer from an earlier layout: "
            f"it lacks {missing} (keys: {sorted(meta)}); rewrite the table "
            "with this version"
        )
    return meta


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


def _children(spark, table_dir: str) -> list[tuple[str, bool]]:
    """``(name, is_dir)`` of every child of ``table_dir``, sorted by
    name; [] when it does not exist (scheme-agnostic)."""
    if _is_local(table_dir):
        root = _local_path(table_dir)
        if not os.path.isdir(root):
            return []
        return [
            (n, os.path.isdir(os.path.join(root, n)))
            for n in sorted(os.listdir(root))
        ]
    fs, jpath, _ = _hadoop_fs(spark, table_dir)
    if not fs.exists(jpath):
        return []
    return sorted(
        (st.getPath().getName(), st.isDirectory()) for st in fs.listStatus(jpath)
    )


def list_children(spark, table_dir: str, prefix: str) -> list[str]:
    """Child directory NAMES under ``table_dir`` starting with
    ``prefix`` (used to find batch=/gen- prefixes)."""
    return [
        n for n, is_dir in _children(spark, table_dir)
        if is_dir and n.startswith(prefix)
    ]


def delete_prefix(spark, table_dir: str, name: str) -> None:
    """Delete one child prefix or file (post-flip cleanup; a DELETE,
    never a rename, so it is object-store-safe)."""
    if _is_local(table_dir):
        import shutil

        p = os.path.join(_local_path(table_dir), name)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
        return
    fs, jpath, jvm = _hadoop_fs(spark, table_dir)
    child = jvm.org.apache.hadoop.fs.Path(jpath, name)
    if fs.exists(child):
        fs.delete(child, True)


def join(table_dir: str, name: str) -> str:
    return table_dir.rstrip("/") + "/" + name


def list_flat_sources(
    spark, table_dir: str, *, skip_deltas: bool = False
) -> list[str]:
    """Root-level data sources for ADOPTION of a legacy flat table:
    every child EXCEPT ``gen-*`` prefixes, the pointer, and metadata
    files.  A crashed first adoption (gen written, pointer flip never
    happened) leaves an orphan ``gen-`` dir beside the flat files — a
    bare ``spark.read.parquet(root)`` would then mix the two layouts
    (conflicting-directory failure) and double-count bytes, so the
    retry must read exactly this list.  ``skip_deltas`` also leaves
    out ``batch=`` prefixes: in a table that grows batch by batch, one
    with no pointer is the orphan of a crashed first commit."""
    def keep(n: str) -> bool:
        # gen- prefixes are the new layout; "_"/"." children are
        # metadata Spark would skip in a directory read but would choke
        # on in an explicit file list (_SUCCESS, .crc, _current*).
        # Spark's own rule keeps "_" names with "=": partition dirs
        # such as __bucket=3
        hidden = n.startswith(".") or (n.startswith("_") and "=" not in n)
        orphan = skip_deltas and n.startswith("batch=")
        return not (n.startswith("gen-") or hidden or orphan)

    return [join(table_dir, n) for n, _ in _children(spark, table_dir) if keep(n)]


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
    :class:`ManifestRaceError` and re-runs from the fresh pointer.
    Any writer's flip counts, whatever version of the pointer it
    wrote."""
    ptr = _load_pointer(spark, table_dir)
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


def parquet_sizes(spark, path: str) -> list[int]:
    """Byte sizes of the parquet data files under a prefix, or of the
    prefix itself when it is one file (adoption lists root-level files
    too): compaction output sizing and its written-file count."""
    if _is_local(path):
        root = _local_path(path)
        files = [root] if os.path.isfile(root) else [
            os.path.join(d, f) for d, _, names in os.walk(root) for f in names
        ]
        return [os.path.getsize(f) for f in files if f.endswith(".parquet")]
    fs, jpath, _ = _hadoop_fs(spark, path)
    it, sizes = fs.listFiles(jpath, True), []
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            sizes.append(st.getLen())
    return sizes


def delete_flat_children(spark, table_dir: str) -> None:
    """Adoption cleanup: after a legacy flat table's data is rewritten
    into its first ``gen-`` prefix and the pointer flipped, delete the
    superseded flat files/partition dirs at the root (everything except
    ``gen-*`` prefixes and the pointer).  DELETEs only."""
    for name, _ in _children(spark, table_dir):
        if not (name.startswith("gen-") or name.startswith(POINTER_NAME)):
            delete_prefix(spark, table_dir, name)



#: A table folds its deltas into the next base generation once its
#: pointer names this many.
FOLD_DELTAS = 8


def batch_name(batch_id: int) -> str:
    return f"batch={batch_id}"


def new_pointer(schema: dict | None = None, **extra) -> dict:
    """The pointer of a table no batch has been committed to."""
    return {
        "generation": 0, "base": None, "through": -1, "stream": None,
        "deltas": [], "schema": schema, **extra,
    }


def named_paths(table_dir: str, ptr: dict) -> list[str]:
    """The base prefix (if any), then every delta prefix ``ptr`` names."""
    names = [ptr["base"]] if ptr["base"] else []
    return [join(table_dir, n) for n in names + [batch_name(b) for b in ptr["deltas"]]]


def union(base, deltas):
    """The append tables' merge rule: every row of base and deltas."""
    if base is None or deltas is None:
        return deltas if base is None else base
    return base.unionByName(deltas)


def _stored(schema, partition_cols) -> dict:
    """``schema`` as the pointer stores it: the directory-partition
    columns carry the mark `read_table` looks for."""
    stored = schema.jsonValue()
    for field in stored["fields"]:
        if field["name"] in partition_cols:
            field["metadata"] = {**field["metadata"], "partition": True}
    return stored


def _write(frame, path: str, partition_by) -> dict:
    """Write ``frame`` to ``path``; returns its schema to store."""
    writer = frame.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return _stored(frame.schema, partition_by or ())


def _resolve(spark, table_dir: str, below: int | None, stream=None) -> dict | None:
    """The table's pointer, or None for a table with none.  A table
    with no pointer but bare ``batch=<id>`` prefixes (the layout the
    streams of earlier versions left) is adopted: its ids below
    ``below`` become deltas of ``stream``, read with the schema they
    carry.  An id at or above ``below`` is not history: the batch being
    replayed, which its commit rewrites, or a crashed first commit's
    orphan."""
    ptr = read_pointer(spark, table_dir)
    if ptr is not None:
        return ptr
    ids = sorted(int(n.split("=", 1)[1]) for n in list_children(spark, table_dir, "batch="))
    ids = [b for b in ids if below is None or b < below]
    if not ids:
        return None
    paths = [join(table_dir, batch_name(b)) for b in ids]
    inner = {n.split("=")[0] for p in paths for n in list_children(spark, p, "") if "=" in n}
    found = spark.read.option("basePath", table_dir).parquet(*paths).drop("batch")
    return {**new_pointer(_stored(found.schema, inner)), "stream": stream, "deltas": ids}


def read_table(
    spark,
    table_dir: str,
    *,
    ptr: dict | None = None,
    before_batch: int | None = None,
    stream: str | None = None,
    merge=union,
):
    """The one reader: ``merge(base, deltas)`` over what the pointer
    names, both read with the stored schema.  It lists nothing, infers
    nothing and probes no emptiness, so building the frame runs no
    Spark job.  Returns None only when the pointer names nothing.

    ``ptr`` serves a pointer the caller already resolved (a consistent
    snapshot); otherwise the pointer is read once here.  A table with
    no pointer holds no committed batch: its bare ``batch=`` prefixes,
    if any, are read as `_resolve` adopts them; else a full read serves
    it flat (a table written by plain ``df.write``) and a
    ``before_batch`` read returns None.

    ``before_batch=b`` keeps only the deltas with a lower id: the view
    a (replayed) batch ``b`` probes.  A boundary the base already
    holds (``b <= through``) cannot be served and raises.  With
    ``stream`` given and the pointer written by another stream, every
    delta precedes the boundary (the stream-switch rule)."""
    from pyspark.sql import types as T

    if ptr is None:
        ptr = _resolve(spark, table_dir, before_batch, stream)
        if ptr is None:
            if before_batch is not None:
                return None
            return spark.read.parquet(table_dir)
    if before_batch is not None and stream in (None, ptr["stream"]):
        if before_batch <= ptr["through"]:
            raise ValueError(
                f"batch {before_batch} of {table_dir!r} is already folded "
                f"into its base (through={ptr['through']}); the base "
                "cannot serve the history before it"
            )
        ptr = {**ptr, "deltas": [b for b in ptr["deltas"] if b < before_batch]}
    if ptr["base"] is None and not ptr["deltas"]:
        return None
    schema = T.StructType.fromJson(ptr["schema"])
    reader = spark.read.schema(schema)
    if any(f.metadata.get("partition") for f in schema):
        # a partitioned table's deltas are sibling roots: root their
        # partition discovery at the table (the select drops the batch
        # column this adds)
        reader = reader.option("basePath", table_dir)
    paths, n_base = named_paths(table_dir, ptr), int(ptr["base"] is not None)
    base, deltas = (
        reader.parquet(*p).select(*schema.fieldNames()) if p else None
        for p in (paths[:n_base], paths[n_base:])
    )
    return merge(base, deltas)


def fold(
    spark,
    table_dir: str,
    ptr: dict,
    *,
    merge=union,
    frame=None,
    partition_by=(),
    keep_generations: int | None = None,
) -> dict:
    """Write the base and every delta ``ptr`` names, merged by the
    table's rule, into ``gen-(g+1)`` (or ``frame``, when the caller
    built the new base, e.g. adopting a flat table), flip the pointer
    to it with no deltas and ``through`` at the highest id folded,
    then delete every ``batch=`` prefix.  Returns the new pointer.

    ``keep_generations`` is passed to `commit`.  Left None (a stream's
    own fold), it keeps as many superseded generations as are on disk
    below the base, so the retention a compactor set is never reduced
    and a table no compactor aged keeps none.

    A crash before the flip leaves an orphan ``gen-`` prefix the retry
    overwrites; a crash after it leaves folded deltas no pointer names,
    which readers ignore and the next fold deletes."""
    if frame is None:
        frame = read_table(spark, table_dir, ptr=ptr, merge=merge)
    if keep_generations is None:
        keep_generations = sum(
            n < (ptr["base"] or "") for n in list_children(spark, table_dir, "gen-")
        )
    generation = ptr["generation"] + 1
    meta = {
        **ptr,
        "generation": generation,
        "base": generation_name(generation),
        "deltas": [],
        "through": max([ptr["through"], *ptr["deltas"]]),
    }
    schema = _write(frame, join(table_dir, meta["base"]), partition_by)
    meta["schema"] = ptr["schema"] or schema
    commit(spark, table_dir, meta, keep_generations=keep_generations)
    for name in list_children(spark, table_dir, "batch="):
        delete_prefix(spark, table_dir, name)
    return meta


def commit_batch(
    spark,
    table_dir: str,
    batch_id: int,
    stream: str,
    build,
    *,
    ptr: dict | None = None,
    merge=union,
    partition_by=(),
) -> dict:
    """The one commit step of a table that grows batch by batch (the
    rules are in the module docstring): unless the pointer already
    holds ``batch_id`` of ``stream``, write ``build()`` as
    ``batch=<batch_id>`` and flip the pointer to name it; then fold
    once the pointer names ``FOLD_DELTAS`` deltas.  ``build`` returning
    None commits nothing (a probe with no history).  ``ptr`` is the
    pointer when the caller already read and checked it; otherwise a
    table of an earlier version's bare ``batch=`` prefixes is adopted
    (`_resolve`).  Returns the pointer."""
    if ptr is None:
        ptr = _resolve(spark, table_dir, batch_id, stream) or new_pointer()
    if ptr["stream"] != stream:
        if ptr["deltas"]:
            ptr = fold(spark, table_dir, ptr, merge=merge, partition_by=partition_by)
        ptr = {**ptr, "stream": stream, "through": -1}
    if batch_id not in ptr["deltas"] and batch_id > ptr["through"]:
        frame = build()
        if frame is not None:
            schema = _write(frame, join(table_dir, batch_name(batch_id)), partition_by)
            ptr = {**ptr, "deltas": ptr["deltas"] + [batch_id], "schema": schema}
            # no generation is superseded: retained ones stay retained
            write_pointer(spark, table_dir, ptr)
            verify_pointer_generation(spark, table_dir, ptr["generation"])
    if len(ptr["deltas"]) >= FOLD_DELTAS:
        ptr = fold(spark, table_dir, ptr, merge=merge, partition_by=partition_by)
    return ptr
