"""Python-worker daemon of the sessions ``session.get_spark`` builds.

Spark starts it as ``python -m <this module> <worker module>`` in place
of ``pyspark.daemon`` (``spark.python.daemon.module``); every Python
worker of the session is forked from it.  It differs from
``pyspark.daemon`` in one thing only: a worker does not re-read the
directory of an unchanged zip archive on ``sys.path`` for every task.

Before each task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On CPython 3.10-3.12 that makes
every ``zipimport.zipimporter`` re-read its archive's whole directory.
A worker holds one importer per package it imported from
``pyspark.zip`` plus py4j's archive, so every task re-read about 27,000
directory entries, about 70 ms on an idle 4-vCPU host.  Here an
importer re-reads only when its archive's mtime or size has changed
since it last read it.  The stamp is kept per importer, not per
archive, so every importer of a changed archive re-reads it.  Archives
that ``addPyFile`` ships are new importers and read as before;
directory finders are untouched.  CPython 3.13 already drops the cache
lazily, and there nothing is patched.

Only the standard library and ``pyspark.daemon`` are imported here.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_STAMP = "_spark_graft_stamp"


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def reread_changed_archives_only(cls=zipimport.zipimporter) -> bool:
    """Make ``cls.invalidate_caches`` re-read an importer's archive only
    when it changed since that importer's last read.  Returns whether
    ``cls`` was patched: False on an interpreter whose importer drops
    its cache lazily (it has ``_get_files``), or when already patched."""
    reread = cls.invalidate_caches
    if hasattr(cls, "_get_files") or getattr(reread, _STAMP, False):
        return False

    def invalidate_caches(self):
        # stamp before the read: a change racing the read re-reads again
        stamp = _archive_stamp(self.archive)
        if stamp is None or getattr(self, _STAMP, None) != stamp:
            reread(self)
            setattr(self, _STAMP, stamp)

    setattr(invalidate_caches, _STAMP, True)
    cls.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    reread_changed_archives_only()
    from pyspark import daemon

    # stamp the importers the daemon holds, so forked workers inherit them
    importlib.invalidate_caches()
    daemon.manager()
