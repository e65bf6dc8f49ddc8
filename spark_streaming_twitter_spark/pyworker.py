"""Python worker daemon for local sessions: PySpark's own daemon, minus
a per-task re-read of every zip archive on the workers' path.

Each Python task starts with ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On Python 3.11 that
calls ``zipimport.zipimporter.invalidate_caches`` on every zip importer
the worker holds, and each call re-reads its archive's whole central
directory: about 8 ms for ``pyspark.zip`` (1328 entries) and 30 ms for
the spark-core jar (5359 entries). A worker that imported a dozen
pyspark subpackages holds one importer per subpackage, so every task
pays 140-200 ms of CPU before its first row.

``invalidate_if_changed`` makes an importer re-read its archive only
when the archive's ``os.stat`` stamp (size, mtime_ns, inode) differs
from the stamp taken before the last read, so a rewritten archive is
still picked up. Nothing else in the import system changes.

Run as a module (``spark.python.daemon.module``, set by
``session.get_spark`` for local masters), it installs that rule on
``zipimport.zipimporter`` and then starts the stock ``pyspark.daemon``
manager, so every worker the daemon forks inherits it. Importing the
module changes and starts nothing.
"""

from __future__ import annotations

import os
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> stat stamp taken just before its last read
_stamps: "dict[str, tuple[int, int, int] | None]" = {}


def _stamp(path: str) -> "tuple[int, int, int] | None":
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns, st.st_ino)


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken before the read, so a rewrite racing the read
    leaves a stale stamp and the next call reads again. An importer
    whose archive was re-read through a sibling importer adopts the
    shared directory instead of reading it again."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _STOCK_INVALIDATE(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark.daemon import manager

    # read each archive once here, so the forked workers inherit stamps
    importlib.invalidate_caches()
    manager()
