"""Keep Python workers from re-parsing their zip archives on every task.

Before it runs a task, a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython < 3.13 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central directory,
in pure Python. A worker holds a dozen or so importers on ``pyspark.zip``
(~1.3k entries) and a few on the spark-core jar that Spark puts on the
worker path (~5.4k entries), so each runner's setup costs ~0.3 s of CPU.
A stateful ``applyInPandasWithState`` task starts two Python runners,
which made this the larger part of a small streaming micro-batch.
CPython 3.13 made the invalidation lazy (gh-103200).

``install()`` replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)`` changed
since that archive path was last read. The record is kept per archive path,
so importers created later for an archive already read skip the re-read as
well. A changed archive, or one that cannot be stat'ed, goes through the
stdlib method. The package ``__init__`` installs it, so a reused worker
has it from the first task that unpickles a function referencing a package
module.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size, st_ino) taken just before its
# directory was last read by ``invalidate_caches``
_read_sigs: dict[str, tuple[int, int, int]] = {}
_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _sig(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """Reload the archive's file data only if the file changed since it
    was last read."""
    archive = self.archive
    try:
        sig = _sig(archive)
    except (OSError, ValueError):
        return _stdlib_invalidate(self)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _read_sigs.get(archive) == sig:
        self._files = files
        return
    # stat before the read: a rewrite during the read shows up as a
    # changed signature on the next call. A failed read leaves no cache
    # entry, so the next call reads again whatever the record says.
    _stdlib_invalidate(self)
    _read_sigs[archive] = sig


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> None:
    """Install the lazy invalidation (idempotent; CPython < 3.13 only)."""
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
