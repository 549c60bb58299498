"""Skip the zip-directory re-read that every PySpark task pays.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark/worker_util.py`, `setup_spark_files`). On CPython
< 3.12, `zipimport.zipimporter.invalidate_caches` then re-reads the
whole central directory of every archive on the worker's path
(pyspark.zip, the py4j source zip and the Spark core jar): ~0.1-0.2 s
per task on a 4-core host, where a query's Arrow kernel does ~10 ms of
work. CPython 3.12 made the re-read lazy (gh-103200).

`install()` replaces the method with one that re-reads an archive only
when its (st_mtime_ns, st_size) differs from the last read, so a
rewritten archive is still picked up. The package's `__init__` calls
it, so a worker installs it as soon as it unpickles a package kernel,
and workers are reused across tasks. Delete this module once the
package requires Python >= 3.12: there `install()` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_mtime_ns, st_size), directory) of its last read
_read_at: dict = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_at.pop(self.archive, None)
        _original(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _read_at.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _original(self)
    _read_at[self.archive] = (stamp, self._files)


def install() -> None:
    """Replace `zipimporter.invalidate_caches` (idempotent; a no-op on
    Python >= 3.12)."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def installed() -> bool:
    """True when this process's zipimporters skip unchanged archives."""
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches
