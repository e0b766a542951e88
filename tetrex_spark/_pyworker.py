"""Per-task import cost of PySpark Python workers.

A PySpark worker calls `importlib.invalidate_caches()` at the start of
every task (pyspark.worker_util.setup_spark_files). Below Python 3.13
that makes every `zipimport.zipimporter` on the path re-read its whole
archive directory, whether or not the archive changed: a worker carries
one importer per zip path entry and package (pyspark.zip, the py4j zip,
the spark-core jar, ...), and re-reading all of them costs ~200 ms, most
of a small task's wall time. CPython 3.13 defers the re-read to the next
lookup, so there is nothing to do there.

`install()` replaces `zipimporter.invalidate_caches` with one that
re-reads an archive only when its (st_mtime_ns, st_size) differs from
the stamp taken at its last re-read; otherwise the importer picks up the
shared cached directory. The first call per archive re-reads (no stamp
yet), so a changed archive is never missed, and a worker pays the
re-read at most once after the first task that imports this package.
Importing `tetrex_spark` installs it, in the driver and in every worker
that unpickles one of its functions.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Idempotent; a no-op on Python >= 3.13."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
