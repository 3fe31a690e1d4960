"""Python worker daemon: ``pyspark.daemon`` with a cheap zip-cache invalidation.

Every Python task calls ``importlib.invalidate_caches()``. Before CPython
3.13 (gh-103200), that makes each ``zipimporter`` re-parse the central
directory of its archive: pyspark.zip, the py4j zip and the Spark jar.
Here an archive is re-read only when its stat stamp has changed since the
last read, so an unchanged archive is not re-read and a rewritten one is.
Workers forked by the daemon inherit the patch and the read directories.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` unless it is unchanged since the last read."""
    stamp = _stamp(self.archive)  # taken before the read: a race re-reads
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # one read per archive, shared by every fork
    from pyspark import daemon

    daemon.manager()
