"""Skip zipimport directory re-reads of unchanged archives (Python < 3.12).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task. On Python 3.11 that makes every ``zipimporter`` re-read
its archive's whole central directory: ``pyspark.zip``, the py4j zip,
and one importer per imported subpackage path such as
``pyspark.zip/pyspark/sql`` — about 14 reads, 126-155 ms of CPU, per
task. ``install()`` wraps ``zipimporter.invalidate_caches`` so that an
importer re-reads only when its archive's ``(st_mtime_ns, st_size,
st_ino)`` differs from what it saw at its last read. An archive whose
bytes changed is still re-read, and new ``sys.path`` entries still get
fresh importers, so imports resolve exactly as before. CPython 3.12
made the re-read lazy itself; there the guard installs nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_key(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> bool:
    """Install the guard once per process; True if it is in place."""
    if sys.version_info >= (3, 12):
        return False
    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "_ds2_zipguard", False):
        return True

    def invalidate_caches(self):
        key = _archive_key(self.archive)
        if key is not None and self.__dict__.get("_ds2_read_key") == key:
            return
        orig(self)
        self._ds2_read_key = key

    invalidate_caches._ds2_zipguard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
