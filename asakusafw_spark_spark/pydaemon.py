"""Python worker daemon for local masters: ``pyspark.daemon`` whose
workers re-read a zip archive on ``sys.path`` only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, and each ``zipimporter`` in ``sys.path_importer_cache`` then
re-reads its archive's whole directory: ~100 ms per task for the
spark-core jar, ``pyspark.zip`` and py4j.  Here a zipimporter re-reads
only when its archive's ``(st_dev, st_ino, st_size, st_mtime_ns)``
differs from the last read.  New ``sys.path`` entries still get fresh
finders and directory finders behave as before.  Started through
``spark.python.daemon.module`` (see :mod:`.session`).
"""

import importlib
import os
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches
_SIGNATURES: dict = {}


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        sig = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        sig = None
    if sig is None or _SIGNATURES.get(self) != sig:
        _ORIGINAL(self)
        _SIGNATURES[self] = sig


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()  # prime before forking any worker
    daemon.manager()
