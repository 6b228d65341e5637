"""Loaded at start-up by the benchmark's Python workers (``harness``
puts this directory first on their ``PYTHONPATH``).

Before every task a PySpark worker calls ``importlib.invalidate_caches()``,
and CPython 3.11's ``zipimporter.invalidate_caches`` then re-reads the
whole central directory of its archive. Workers import ``pyspark`` from
``$SPARK_HOME/python/lib/pyspark.zip``, whose packages each hold their own
zipimporter, so every task re-parsed that directory a dozen times or more:
about 0.25 CPU-seconds per task, more than the library's own work in most
of the benchmark's operations, and a large part of their run-to-run
spread. Here an archive whose size and modification time have not changed
keeps the directory already read; a changed archive is re-read as before.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


zipimport.zipimporter.invalidate_caches = _invalidate_caches
