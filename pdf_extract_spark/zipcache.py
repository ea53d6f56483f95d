"""Re-read a zip archive's directory on ``invalidate_caches()`` only when
the archive has changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``).  Before
Python 3.13, each ``zipimport.zipimporter`` answers it by re-reading its
archive's whole central directory, and a worker that imports pyspark from
``pyspark.zip`` holds about 16 of them: 16 reads of a 1,328-entry
directory, most of a no-op task's time.  Python 3.13 only drops the cache.

The wrapper re-reads only when the archive's ``(st_mtime_ns, st_size)``
differs from the stamp taken at the importer's last read, or cannot be
taken.  A zip rewritten in place with the same mtime_ns and size is missed.
Importers that exist at install are stamped as current: in a worker, the
task whose UDF first imports this package has just invalidated them.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install():
    read = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_stamp", None):
            read(self)
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in sys.path_importer_cache.values():
        if isinstance(finder, zipimport.zipimporter):
            finder._stamp = _stamp(finder.archive)
