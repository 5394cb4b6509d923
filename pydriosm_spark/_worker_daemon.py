"""PySpark's worker daemon, with zip importers that re-read an archive
only when it changed.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 that makes
each zip importer on the worker path re-read its archive's central
directory: ``pyspark.zip``, the py4j zip and the 15 MB spark-core jar, tens
of milliseconds of CPU per task.  Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from the last read, or when it cannot
be stat'ed.  ``get_spark`` runs this module as ``spark.python.daemon.module``.

Forked workers inherit this process's pages, so it imports nothing beyond
``os``, ``zipimport`` and ``pyspark.daemon``.
"""

import os
import zipimport

_read_directory = zipimport.zipimporter.invalidate_caches
_last_read = {}  # archive -> (stamp, files) of its last read


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    last = _last_read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _read_directory(self)
    _last_read[self.archive] = (stamp, self._files)


zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
