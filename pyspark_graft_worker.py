"""Python worker entry for Spark: ``pyspark.worker`` minus the per-task
re-read of unchanged zip archives.

``session.get_spark`` selects it with ``spark.python.worker.module`` when
the master is local (README, "Session notes").  Before each task the stock worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and every cached
``zipimporter`` then re-reads its archive's central directory.  The
worker holds one importer per package directory inside ``pyspark.zip``
(16 of them, 1,328 entries each), so every task pays that read 16 times:
74-82 ms of CPU alone on a 4-vCPU box, more than most UDF batches here.

This module makes ``zipimporter.invalidate_caches`` re-read an archive
only when its ``(st_mtime_ns, st_size)`` differs from the stamp the
importer last read it at.  A zip added with ``addPyFile`` (a new
importer, no stamp) or rewritten in place is still read; an unchanged
one is not.

Spark's daemon imports this module once, before it forks any worker,
and only imports a worker module whose name starts with ``pyspark``,
hence the top-level name.  The importers that exist at that point read
their archives moments earlier, while the daemon imported pyspark, so
their current stamps are recorded here and forked workers skip the
re-read from their first task.  Without the daemon
(``spark.python.use.daemon=false``; it is on by default on Linux) Spark
runs the worker module as a script: the patch is applied the same way
and ``pyspark.worker`` then runs as ``__main__``.
"""

from __future__ import annotations

import os
import runpy
import sys
import warnings
import zipimport

from pyspark.worker import main  # noqa: F401  (the daemon calls main)

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    # stat before reading: a rewrite racing the read leaves an older
    # stamp behind, so the next call reads the archive again
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, '_read_stamp', None):
        return
    _reread(self)
    self._read_stamp = stamp


zipimport.zipimporter.invalidate_caches = invalidate_caches
for _finder in list(sys.path_importer_cache.values()):
    if isinstance(_finder, zipimport.zipimporter):
        _finder._read_stamp = _stamp(_finder.archive)


if __name__ == '__main__':
    # pyspark.worker is already imported above; running it again as
    # __main__ is intended, so drop runpy's warning about that
    warnings.filterwarnings('ignore', "'pyspark.worker' found in sys.modules", RuntimeWarning)
    runpy.run_module('pyspark.worker', run_name='__main__')
