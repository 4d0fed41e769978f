"""Python worker daemon for local sessions: Spark's ``pyspark.daemon``
with zip archives re-read only when they have changed.

Before every task, a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory. Workers import pyspark from ``pyspark.zip``,
with one importer per imported pyspark package, plus one for the
spark-core jar on the worker's ``PYTHONPATH``. On 4 vCPUs that came to
0.14-0.24 s per task (16 directory reads) before the task read its first
row.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that stats the archive first. It keeps, per archive, the
``(st_mtime_ns, st_size)`` of the last read and the directory that read
produced. An importer re-reads only when the archive's stat differs from
that key. Otherwise it takes the directory of that read, so when another
importer has already re-read a changed archive, this one picks up the
fresh directory and is not left stale. The stat is taken before the read,
so an archive that changes during a read is re-read on the next call.

``session.get_spark`` runs this module as ``spark.python.daemon.module``
for local masters. The daemon installs the patch and then runs
``pyspark.daemon.manager()``, so every worker it forks inherits the patch,
whatever its UDFs import. The driver's ``zipimport`` is left alone.
Started with ``python -m``, the daemon imports the erde_spark package
first, so its workers are forked with pandas and pyarrow loaded.
"""

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

#: archive path -> ((st_mtime_ns, st_size) stat'ed before the read,
#: the directory that read produced)
_reads: dict = {}


def _invalidate_caches(self):
    """Re-read this importer's archive directory only when the archive's
    (mtime, size) differs from the last read of it."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate_caches(self)
        return
    key = (st.st_mtime_ns, st.st_size)
    last = _reads.get(self.archive)
    if last is not None and last[0] == key:
        self._files = last[1]
        return
    _stock_invalidate_caches(self)
    _reads[self.archive] = (key, self._files)


def install() -> bool:
    """Patch ``zipimport.zipimporter.invalidate_caches`` in this process
    and read each archive once, so the processes forked after it start
    with every archive's key. Returns False, patching nothing, when the
    stock method is not an eager re-read into ``_files``, which is what
    it is on Python 3.11."""
    code = _stock_invalidate_caches.__code__
    if not {'_read_directory', '_files'} <= set(code.co_names):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()
    return True


if __name__ == '__main__':
    # patch from the importable module, not from __main__, so the
    # workers' invalidate_caches reports erde_spark._daemon as its module
    from erde_spark import _daemon
    _daemon.install()
    # imported after the patch: pyspark.daemon reads the worker module
    # name from sys.argv and imports it when it loads
    from pyspark import daemon
    daemon.manager()
