"""Python worker daemon for moonlink_spark sessions.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``). On CPython 3.10-3.12 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole directory: pyspark.zip, the py4j zip and the Spark core jar, some
0.2 s per task before the UDF runs. This module replaces
``zipimporter.invalidate_caches`` with one that re-reads an archive only when
its ``(st_mtime_ns, st_size)`` changed since the last read, or when ``stat``
fails, and then runs the stock ``pyspark.daemon`` manager; forked workers
inherit the patch. Imports see what the stock method shows them: an archive
added with ``addPyFile`` is a new path with a new importer, which reads its
directory, and a rewritten archive is re-read.

``session.get_spark`` selects it with ``spark.python.daemon.module``.
"""

import os
import zipimport

from pyspark import daemon

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_mtime_ns, st_size) taken before its last read, the directory read)
_directories = {}


def invalidate_caches(self):
    """Re-read ``self.archive``'s directory unless it is unchanged since the last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _directories.pop(self.archive, None)
        _stock_invalidate_caches(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    last = _directories.get(self.archive)
    if last is not None and last[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _stock_invalidate_caches(self)
    # 3.10-3.12 re-read the directory here and drop it if the read failed;
    # 3.13 only drops it, to be read on next use, so nothing is recorded there
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None:
        _directories[self.archive] = (stamp, files)


if __name__ == "__main__":
    # `python -m` runs this file as __main__; patch in the function from the
    # module under its own name, so a worker can tell whose method it runs.
    from moonlink_spark.pyworker import invalidate_caches as _invalidate_caches

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    daemon.manager()
