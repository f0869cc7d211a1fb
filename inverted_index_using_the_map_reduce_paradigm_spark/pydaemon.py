"""PySpark daemon that parses each unchanged zip archive once per worker.

Every Python task calls ``importlib.invalidate_caches()`` (in
``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each
``zipimporter`` on ``sys.path`` then re-parses its archive's whole
central directory in pure Python: Spark's ``pyspark.zip``, the py4j zip
and the spark-core jar (16 importers, about 80 ms per task on an idle
4-core host with PySpark 4.1.2 and Python 3.11.7, several times that
under load).  Those archives do not change while a worker lives, so the
guard below re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the last read.  Spark runs this module as
``spark.python.daemon.module``: it installs the guard, and the forked
workers inherit it and the directories already read.
"""

import importlib
import os
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_seen: dict = {}  # archive path -> (stat key, parsed directory)


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    hit = _seen.get(self.archive)
    if key is not None and hit is not None and hit[0] == key:
        self._files = hit[1]
        return
    _read(self)  # stat first: a rewrite during the read re-reads next time
    if key is not None:
        _seen[self.archive] = (key, self._files)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()  # read once here; forked workers reuse it
    from pyspark import daemon

    daemon.manager()
