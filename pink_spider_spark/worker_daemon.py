"""Python worker daemon for engine sessions (``spark.python.daemon.module``).

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 each
``zipimporter`` re-reads its archive's whole central directory there. A
worker holds about a dozen importers on ``pyspark.zip`` and two on the
spark-core jar, so every task paid about 100 ms of CPU for it; later
CPython versions defer the re-read to the next lookup. Run as the daemon
(``python -m``), this module re-reads an archive only when its stat stamp
changed since that importer last read it, and the forked workers inherit
the patch. A rewritten archive is still re-read, and a zip added by
``addPyFile`` is a new path with a new importer.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # ``-m`` imported this package from the daemon's PYTHONPATH; forget
    # it, so a worker resolves it through its task's sys.path (a copy
    # shipped with addPyFile first), as under the stock daemon
    sys.modules.pop("pink_spider_spark", None)
    from pyspark import daemon

    daemon.manager()
