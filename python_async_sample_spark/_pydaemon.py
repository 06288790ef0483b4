"""pyspark's Python worker daemon, minus the per-task zip re-read.

Every Python-worker task runs ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. Before CPython 3.12
(gh-103200) ``zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a worker holds one importer per ``pyspark.zip``
subpackage plus the Spark jars: 250-350 ms per task of pure re-reading.

Here an importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
differs from what it last read. Its first call always re-reads, so a zip that
really changed is picked up as before. ``session.get_spark`` points
``spark.python.daemon.module`` here for local sessions. Nothing may be
written to stdout before ``manager()``: stdout carries the daemon handshake.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read the archive's directory only if the file changed since."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
