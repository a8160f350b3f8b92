"""Python worker daemon of :func:`petastorm_spark.session.get_spark`
sessions (``spark.python.daemon.module``): ``pyspark.daemon`` with zip
archive directories re-read only when the archive changed.

Before every task pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.10-3.12
``zipimporter.invalidate_caches`` re-reads the archive's whole directory
right away (3.13 only drops the cached directory and re-reads it on the
next lookup). A warm worker holds 16 zip importers: 12 on
``pyspark.zip`` (1,328 entries, ~6 ms per re-read), 2 on the
``spark-core`` jar (5,359 entries, ~26 ms) and 2 on the py4j zip; a
trivial task cost its worker ~290 ms of CPU, ~50 ms with this daemon
(4-vCPU x86-64 host, Spark 4.1.2, Python 3.11). Installed here, in the
process every worker is forked from, the stat-checked method costs a
few ``os.stat`` calls per task; importers of one archive share one
re-read, and a rewritten archive is still re-read.

Nothing here may write to stdout: the daemon's handshake with the JVM
goes over it.
"""

import importlib
import os
import sys
import zipimport


def install_stat_checked_reread() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_dev, st_ino, st_size, st_mtime_ns, st_ctime_ns)`` changed
    since the last re-read. A no-op on Python 3.13+, whose method is
    already lazy."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    keys = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        key = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if keys.get(self.archive) == key and files is not None:
            self._files = files
            return
        # the key is taken before the read: a rewrite racing the read
        # changes the key again and is re-read on the next call
        reread(self)
        keys[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install_stat_checked_reread()
    # one re-read per archive here records the keys every forked worker
    # inherits, so no worker re-reads an unchanged archive
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
