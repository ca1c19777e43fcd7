"""Python worker daemon: ``pyspark.daemon`` with a cheap import-cache reset.

Before every task PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On Python < 3.13 that makes each
``zipimporter`` on the worker re-read its archive's whole central
directory: a reused Spark 4.1 worker holds 16 of them, over
``pyspark.zip`` (~1.3k entries), the py4j zip and the spark-core jar
Spark puts on the worker PYTHONPATH (~5.4k entries), 145–280 ms per task
on a 4-vCPU host.  Here an importer re-reads only when its archive's
(inode, size, mtime) changed since that importer last read it, so a
rewritten archive or a newly added ``addPyFile`` zip still imports.
CPython 3.13 makes the re-read lazy upstream, so nothing is wrapped
there.

Spark starts the daemon as ``python -m dtaidistance_spark.pydaemon
<worker module>`` (``spark.python.daemon.module``, set by ``session``).
"""

from __future__ import annotations

import os
import runpy
import sys
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` to skip unchanged archives."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = st.st_ino, st.st_size, st.st_mtime_ns
        except OSError:
            key = None
        # stat before the read: an archive rewritten during the read
        # leaves a key that no longer matches, so the next call re-reads
        if key is None or getattr(self, "_archive_key", None) != key:
            reread(self)
            self._archive_key = key

    invalidate_caches.__wrapped__ = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    # argv[1] (the worker module) stays: pyspark.daemon reads it
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
