"""Python worker daemon: ``pyspark.daemon`` with a cheap import-cache
reset and a frozen, pre-imported heap.

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

After every task a reused worker runs ``gc.collect()`` (the
``pyspark.daemon`` child loop).  A worker that imported numpy, pandas
and pyarrow itself holds ~73k container objects from those imports, and
each of those collections walks all of them: 47–56 ms per call on an
idle 4-vCPU host, 68–100 ms inside a busy matrix pair stage, most of the
gap between a worker's tasks.  So the daemon imports the Arrow UDF stack
and the worker module once, then calls ``gc.freeze()`` before it forks
(CPython's documented pre-fork pattern): every forked worker inherits
the imports and a permanent generation the collector skips, and its
per-task collection scans only what the worker itself made.  This holds
on every Python version.

Spark starts the daemon as ``python -m dtaidistance_spark.pydaemon
<worker module>`` (``spark.python.daemon.module``, set by ``session``).
"""

from __future__ import annotations

import gc
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


def preload() -> None:
    """Import the Arrow UDF stack and the stock worker module, then move
    every object alive into the collector's permanent generation."""
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401

    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    install()
    preload()
    # argv[1] (the worker module) stays: pyspark.daemon reads it
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
