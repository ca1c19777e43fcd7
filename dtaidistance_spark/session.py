"""SparkSession builder tuned for this engine.

Local mode is the test/bench environment (one JVM, N threads); the same
configuration carries to a real cluster via spark-submit --py-files, where
``spark.sql.shuffle.partitions`` should be sized to ~2-3× total cores and
AQE re-plans at runtime.

Python workers start from ``dtaidistance_spark.pydaemon``
(``spark.python.daemon.module``).  Stock ``pyspark.daemon`` workers on
Python < 3.13 spend ~0.2 s before every task re-reading the central
directories of ``pyspark.zip``, the py4j zip and the spark-core jar,
because PySpark calls ``importlib.invalidate_caches()`` per task and
``zipimporter`` re-reads its archive on that call; the daemon entry
re-reads an archive only when it changed, and it pre-imports the Arrow
UDF stack and freezes its heap before it forks, so a reused worker's
per-task ``gc.collect()`` skips those imports' objects.  The package
root goes first on the workers' PYTHONPATH
(``spark.executorEnv.PYTHONPATH``), so the daemon imports even when the
driver found the package through ``sys.path`` alone, and
``PYTHONSAFEPATH=1`` keeps the JVM's working directory off the workers'
``sys.path``, so a checkout there cannot shadow it.

The driver heap defaults to half of ``MemTotal`` (at most 24g);
``SPARK_GRAFT_DRIVER_MEM`` overrides it.

A file list Spark is handed (a snapshot manifest's, sinks/snapshots.py)
is listed serially on the driver at any length
(``spark.sql.sources.parallelPartitionDiscovery.threshold``): on this
local master the listing job Spark otherwise starts above 32 paths runs
in the same JVM against the same disk, one task per path, and measured
8-22× slower than the serial listing from 42 to 30,000 files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the sys.path entry this package was imported from (a directory, or the
# --py-files zip)
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of the host's ``MemTotal``, within [1g, 24g]; 1g (Spark's own
    default) where ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as f:
            total_kb = next((int(line.split()[1]) for line in f
                             if line.startswith("MemTotal:")), 0)
    except OSError:
        total_kb = 0
    return f"{max(1024, min(24 * 1024, total_kb // 2048))}m"


def get_spark(app_name: str = "dtaidistance_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    # one BLAS thread per python worker: task-level parallelism already
    # saturates the cores, so multi-threaded OpenBLAS inside each Arrow
    # UDF worker (this build: MAX_THREADS=2) only oversubscribes —
    # measured 1.2× on the 32-way matrix-profile dgemm leg.  Set in the
    # driver env BEFORE the JVM starts (local-mode workers inherit it)
    # and as executorEnv for real clusters.  If a JVM already exists
    # (getOrCreate reuses it), the workers inherited the OLD env and
    # the pin is ineffective — warn instead of silently losing it.
    if "OPENBLAS_NUM_THREADS" not in os.environ \
            and SparkSession.getActiveSession() is not None:
        import warnings
        warnings.warn(
            "get_spark: a SparkSession already exists; "
            "OPENBLAS_NUM_THREADS=1 cannot reach its local-mode workers "
            "(BLAS oversubscription possible in Arrow UDF kernels)",
            RuntimeWarning, stacklevel=2)
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r6: 2048 -> 16384 rows/batch, with the Spark-4 byte cap as the
        # real guard (64 MB).  2048 was sized for fat rows (504-double
        # series cells, image blobs); for the narrow (i, j, d) output of
        # the 112.5M-row all-pairs job it meant ~55k Arrow flushes of
        # 48 KB each.  The byte cap keeps fat-row batches bounded at the
        # same working set as before while narrow rows batch efficiently.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory())
        # r6: allow shuffled-hash join when its size conditions are met
        # (no sort on either side); sort-merge remains the fallback for
        # build sides AQE can't bound.  A/B at the 10x corpus: gap-fill's
        # grid join 5.2 -> 4.1 s, the 1h cascade 3.3 -> 2.3 s.  Both
        # knobs are size-gated, so a build partition that wouldn't fit
        # still takes the sort-merge path.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                str(256 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # list an exact file list (a snapshot manifest's) on the driver,
        # never in a listing job: above this many paths Spark lists in a
        # job of one task per path (at most 10,000 tasks).  Measured on
        # local[4] (4 vCPU), tiny parquet files on local disk, median of
        # 5 (2 at 30,000): job 0.18 / 0.58 / 3.66 / 12.7 / 15.1 s against
        # serial 0.022 / 0.028 / 0.17 / 0.60 / 1.94 s at 42 / 300 /
        # 3,000 / 10,000 / 30,000 files.  Past the 10,000-task cap the
        # job still adds ~0.12 ms per file to serial's ~0.065 ms, so
        # there is no crossover and the threshold is Int.MaxValue.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(2 ** 31 - 1))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # throughput GC: G1 measured 6× slower than ParallelGC on this
        # host at 32-way task concurrency (174.7s vs 27.3s for the same
        # 35M-row rollup job); batch-analytics workloads prefer
        # throughput collectors anyway.  GC threads are pinned to the
        # requested core count — the JVM default (~23 on a 32-CPU host)
        # would let a local[4] "cluster slice" borrow extra cores during
        # GC bursts, which skews N-vs-4N scaling legs
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(2, cores)}")
        .config("spark.executor.extraJavaOptions",
                f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(2, cores)}")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS",
                os.environ["OPENBLAS_NUM_THREADS"])
        .config("spark.python.daemon.module", "dtaidistance_spark.pydaemon")
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PKG_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p)
    # the daemon starts as `python -m`, which would put the JVM's working
    # directory ahead of PYTHONPATH: run from another checkout's root, the
    # workers would import that checkout's package (Python >= 3.11)
    conf.setdefault("spark.executorEnv.PYTHONSAFEPATH", "1")
    for key, val in conf.items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
