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

Cold start: the driver JVM starts from a JDK dynamic class-data archive
(AppCDS, ``-XX:SharedArchiveFile``), which maps the classes a session
loads instead of parsing and verifying them from the jars: ``get_spark``
took 2.8 s instead of 4.9 s on a 4-vCPU host.
The first session per JDK and classpath trains the archive
(``-XX:ArchiveClassesAtExit``); its JVM writes it at exit, which took
10-15 s on that host, once.  One process trains at a time (an ``O_EXCL`` lock
file holding its pid; a dead holder's lock is reclaimed); the others
start without an archive.  The archive lives in the per-user private
directory of ``_private.py``; a directory or archive that is not this
user's, or is writable by group or others, is refused, since a planted
archive is planted code.

 - The JVM cannot dump while a non-empty directory is on its classpath,
   and ``$SPARK_HOME/conf`` is one.  When ``SPARK_CONF_DIR`` is unset and
   that directory holds only ``*.template`` files, the JVM launches with
   an empty private conf directory instead, which changes nothing Spark
   reads.  A real ``spark-defaults.conf`` or ``log4j2.properties`` there
   (or a non-empty ``SPARK_CONF_DIR``, or another classpath entry) is
   left alone and the archive is skipped.
 - The JVM ignores a stale archive without a word, so the archive's name
   carries a key over what it depends on: the real ``java`` binary and
   the JDK's ``release`` file, the classpath's jars (name, size, mtime)
   and conf directory, and whether the heap is under 32 GB (compressed
   oops).  Archives with other keys are deleted.
 - ``archive_state()`` says what the JVM did: ``mapped`` (read back from
   ``/proc/<jvm pid>/maps``), ``training``, or ``off: <reason>``.

Teardown: for every JVM it launched, ``get_spark`` registers an
``atexit`` handler that stops the session, closes the JVM's stdin (the
gateway exits on EOF), waits for the JVM for at most ``_JVM_EXIT_S``
and then kills it, and keeps a trained archive only if the JVM exited
with 0.  The driver thus never exits before its JVM: without the wait a
JVM was seen holding 4.9 GB for 43 s after its driver had gone, and a
process-group kill right after the driver's exit cut the dump short.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
import time
from contextlib import suppress

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from ._private import check_owned, private_dir

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


# ---------------------------------------------------------------------------
# the driver JVM's class-data archive and its teardown
# ---------------------------------------------------------------------------

# the driver's exit waits this long for its JVM, then kills it; a
# training JVM spends 10-15 s of it writing the archive
_JVM_EXIT_S = 60.0
# the JVM turns compressed oops off from 32 GB of heap, and does not map
# an archive dumped on the other side of that line
_COOPS_MAX_MB = 32 * 1024
# a training run otherwise logs hundreds of "Skipping ... Signed JAR"
# warnings
_CDS_LOG = "-Xlog:cds=off,cds+dynamic=off"
_MEM_UNITS = {"b": 2 ** -20, "k": 2 ** -10, "m": 1, "g": 2 ** 10,
              "t": 2 ** 20, "p": 2 ** 30}

_archive_state = "off: get_spark has launched no JVM in this process"


def archive_state() -> str:
    """Class-data sharing of the driver JVM this process's ``get_spark``
    launched: ``mapped``, ``training`` or ``off: <reason>``."""
    return _archive_state


class _Off(Exception):
    """The JVM starts without an archive, for the reason given."""


def _heap_mb(mem: str) -> float:
    """A ``spark.driver.memory`` value in MiB (no unit means MiB)."""
    m = re.fullmatch(r"(\d+)\s*([bkmgtp]?)b?", mem.strip().lower())
    if m is None:
        raise _Off(f"cannot read spark.driver.memory={mem!r}")
    return int(m[1]) * _MEM_UNITS[m[2] or "m"]


def _archive_key(jars: str, conf_dir: str, heap_mb: float) -> str:
    """What the JVM checks a dynamic archive against, hashed: the real
    java binary and its JDK's release, the classpath's jars (name, size,
    mtime) and conf directory, and compressed oops (heap < 32 GB)."""
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else shutil.which("java"))
    if not java:
        raise _Off("no java on PATH")
    java = os.path.realpath(java)
    h = hashlib.sha256(f"{java}\0{conf_dir}\0{heap_mb < _COOPS_MAX_MB}\0"
                       .encode())
    with open(os.path.join(os.path.dirname(os.path.dirname(java)),
                           "release"), "rb") as f:
        h.update(f.read())
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()[:16]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _take_lock(path: str) -> bool:
    """Create the trainer's lock file (``O_EXCL``, holding this pid);
    a lock whose holder is dead is reclaimed.  Two processes reclaiming
    the same dead lock may both train, each into its own file."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o600)
        except FileExistsError:
            try:
                with open(path) as f:
                    text = f.read()
                # an empty lock is one being written, unless it is old
                fresh = time.time() - os.stat(path).st_mtime < _JVM_EXIT_S
            except OSError:
                continue
            if text.isdigit() and _alive(int(text)) or not text and fresh:
                return False
            with suppress(FileNotFoundError):
                os.unlink(path)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _sweep(d: str, key: str) -> None:
    """Delete the archives (``cds-<key>.jsa``) of other keys and the
    partial dumps (``cds-<key>.<pid>.tmp``) of dead trainers."""
    for name in os.listdir(d):
        if not name.startswith("cds-"):
            continue
        parts = name.split(".")
        if parts[1:] == ["jsa"] and parts[0] != f"cds-{key}" \
                or len(parts) == 3 and parts[2] == "tmp" \
                and parts[1].isdigit() and not _alive(int(parts[1])):
            with suppress(FileNotFoundError):
                os.unlink(os.path.join(d, name))


def _plan_archive(heap: str, conf: dict) -> tuple:
    """(JVM options, SPARK_CONF_DIR to launch with or None, archive to
    map or None, (dump file, archive, lock) to train or None) for a
    driver JVM about to launch; raises ``_Off`` or ``OSError`` when it
    starts without either."""
    for var in ("SPARK_DIST_CLASSPATH", "SPARK_CLASSPATH", "HADOOP_CONF_DIR",
                "YARN_CONF_DIR"):
        if os.environ.get(var):
            raise _Off(f"{var} extends the driver classpath")
    if conf.get("spark.driver.extraClassPath"):
        raise _Off("spark.driver.extraClassPath extends the driver classpath")
    home = _find_spark_home()
    d = private_dir()
    conf_dir, swap = os.environ.get("SPARK_CONF_DIR"), None
    if conf_dir:
        if os.path.isdir(conf_dir) and os.listdir(conf_dir):
            raise _Off(f"SPARK_CONF_DIR {conf_dir} is not empty")
    else:
        stock = os.path.join(home, "conf")
        real = sorted(f for f in (os.listdir(stock) if os.path.isdir(stock)
                                  else ()) if not f.endswith(".template"))
        if real:
            raise _Off(f"{stock} holds {real[0]}")
        conf_dir = swap = os.path.join(d, "conf")
        os.makedirs(swap, 0o700, exist_ok=True)
        if os.listdir(swap):
            raise _Off(f"{swap} is not empty")
    key = _archive_key(os.path.join(home, "jars"), conf_dir, _heap_mb(heap))
    _sweep(d, key)
    archive = os.path.join(d, f"cds-{key}.jsa")
    if os.path.exists(archive):
        check_owned(archive)
        return (f"-XX:SharedArchiveFile={archive} {_CDS_LOG}", swap, archive,
                None)
    lock = os.path.join(d, f"cds-{key}.lock")
    if not _take_lock(lock):
        raise _Off("another process is training the archive")
    dump = os.path.join(d, f"cds-{key}.{os.getpid()}.tmp")
    return (f"-XX:ArchiveClassesAtExit={dump} {_CDS_LOG}", swap, None,
            (dump, archive, lock))


def _mapped(pid: int, archive: str) -> bool:
    with open(f"/proc/{pid}/maps") as f:
        return any(line.rstrip("\n").endswith(" " + archive) for line in f)


def _teardown(proc: subprocess.Popen, train: tuple | None) -> None:
    """At interpreter exit: stop the session, close the JVM's stdin (it
    exits on EOF), wait for it (then kill it), and keep a trained
    archive only if the JVM exited with 0."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        # whatever stopping raises, the JVM must still be waited for
        with suppress(Exception):
            sc.stop()
    with suppress(OSError):
        proc.stdin.close()
    try:
        rc = proc.wait(_JVM_EXIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        rc = proc.wait()
    if train is not None:
        dump, archive, lock = train
        if rc == 0 and os.path.exists(dump):
            os.replace(dump, archive)
        for path in (dump, lock):
            with suppress(FileNotFoundError):
                os.unlink(path)


def _get_or_launch(builder: SparkSession.Builder, conf: dict) -> SparkSession:
    """``getOrCreate`` with ``conf``; a driver JVM it launches starts
    from the class-data archive, and this process's exit waits for it."""
    global _archive_state
    # a JVM launches here unless getOrCreate finds one, or pyspark was
    # handed one (spark-submit)
    launch = SparkContext._gateway is None \
        and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = train = None
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if launch:
        try:
            opts, swap, archive, train = _plan_archive(
                conf["spark.driver.memory"], conf)
        except (_Off, OSError) as e:
            _archive_state = f"off: {e}"
        else:
            conf = dict(conf)
            conf["spark.driver.extraJavaOptions"] += " " + opts
            if swap:
                os.environ["SPARK_CONF_DIR"] = swap
    for key, val in conf.items():
        builder = builder.config(key, val)
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if train is not None:
            with suppress(FileNotFoundError):
                os.unlink(train[2])
        raise
    finally:
        if launch:
            # the JVM has it; this process keeps the caller's value
            if conf_dir is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = conf_dir
    if launch:
        proc = SparkContext._gateway.proc
        atexit.register(_teardown, proc, train)
        if train is not None:
            _archive_state = "training"
        elif archive is not None:
            try:
                _archive_state = ("mapped" if _mapped(proc.pid, archive)
                                  else f"off: the JVM did not map {archive}")
            except OSError as e:
                _archive_state = f"off: {e}"
    return spark


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
    # throughput GC: G1 measured 6× slower than ParallelGC on this
    # host at 32-way task concurrency (174.7s vs 27.3s for the same
    # 35M-row rollup job); batch-analytics workloads prefer
    # throughput collectors anyway.  GC threads are pinned to the
    # requested core count — the JVM default (~23 on a 32-CPU host)
    # would let a local[4] "cluster slice" borrow extra cores during
    # GC bursts, which skews N-vs-4N scaling legs
    gc_opts = f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(2, cores)}"
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
        .config("spark.executor.extraJavaOptions", gc_opts)
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
    conf.setdefault("spark.driver.memory",
                    os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                    or default_driver_memory())
    conf.setdefault("spark.driver.extraJavaOptions", gc_opts)
    spark = _get_or_launch(builder, conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark
