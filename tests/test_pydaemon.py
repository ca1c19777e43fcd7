"""The Python worker daemon entry (dtaidistance_spark/pydaemon.py): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a changed one is, Spark workers started from it still pick up
``addPyFile`` modules, and they fork from a daemon that already imported
the Arrow UDF stack and froze its heap."""

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from dtaidistance_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WRAPS = sys.version_info < (3, 13)


@pytest.fixture
def keyed(monkeypatch):
    """pydaemon.install() for one test; the original method comes back
    at teardown."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    pydaemon.install()


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(not WRAPS, reason="Python >= 3.13 re-reads lazily")
def test_unchanged_archive_not_reread(keyed, monkeypatch, tmp_path):
    archive = tmp_path / "a.zip"
    _write_zip(archive, {"m": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    imp.invalidate_caches()          # first call records the archive key
    assert len(reads) == 1
    for _ in range(3):
        imp.invalidate_caches()
    assert len(reads) == 1
    _write_zip(archive, {"m": "X = 1\n", "n": "Y = 2\n"})
    imp.invalidate_caches()
    assert len(reads) == 2


def test_rewritten_archive_imports_new_module(keyed, monkeypatch, tmp_path):
    tag = uuid.uuid4().hex[:8]
    old, new = f"zmod_old_{tag}", f"zmod_new_{tag}"
    archive = tmp_path / "b.zip"
    _write_zip(archive, {old: "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module(old).X == 1
        importlib.invalidate_caches()
        _write_zip(archive, {old: "X = 1\n", new: "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module(new).Y == 2
    finally:
        for name in (old, new):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_session_uses_daemon_entry(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == \
        "dtaidistance_spark.pydaemon"
    assert conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)[0] \
        == REPO


def test_worker_sees_wrapped_method(spark):
    def probe(it):
        import zipimport
        for _ in it:
            yield pd.DataFrame({"wrapped": [hasattr(
                zipimport.zipimporter.invalidate_caches, "__wrapped__")]})

    rows = spark.range(4).repartition(4).mapInPandas(
        probe, "wrapped boolean").collect()
    assert rows and all(r.wrapped == WRAPS for r in rows)


@pytest.mark.skipif(not os.path.isdir("/proc/self/task"),
                    reason="reads the daemon's threads from /proc")
def test_workers_fork_from_frozen_preloaded_daemon(spark):
    def probe(it):
        import gc
        import os
        import sys

        daemon = os.getppid()
        with open(f"/proc/{daemon}/cmdline", "rb") as f:
            cmd = f.read().split(b"\0")
        threads = []
        for t in os.listdir(f"/proc/{daemon}/task"):
            with open(f"/proc/{daemon}/task/{t}/comm") as f:
                threads.append(f.read().strip())
        # a module imported before the fork sits in the permanent
        # generation, which the collector no longer lists
        pa = vars(sys.modules["pyarrow"])
        inherited = not any(o is pa for o in gc.get_objects())
        for _ in it:
            yield pd.DataFrame({"entry": [b"dtaidistance_spark.pydaemon"
                                          in cmd],
                                "frozen": [gc.get_freeze_count()],
                                "pyarrow_inherited": [inherited],
                                "threads": [sorted(threads)]})

    rows = spark.range(4, numPartitions=4).mapInPandas(
        probe, "entry boolean, frozen long, pyarrow_inherited boolean, "
        "threads array<string>").collect()
    assert len(rows) == 4
    for r in rows:
        assert r.entry
        assert r.frozen >= 30_000
        assert r.pyarrow_inherited
        # fork-safe: besides its main thread the daemon runs at most
        # pyarrow's jemalloc background thread, which jemalloc's own
        # fork handlers cover
        assert len([t for t in r.threads if t != "jemalloc_bg_thd"]) == 1


def test_add_py_file_after_tasks_ran(spark, tmp_path):
    sc = spark.sparkContext
    # workers start and run tasks before the files exist
    assert spark.range(64).repartition(4).mapInPandas(
        lambda it: it, "id long").count() == 64
    tag = uuid.uuid4().hex[:8]
    zmod, pmod = f"late_zip_{tag}", f"late_py_{tag}"
    zpath = tmp_path / f"{zmod}.zip"
    _write_zip(zpath, {zmod: "VALUE = 3\n"})
    ppath = tmp_path / f"{pmod}.py"
    ppath.write_text("VALUE = 4\n")
    sc.addPyFile(str(zpath))
    sc.addPyFile(str(ppath))

    def use(it):
        import importlib
        a = importlib.import_module(zmod).VALUE
        b = importlib.import_module(pmod).VALUE
        for pdf in it:
            yield pd.DataFrame({"v": [a + b] * len(pdf)})

    rows = spark.range(64).repartition(4).mapInPandas(use, "v long").collect()
    assert len(rows) == 64 and {r.v for r in rows} == {7}


def test_session_outside_checkout_runs_udf(tmp_path):
    """A driver that found the package only through sys.path, started
    with cwd outside the checkout and no PYTHONPATH, still runs Python
    UDFs: the package root reaches the workers' PYTHONPATH, merged with
    the caller's value; an explicit SPARK_GRAFT_DRIVER_MEM sets the
    heap."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {REPO!r})
        from dtaidistance_spark.session import get_spark

        spark = get_spark(app_name="outside", cores=2, shuffle_partitions=2,
                          extra_conf={{"spark.executorEnv.PYTHONPATH":
                                       "/nonexistent-extra"}})
        pp = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
        assert pp == {REPO!r} + os.pathsep + "/nonexistent-extra", pp
        assert spark.sparkContext.getConf().get("spark.driver.memory") \
            == "1g"

        def f(it):
            import dtaidistance_spark
            for pdf in it:
                yield pdf.assign(id=pdf["id"] * 2)

        total = sum(r.id for r in spark.range(10).mapInPandas(
            f, "id long").collect())
        spark.stop()
        print("UDF_SUM", total)
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"    # wins over the sized default
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "UDF_SUM 90" in proc.stdout
