"""Session defaults: the driver-heap sizing, the driver JVM's
class-data archive (its plan in-process, its training, mapping and the
teardown wait in driver subprocesses)."""

import os
import shutil
import subprocess
import sys
import tempfile
import textwrap

import pytest

from dtaidistance_spark import session as S
from dtaidistance_spark.session import default_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("total_kb, heap", [
    (15_728_640, "7680m"),        # 15 GB host: half
    (1_048_576, "1024m"),         # 1 GB host: the 1g floor
    (268_435_456, "24576m"),      # 256 GB host: the 24g cap
])
def test_driver_memory_is_half_of_memtotal(tmp_path, total_kb, heap):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemFree:         123 kB\n"
                       f"MemTotal:       {total_kb} kB\n")
    assert default_driver_memory(str(meminfo)) == heap


def test_driver_memory_unreadable_meminfo_is_spark_default(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "1024m"
    (tmp_path / "no_total").write_text("MemFree: 1 kB\n")
    assert default_driver_memory(str(tmp_path / "no_total")) == "1024m"


# ---------------------------------------------------------------------------
# the driver JVM's class-data archive and the teardown wait
# ---------------------------------------------------------------------------

@pytest.fixture
def fake_home(monkeypatch, tmp_path):
    """A SPARK_HOME with two jars and a stock conf directory (templates
    only), and a tmp root of its own for the private directory."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar " + name.encode())
    (home / "conf" / "spark-defaults.conf.template").write_text("# t\n")
    (home / "conf" / "log4j2.properties.template").write_text("# t\n")
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return home


def _private(tmp_root) -> str:
    return os.path.join(str(tmp_root), f"dtaidistance_spark-{os.getuid()}")


def test_template_conf_dir_is_swapped_for_an_empty_private_one(fake_home):
    opts, swap, archive, train = S._plan_archive("1g", {})
    d = _private(tempfile.tempdir)
    assert swap == os.path.join(d, "conf") and os.listdir(swap) == []
    assert archive is None
    dump, final, lock = train
    assert opts == f"-XX:ArchiveClassesAtExit={dump} {S._CDS_LOG}"
    assert os.path.dirname(final) == d and final.endswith(".jsa")
    with open(lock) as f:
        assert f.read() == str(os.getpid())
    os.unlink(lock)


@pytest.mark.parametrize("name", ["spark-defaults.conf",
                                  "log4j2.properties"])
def test_real_conf_file_is_left_alone(fake_home, name):
    (fake_home / "conf" / name).write_text("spark.ui.enabled false\n")
    with pytest.raises(S._Off, match=f"{fake_home / 'conf'} holds {name}"):
        S._plan_archive("1g", {})
    assert "SPARK_CONF_DIR" not in os.environ


def test_key_changes_at_32g_of_heap_and_with_a_jar(fake_home):
    jars, conf = str(fake_home / "jars"), "/conf"
    key = S._archive_key(jars, conf, S._heap_mb("8g"))
    assert S._archive_key(jars, conf, S._heap_mb("31g")) == key
    assert S._archive_key(jars, conf, S._heap_mb("32g")) != key
    assert S._archive_key(jars, conf, S._heap_mb("40960m")) != key
    assert S._archive_key(jars, "/other", S._heap_mb("8g")) != key
    jar = fake_home / "jars" / "b.jar"
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    key_touched = S._archive_key(jars, conf, S._heap_mb("8g"))
    assert key_touched != key
    (fake_home / "jars" / "c.jar").write_bytes(b"jar c")
    assert S._archive_key(jars, conf, S._heap_mb("8g")) not in (
        key, key_touched)


def test_archives_of_other_keys_are_deleted(fake_home):
    d = _private(tempfile.tempdir)
    os.makedirs(d, 0o700)
    stale = os.path.join(d, "cds-0123456789abcdef.jsa")
    dead_dump = os.path.join(d, "cds-0123456789abcdef.999999999.tmp")
    for path in (stale, dead_dump):
        open(path, "w").close()
    _, _, _, train = S._plan_archive("1g", {})
    os.unlink(train[2])
    assert os.listdir(d) == ["conf"]


def test_non_private_directory_is_refused(fake_home):
    d = _private(tempfile.tempdir)
    os.makedirs(d, 0o700)
    os.chmod(d, 0o755)
    with pytest.raises(PermissionError, match="not a directory private"):
        S._plan_archive("1g", {})


@pytest.mark.parametrize("owner", ["group-writable", "other user"])
def test_foreign_or_writable_archive_is_refused(fake_home, owner):
    _, _, _, train = S._plan_archive("1g", {})
    dump, archive, lock = train
    os.unlink(lock)
    with open(archive, "wb") as f:
        f.write(b"planted")
    if owner == "other user":
        if os.getuid() != 0:
            pytest.skip("chown to another user needs root")
        os.chmod(archive, 0o444)
        os.chown(archive, os.getuid() + 4242, -1)
    else:
        os.chmod(archive, 0o664)
    with pytest.raises(PermissionError, match="not owned by this user"):
        S._plan_archive("1g", {})
    os.chmod(archive, 0o444)
    if owner != "other user":           # the control: an owned archive
        opts, _, mapped, train = S._plan_archive("1g", {})
        assert (mapped, train) == (archive, None)
        assert opts == f"-XX:SharedArchiveFile={archive} {S._CDS_LOG}"


def test_held_lock_blocks_and_dead_lock_is_reclaimed(tmp_path):
    lock = str(tmp_path / "cds-k.lock")
    with open(lock, "w") as f:
        f.write(str(os.getppid()))          # a live holder
    assert not S._take_lock(lock)
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True).stdout.strip()
    with open(lock, "w") as f:
        f.write(dead)
    assert S._take_lock(lock)
    with open(lock) as f:
        assert f.read() == str(os.getpid())


_DRIVER = textwrap.dedent("""
    import os, sys, time
    sys.path.insert(0, {repo!r})
    from pyspark import SparkContext
    from dtaidistance_spark import session

    spark = session.get_spark(app_name="cds", cores=1, shuffle_partitions=1)
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{{pid}}/maps") as f:
        jsa = sorted({{l.split()[-1] for l in f if l.rstrip().endswith(".jsa")}})
    print("JVM", pid, flush=True)
    print("STATE", session.archive_state(), flush=True)
    print("JSA", *jsa, flush=True)
    print("PROBE", spark.conf.get("spark.dtaidistance.probe", "unset"),
          flush=True)
    assert spark.range(5).count() == 5
    go = sys.argv[1] if len(sys.argv) > 1 else None
    while go and not os.path.exists(go):
        time.sleep(0.1)
""")


def _drivers(tmp_root, n, hold=None, **env_extra):
    """Start ``n`` driver subprocesses whose tmp (and so the archive's
    private directory) is ``tmp_root``; each holds its session until the
    file ``hold`` exists."""
    script = os.path.join(str(tmp_root), "drive.py")
    with open(script, "w") as f:
        f.write(_DRIVER.format(repo=REPO))
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_CONF_DIR")}
    env.update(TMPDIR=str(tmp_root), SPARK_GRAFT_DRIVER_MEM="1g",
               **env_extra)
    return [subprocess.Popen([sys.executable, script]
                             + ([str(hold)] if hold else []),
                             cwd=str(tmp_root), env=env, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE)
            for _ in range(n)]


def _report(proc) -> dict:
    """The driver's JVM pid, archive state and mapped archives, read
    while it holds its session."""
    out = {}
    for _ in range(4):
        line = proc.stdout.readline()
        assert line, proc.stderr.read()[-3000:]
        tag, _, rest = line.rstrip("\n").partition(" ")
        out[tag] = rest
    return out


def _finish(proc) -> None:
    out, err = proc.communicate(timeout=240)
    assert proc.returncode == 0, err[-3000:]


@pytest.fixture(scope="module")
def trained(tmp_path_factory):
    """Two concurrent first sessions over one empty tmp root, both
    reporting before either exits; then the root's contents.  The
    archive (~150 MB) is deleted after the module's tests."""
    root = tmp_path_factory.mktemp("cds")
    hold = root / "go"
    procs = _drivers(root, 2, hold)
    try:
        reports = [_report(p) for p in procs]
        hold.touch()
        for p in procs:
            _finish(p)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    yield root, reports, sorted(os.listdir(_private(root)))
    shutil.rmtree(_private(root))


def test_two_concurrent_first_sessions_train_once(trained):
    root, reports, files = trained
    assert sorted(r["STATE"] for r in reports) == [
        "off: another process is training the archive", "training"]
    jsa = [f for f in files if f.endswith(".jsa")]
    assert len(jsa) == 1 and files == sorted(["conf", jsa[0]])
    archive = os.path.join(_private(root), jsa[0])
    st = os.stat(archive)
    assert st.st_size > 0 and not st.st_mode & 0o022


def test_driver_exit_waits_for_its_jvm(trained):
    """Each driver's JVM is gone by the time the driver has exited."""
    _, reports, _ = trained
    for r in reports:
        assert not os.path.exists(f"/proc/{r['JVM']}"), r


def test_second_driver_maps_the_archive(trained):
    root, _, files = trained
    archive = os.path.join(_private(root), next(
        f for f in files if f.endswith(".jsa")))
    (proc,) = _drivers(root, 1)
    report = _report(proc)
    _finish(proc)
    assert report["STATE"] == "mapped"
    assert archive in report["JSA"].split()
    assert not os.path.exists(f"/proc/{report['JVM']}")


def test_real_spark_defaults_applies_and_archive_is_off(tmp_path):
    """A stock conf directory with a real ``spark-defaults.conf`` stays
    the JVM's conf directory: its setting applies, and the state says
    why there is no archive."""
    real = os.environ.get("SPARK_HOME", "/opt/spark")
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    for name in os.listdir(real):
        if name != "conf":
            os.symlink(os.path.join(real, name), home / name)
    (home / "conf" / "spark-defaults.conf").write_text(
        "spark.dtaidistance.probe left-alone\n")
    (proc,) = _drivers(tmp_path, 1, SPARK_HOME=str(home))
    report = _report(proc)
    _finish(proc)
    assert report["STATE"] == f"off: {home / 'conf'} holds spark-defaults.conf"
    assert report["PROBE"] == "left-alone"
    assert not any(f.startswith("cds-") for f in os.listdir(_private(tmp_path)))
