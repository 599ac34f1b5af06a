"""The driver JVM's class-data-sharing archive (ask_duckdb_spark.cds):
its key, its lock, the launches that must stay plain, and two one-shot
CLI runs that record the archive and then start on it."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from ask_duckdb_spark import cds
from ask_duckdb_spark.session import default_driver_memory, session_conf

from conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLI = [sys.executable, "-m", "ask_duckdb_spark.cli.sql", "--sf-dir", SF_DIR,
       "--table", "lineitem", "--query", "SELECT count(*) AS n FROM lineitem"]
RESULT = "=== Query result (1 rows) ===\n"


def _touch(path, text="x", mtime=None):
    with open(path, "w") as f:
        f.write(text)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def test_key_follows_the_jars_and_the_java_binary(tmp_path):
    home, java, java2 = tmp_path / "spark", tmp_path / "java", tmp_path / "java2"
    (home / "jars").mkdir(parents=True)
    for p in (home / "jars" / "a.jar", java, java2):
        _touch(p, mtime=1_000_000)
    key = cds.archive_key(str(home), str(java))
    assert cds.archive_key(str(home), str(java)) == key
    assert cds.archive_key(str(home), str(java2)) != key
    _touch(home / "jars" / "b.jar", mtime=1_000_000)
    added = cds.archive_key(str(home), str(java))
    assert added != key
    _touch(home / "jars" / "b.jar", mtime=2_000_000)
    assert cds.archive_key(str(home), str(java)) not in (key, added)


def test_live_lock_is_kept_and_dead_lock_taken_over(tmp_path):
    lock = str(tmp_path / "k.lock")
    _touch(lock, str(os.getppid()))
    assert cds.lock_held(lock)
    assert not cds.take_lock(lock)
    dead = subprocess.Popen(["true"])
    dead.wait()
    _touch(lock, str(dead.pid))
    assert not cds.lock_held(lock)
    assert cds.take_lock(lock)
    assert open(lock).read() == str(os.getpid())


def test_prune_keeps_this_key_and_live_leftovers(tmp_path):
    dead = subprocess.Popen(["true"])
    dead.wait()
    plan = cds.Plan(str(tmp_path), "k1")
    for name in ("k1.jsa", "k0.jsa", f"dump-{dead.pid}", f"dump-{os.getpid()}"):
        _touch(tmp_path / name)
    (tmp_path / f"train-{dead.pid}").mkdir()
    cds._prune(plan)
    assert sorted(os.listdir(tmp_path)) == ["dump-%d" % os.getpid(), "k1.jsa"]


@pytest.fixture
def launches(monkeypatch, tmp_path):
    """``cds.launch`` with the JVM launch and the exit hook recorded, not
    run; the cache is under ``tmp_path``."""
    calls = {"start": [], "atexit": []}
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(cds, "start", lambda *a: calls["start"].append(a))
    monkeypatch.setattr(cds.atexit, "register", lambda *a: calls["atexit"].append(a))
    return calls


def test_archive_launch_and_recording_launch(launches):
    conf = session_conf("t")
    cds.launch(conf)
    assert launches["start"] == [(conf,)]
    (hook, plan, owner), = launches["atexit"]
    assert hook is cds._record and owner == os.getpid()
    launches["start"].clear()
    _touch(plan.archive, "junk")  # not an archive: still the recording launch
    cds.launch(conf)
    assert launches["start"] == [(conf,)]
    with open(plan.archive, "wb") as f:
        f.write(cds.MAGIC + b"\0" * 64)
    cds.launch(conf)
    assert launches["start"][-1] == (
        conf, f"-XX:SharedArchiveFile={plan.archive}", plan.conf_dir)
    assert "SPARK_CONF_DIR" not in os.environ


def _assert_plain(launches, conf):
    cds.launch(conf)
    assert launches["start"] == [(conf,)] and launches["atexit"] == []


def test_conf_dir_with_a_user_file_stays_plain(launches, monkeypatch, tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    _touch(conf_dir / "spark-defaults.conf.template")
    _touch(conf_dir / "spark-defaults.conf")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    _assert_plain(launches, session_conf("t"))
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)


def test_unwritable_cache_stays_plain(launches, monkeypatch, tmp_path):
    _touch(tmp_path / "file")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file" / "cache"))
    _assert_plain(launches, session_conf("t"))
    assert "SPARK_CONF_DIR" not in os.environ


def test_caller_java_options_stay_plain(launches):
    _assert_plain(launches, session_conf(
        "t", extra_conf={cds.JAVA_OPTIONS: "-Dx=1"}))


def test_start_swaps_conf_dir_for_the_launch_only(monkeypatch):
    seen = []
    monkeypatch.setenv("SPARK_CONF_DIR", "/user/conf")
    monkeypatch.setattr(cds.SparkContext, "_ensure_initialized", classmethod(
        lambda cls, conf: seen.append((os.environ["SPARK_CONF_DIR"], conf.get(cds.JAVA_OPTIONS)))))
    cds.start({"spark.app.name": "t"}, "-XX:SharedArchiveFile=/a.jsa", "/empty")
    assert seen == [("/empty", f"-XX:SharedArchiveFile=/a.jsa {cds.QUIET}")]
    assert os.environ["SPARK_CONF_DIR"] == "/user/conf"


def test_default_driver_memory_fits_the_host():
    with open("/proc/meminfo") as f:
        total = next(int(ln.split()[1]) << 10 for ln in f if ln.startswith("MemTotal:"))
    mem = default_driver_memory()
    assert mem.endswith("m")
    assert int(mem[:-1]) << 20 <= min(total // 2, 16 << 30)


def _processes_naming(text: str) -> list[int]:
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode(errors="replace")
        except OSError:
            continue
        if text in cmd:
            out.append(int(pid))
    return out


def _assert_none_left(tmp_path, jvm: int) -> None:
    """Neither the run's JVM nor any process naming ``tmp_path`` (the
    trainer and its JVM) is left; a JVM exits shortly after its parent."""
    def left():
        return [p for p in _processes_naming(str(tmp_path)) + [jvm]
                if os.path.exists(f"/proc/{p}")]
    deadline = time.monotonic() + 15
    while left() and time.monotonic() < deadline:
        time.sleep(0.2)
    assert left() == []


def _run_cli(env) -> tuple[subprocess.CompletedProcess, int, str]:
    """One ``cli.sql`` run; returns it, its JVM's pid and command line."""
    proc = subprocess.Popen(CLI, cwd=ROOT, env=env, text=True,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    jvm, cmd = 0, ""
    while proc.poll() is None and not jvm:
        for pid in _processes_naming("pyspark-shell"):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    argv = f.read().split(b"\0")
            except OSError:
                continue
            if ppid == proc.pid and argv[0].endswith(b"java"):
                jvm, cmd = pid, b" ".join(argv).decode()
        time.sleep(0.05)
    out, err = proc.communicate(timeout=300)
    assert jvm, "no JVM seen"
    return subprocess.CompletedProcess(CLI, proc.returncode, out, err), jvm, cmd


archive_launch = pytest.mark.skipif(
    cds._plan(session_conf("probe")) is None,
    reason="this host's Spark launch keeps the plain JVM (user conf or classpath settings)")


@archive_launch
def test_cli_records_the_archive_then_starts_on_it(tmp_path):
    """The first run launches plainly and publishes the archive at exit;
    the second run's JVM maps it. Same stdout, nothing left running."""
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "xdg")}
    first, jvm, cmd = _run_cli(env)
    assert first.returncode == 0, first.stderr[-2000:]
    assert first.stdout.startswith(RESULT)
    assert "SharedArchiveFile" not in cmd
    _assert_none_left(tmp_path, jvm)
    cache = tmp_path / "xdg" / "ask_duckdb_spark" / "jvm"
    archives = [n for n in os.listdir(cache) if n.endswith(".jsa")]
    assert len(archives) == 1 and sorted(os.listdir(cache)) == ["conf"] + archives
    second, jvm, cmd = _run_cli(env)
    assert second.returncode == 0, second.stderr[-2000:]
    assert f"-XX:SharedArchiveFile={cache / archives[0]}" in cmd
    assert second.stdout == first.stdout
    _assert_none_left(tmp_path, jvm)


@archive_launch
def test_cli_on_a_garbage_archive_still_answers(tmp_path, monkeypatch):
    """A file at the archive path that the JVM cannot map (the right
    magic, junk after it) is skipped silently: exit 0, and stdout holds
    the result and nothing else."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    plan = cds._plan(session_conf("t"))
    with open(plan.archive, "wb") as f:
        f.write(cds.MAGIC + os.urandom(4096))
    proc, jvm, cmd = _run_cli(dict(os.environ))
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert f"-XX:SharedArchiveFile={plan.archive}" in cmd
    lines = proc.stdout.splitlines()
    assert proc.stdout.startswith(RESULT) and len(lines) == 3, proc.stdout
    assert lines[1].split() == ["n"] and lines[2].strip().isdigit()
    _assert_none_left(tmp_path, jvm)


def test_archive_launch_deletes_dead_trainers_leftovers(launches):
    """A trainer killed with its run leaves ``dump-<pid>`` and
    ``train-<pid>``; the next launch on the archive deletes them, and
    keeps a live trainer's and other keys' archives."""
    plan = cds._plan(session_conf("t"))
    with open(plan.archive, "wb") as f:
        f.write(cds.MAGIC + b"\0" * 64)
    dead = subprocess.Popen(["true"])
    dead.wait()
    live = os.getpid()
    for pid in (dead.pid, live):
        _touch(os.path.join(plan.cache, f"dump-{pid}"))
        os.mkdir(os.path.join(plan.cache, f"train-{pid}"))
    _touch(os.path.join(plan.cache, "other.jsa"))
    cds.launch(session_conf("t"))
    assert launches["start"][-1][1] == f"-XX:SharedArchiveFile={plan.archive}"
    assert sorted(os.listdir(plan.cache)) == sorted(
        ["conf", os.path.basename(plan.archive), "other.jsa", f"dump-{live}",
         f"train-{live}"])
