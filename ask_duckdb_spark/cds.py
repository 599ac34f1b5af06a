"""Class-data-shared (AppCDS) start-up for the driver JVM.

A fresh driver JVM loads about 19k classes over its set-up and first
query, and the JDK's default CDS archive holds only about 1.2k of them:
the rest are read, parsed and verified from Spark's jars on every start.
JDK 17 can dump the classes one run loaded into a dynamic archive
(``-XX:ArchiveClassesAtExit``) and map it into a later JVM
(``-XX:SharedArchiveFile``), which then skips that work.

:func:`launch` starts the driver JVM for ``session.get_spark``:

- When an archive exists for the current :func:`archive_key` (the java
  binary plus the name, size and mtime of every jar in
  ``$SPARK_HOME/jars``), the JVM maps it through
  ``spark.driver.defaultJavaOptions`` (Spark puts those before
  ``extraJavaOptions``, so a caller's options still apply), with the
  JVM's CDS logging off, so a damaged or mismatched archive is skipped
  without a word. ``SPARK_CONF_DIR`` points at an empty directory for
  the launch: Spark puts its conf dir on the classpath, and JDK 17 maps
  no archive when a non-empty directory is on it. The launch first
  deletes the dump and work dir of any trainer whose pid is dead.
- Otherwise the launch is the plain one, and the process records the
  archive once, at exit (:func:`_record`): under an ``O_EXCL`` lock file
  it runs a trainer subprocess (``python -m ask_duckdb_spark.cds``) that
  drives a small session over tables it writes itself, and publishes the
  dump with ``os.replace`` only when the trainer and its JVM exited
  cleanly. Recording never runs inside a user's session.

:func:`_plan` keeps the plain launch whenever the swap could drop user
configuration or an archive could not match the classpath: a conf dir
holding anything but ``*.template`` files, a classpath setting, caller
``defaultJavaOptions``, a gateway that is already running, or a cache
that cannot be written. The archive lives at
``$XDG_CACHE_HOME/ask_duckdb_spark/jvm/<key>.jsa`` (``~/.cache`` by
default), next to the empty conf dir it was recorded with.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark import SparkConf, SparkContext

#: Spark's driver option the archive flag travels in.
JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
#: Keeps the JVM's CDS messages, which go to stdout, quiet.
QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
#: Environment settings that change the driver's classpath.
CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "SPARK_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
#: Bound on one training run: its session, its queries and the dump.
TRAIN_TIMEOUT_S = 300
#: The first bytes of a JDK dynamic archive (0xf00baba8, native order).
MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)


@dataclass(frozen=True)
class Plan:
    """Where the archive of one key lives, and how it is launched."""

    cache: str
    key: str

    @property
    def archive(self) -> str:
        return os.path.join(self.cache, f"{self.key}.jsa")

    @property
    def lock(self) -> str:
        return os.path.join(self.cache, f"{self.key}.lock")

    @property
    def conf_dir(self) -> str:
        return os.path.join(self.cache, "conf")


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "ask_duckdb_spark", "jvm")


def java_binary() -> str | None:
    """The java that ``spark-class`` runs, with links resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java else None


def archive_key(spark_home: str, java: str) -> str:
    """Hash of the java binary and of the name, size and mtime of each
    jar in ``spark_home/jars``: a JDK or Spark change gives a new key.
    Raises ``OSError`` when either is missing."""
    h = hashlib.sha256()
    jars = os.path.join(spark_home, "jars")
    for path in [java] + [os.path.join(jars, n) for n in sorted(os.listdir(jars))]:
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(java.encode())
    return h.hexdigest()[:16]


def only_templates(conf_dir: str) -> bool:
    """True when ``conf_dir`` is missing or holds only ``*.template``
    files, so swapping it for an empty one drops no configuration."""
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def is_archive(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(len(MAGIC)) == MAGIC
    except OSError:
        return False


def _plan(conf: dict[str, str]) -> Plan | None:
    """The archive plan for a launch with ``conf``, or None when the
    launch must stay the plain one (see the module docstring)."""
    env = os.environ
    if (JAVA_OPTIONS in conf or "spark.driver.extraClassPath" in conf
            or "PYSPARK_GATEWAY_PORT" in env
            or env.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell"
            or any(env.get(k) for k in CLASSPATH_ENV)):
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    java = java_binary()
    if java is None or not only_templates(
            env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")):
        return None
    try:
        plan = Plan(cache_dir(), archive_key(spark_home, java))
        if any(c.isspace() or c in "\"'" for c in plan.cache):
            return None  # Spark splits java options on blanks
        os.makedirs(plan.conf_dir, exist_ok=True)
        if os.listdir(plan.conf_dir) or not os.access(plan.cache, os.W_OK):
            return None
    except OSError:
        return None
    return plan


def start(conf: dict[str, str], java_option: str | None = None,
          conf_dir: str | None = None) -> None:
    """Launch the driver JVM with ``conf`` (``SparkContext``'s own
    launch), adding ``java_option`` with :data:`QUIET` and, for this
    launch only, ``SPARK_CONF_DIR=conf_dir``."""
    if java_option:
        conf = {**conf, JAVA_OPTIONS: f"{java_option} {QUIET}"}
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
    finally:
        if conf_dir and saved is None:
            del os.environ["SPARK_CONF_DIR"]
        elif conf_dir:
            os.environ["SPARK_CONF_DIR"] = saved


def launch(conf: dict[str, str]) -> None:
    """Launch the driver JVM on the archive when there is one for this
    key, after deleting what dead trainers left beside it (a trainer
    killed with its run never cleans up, and no later run trains once
    the archive is published); otherwise launch it plainly and record
    the archive at exit."""
    plan = _plan(conf)
    if plan is not None and is_archive(plan.archive):
        try:
            _prune_leftovers(plan.cache)
        except OSError:
            pass
        start(conf, f"-XX:SharedArchiveFile={plan.archive}", plan.conf_dir)
        return
    start(conf)
    if plan is not None:
        atexit.register(_record, plan, os.getpid())


def stop_jvm(timeout: float = 60) -> int | None:
    """Stop the active context and the JVM this process launched, and
    wait for the JVM to exit (a dump at exit happens inside that wait).
    Returns the JVM's exit code, or None when no JVM process was ours."""
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return None
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return None
    proc.stdin.close()
    return proc.wait(timeout=timeout)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, and someone else's
        pass
    return True


def lock_held(path: str) -> bool:
    """Whether the lock at ``path`` belongs to a live training: its pid
    is alive and it is younger than two training bounds. A lock still
    being written (no pid yet) counts as live for the same time."""
    try:
        with open(path) as f:
            text = f.read().strip()
        age = time.time() - os.stat(path).st_mtime
    except FileNotFoundError:
        return False
    if age > 2 * TRAIN_TIMEOUT_S:
        return False
    return not text.isdigit() or _pid_alive(int(text))


def take_lock(path: str) -> bool:
    """Create the lock file at ``path`` holding this pid (``O_EXCL``);
    a lock that is not :func:`lock_held` is taken over."""
    for attempt in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if attempt or lock_held(path):
                return False
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _prune_leftovers(cache: str) -> None:
    """Delete the ``dump-<pid>`` and ``train-<pid>`` that trainers whose
    pid is dead left in ``cache``. Runs on archive launches too, where
    another process may be pruning the same files: those races are
    ignored."""
    for name in os.listdir(cache):
        stem, _, pid = name.partition("-")
        if stem not in ("dump", "train") or not pid.isdigit() or _pid_alive(int(pid)):
            continue
        path = os.path.join(cache, name)
        if stem == "train":
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass


def _prune(plan: Plan) -> None:
    """Delete archives of other keys and what dead trainers left."""
    for name in os.listdir(plan.cache):
        if name.endswith(".jsa") and name != os.path.basename(plan.archive):
            os.unlink(os.path.join(plan.cache, name))
    _prune_leftovers(plan.cache)


def _record(plan: Plan, owner: int) -> None:
    """At exit: stop this process's JVM, then build and publish the
    archive for ``plan.key``, unless one is there, another live process
    is building it, or this is a forked child of the launching process."""
    if os.getpid() != owner or is_archive(plan.archive) or not take_lock(plan.lock):
        return
    dump = os.path.join(plan.cache, f"dump-{owner}")
    work = os.path.join(plan.cache, f"train-{owner}")
    try:
        _prune(plan)
        try:
            stop_jvm()
        except (Py4JError, subprocess.TimeoutExpired, OSError):
            return  # a JVM that is already gone or will not stop
        os.makedirs(work)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = {**os.environ, "TMPDIR": work, "SPARK_LOCAL_DIRS": work,
               "SPARK_GRAFT_DRIVER_MEM": "1g",
               "PYTHONPATH": os.pathsep.join(
                   p for p in (root, os.environ.get("PYTHONPATH")) if p)}
        proc = subprocess.Popen(
            [sys.executable, "-m", "ask_duckdb_spark.cds", dump, plan.conf_dir],
            cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, start_new_session=True)
        try:
            ok = proc.wait(timeout=TRAIN_TIMEOUT_S) == 0
        except subprocess.TimeoutExpired:
            ok = False
        finally:  # the trainer's JVM too, wherever the trainer stopped
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        if ok and is_archive(dump):
            os.replace(dump, plan.archive)
    finally:
        for path in (dump, plan.lock):
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass
        shutil.rmtree(work, ignore_errors=True)


def _exercise(spark, root: str) -> None:
    """One small session over tables written under ``root``: footer-
    schema views, a join/group-by/order-by and a window through the
    display path, an Arrow local frame, a DataFrame-parameter query, a
    parquet write and read-back, and a local checkpoint."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .introspect import table_exists
    from .sources.catalog import load_table, local_frame
    from .sources.display import result_preview

    n = 2000
    t0 = datetime.datetime(2024, 1, 1)
    tables = {
        "facts": pa.table({
            "id": pa.array(range(n), pa.int64()),
            "grp": pa.array([i % 7 for i in range(n)], pa.int32()),
            "amount": pa.array([i * 0.25 for i in range(n)], pa.float64()),
            "label": pa.array([f"item {i % 13}" for i in range(n)], pa.string()),
            "ts": pa.array([t0 + datetime.timedelta(minutes=i) for i in range(n)],
                           pa.timestamp("us")),
            "vec": pa.array([[float(i % 3), 1.0] for i in range(n)],
                            pa.list_(pa.float32())),
        }),
        "dims": pa.table({"grp": pa.array(range(7), pa.int32()),
                          "name": [f"group {g}" for g in range(7)]}),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        load_table(spark, root, name).createOrReplaceTempView(name)
    table_exists(spark, "facts")
    result_preview(spark.sql(
        "SELECT d.name, count(*) AS n, sum(f.amount) AS total, max(f.ts) AS last"
        " FROM facts f JOIN dims d ON f.grp = d.grp WHERE f.label LIKE 'item%'"
        " GROUP BY d.name ORDER BY total DESC"))
    result_preview(spark.sql(
        "SELECT id, upper(label) AS label, date_trunc('DAY', ts) AS day,"
        " row_number() OVER (PARTITION BY grp ORDER BY amount DESC) AS rn"
        " FROM facts WHERE id % 3 = 0"), max_rows=10)
    tags = local_frame(spark, [(g, f"g{g}") for g in range(7)], "grp int, tag string")
    result_preview(spark.sql(
        "SELECT t.tag, avg(f.amount) AS mean FROM {t} t JOIN facts f USING (grp)"
        " GROUP BY t.tag", t=tags))
    out = os.path.join(root, "written.parquet")
    tags.join(spark.table("facts"), "grp").groupBy("tag").count().write.parquet(out)
    spark.read.parquet(out).localCheckpoint(eager=True).count()


def _die_with_parent() -> None:
    """Have the kernel kill this process when its parent dies (Linux),
    so a run killed while it trains leaves no trainer running."""
    import ctypes

    try:
        prctl = ctypes.CDLL(None).prctl
    except (OSError, AttributeError):
        return
    prctl.argtypes, prctl.restype = (ctypes.c_int, ctypes.c_ulong), ctypes.c_int
    prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def _train(dump: str, conf_dir: str) -> int:
    """The trainer: run :func:`_exercise` on a JVM that dumps the classes
    it loaded to ``dump`` at exit; exit 0 only for a whole archive."""
    _die_with_parent()
    from .session import get_spark, session_conf

    extra = {"spark.sql.warehouse.dir": os.path.abspath("warehouse")}
    start(session_conf("cds-train", extra_conf=extra),
          f"-XX:ArchiveClassesAtExit={dump}", conf_dir)
    _exercise(get_spark("cds-train", extra_conf=extra), os.getcwd())
    return 0 if stop_jvm(TRAIN_TIMEOUT_S) == 0 and is_archive(dump) else 1


if __name__ == "__main__":
    sys.exit(_train(*sys.argv[1:]))
