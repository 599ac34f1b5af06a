"""Session start-up: runtime conf pinning on an existing session
(session.apply_runtime_conf), the skipped MLlib extension, the class
preload list and Janino warm-up, the threads a fresh launch starts, and
a one-shot CLI run on a fresh JVM."""

from __future__ import annotations

import os
import subprocess
import sys
import warnings
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JError, Py4JJavaError

from ask_duckdb_spark import session
from ask_duckdb_spark.session import PRELOAD_CLASSES, RUNTIME_CONF, apply_runtime_conf

from conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Conf:
    """conf stub: every key reads unset; one key refuses ``set``."""

    def __init__(self, refuse: str):
        self.refuse = refuse
        self.calls: list[tuple[str, str]] = []

    def get(self, key, default=None):
        self.calls.append(("get", key))
        return default

    def set(self, key, value):
        self.calls.append(("set", key))
        if key == self.refuse:
            raise RuntimeError("CANNOT_MODIFY_CONFIG")


class _Session:
    def __init__(self, conf):
        self.conf = conf


def test_apply_runtime_conf_warns_on_unsettable_conf_and_goes_on():
    refuse = "spark.sql.ansi.enabled"
    conf = _Conf(refuse)
    session = _Session(conf)
    with pytest.warns(RuntimeWarning) as caught:
        apply_runtime_conf(session)
    msgs = [str(w.message) for w in caught]
    assert len(msgs) == 1, msgs
    assert refuse in msgs[0]
    assert RUNTIME_CONF[refuse] in msgs[0]
    assert "RuntimeError: CANNOT_MODIFY_CONFIG" in msgs[0]
    # the loop went on past the refused conf
    assert [k for op, k in conf.calls if op == "set"] == list(RUNTIME_CONF)
    # pinned once per session: a second call makes no conf calls
    conf.calls.clear()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        apply_runtime_conf(session)
    assert conf.calls == []


def test_mllib_session_extension_stays_off(spark):
    """get_spark skips MLlib's classpath SparkSessionExtensionsProvider,
    so its three functions are absent (a Spark upgrade that renames the
    skipping conf brings them back and fails here). They go to Spark's
    internal function registry, the one ``Column.internalFn`` resolves,
    not the catalog's, so ``spark.catalog.functionExists`` cannot see
    them either way."""
    jvm = spark.sparkContext._jvm
    module = getattr(jvm.org.apache.spark.sql.catalyst.analysis, "FunctionRegistry$")
    registry = getattr(module, "MODULE$").internal()
    ident = jvm.org.apache.spark.sql.catalyst.FunctionIdentifier
    for name in ("vector_to_array", "array_to_vector", "aggregate_metrics"):
        assert not registry.functionExists(ident.apply(name)), name


def test_preload_classes_resolve(spark):
    """Every preloaded class exists on the session's JVM, and so does
    Janino's ``ClassBodyEvaluator``, which then compiles the warm-up:
    a renamed class or a broken warm-up would otherwise be skipped
    silently and lose its start-up overlap."""
    jvm = spark.sparkContext._jvm
    missing = []
    for name in PRELOAD_CLASSES + ("org.codehaus.janino.ClassBodyEvaluator",):
        try:
            jvm.java.lang.Class.forName(name)
        except Py4JJavaError:
            missing.append(name)
    assert not missing
    evaluator = jvm.org.codehaus.janino.ClassBodyEvaluator()
    evaluator.cook(session.JANINO_WARMUP)
    assert evaluator.getClazz().getMethod("one", None).invoke(None, None) == 1


class _FailingJvm:
    """A JVM view on which every class resolves and Janino's compile fails."""

    def __getattr__(self, name):
        if name == "cook":
            raise Py4JError("compile failed")
        return self

    def __call__(self, *args):
        return self


def test_failing_janino_warmup_is_swallowed():
    session._preload_classes(_FailingJvm())


class _Spark:
    sparkContext = SimpleNamespace(setLogLevel=lambda level: None)

    def __init__(self):
        self._adbs_conf_pinned = True


class _Builder:
    def __init__(self, events):
        self.events = events

    def config(self, map):
        return self

    def getOrCreate(self):
        self.events.append("getOrCreate")
        return _Spark()


def test_pandas_import_runs_only_on_a_fresh_launch(monkeypatch):
    """A fresh launch starts the pandas import before ``cds.launch`` and
    the class preload after it; a running JVM starts neither. An import
    that fails on its thread is swallowed, and the session is made."""
    events = []

    class Thread:
        def __init__(self, target, name, daemon, args=()):
            self.target, self.name, self.args = target, name, args

        def start(self):  # runs the target at once, on this thread
            events.append(self.name)
            self.target(*self.args)

    monkeypatch.setattr(session, "threading", SimpleNamespace(Thread=Thread))
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder(events)))
    monkeypatch.setattr(session, "SparkContext", SimpleNamespace(_gateway=None, _jvm="jvm"))
    monkeypatch.setattr(session.cds, "launch", lambda conf: events.append("launch"))
    monkeypatch.setattr(session, "_preload_classes", lambda jvm: events.append(jvm))
    monkeypatch.setattr(session, "PANDAS_IMPORT", "ask_duckdb_spark.no_such_module")
    assert isinstance(session.get_spark("t"), _Spark)
    assert events == ["pyspark-pandas-import", "launch", "spark-class-preload", "jvm",
                      "getOrCreate"]
    events.clear()
    session.SparkContext._gateway = object()
    session.get_spark("t")
    assert events == ["getOrCreate"]


def _cli_sql(env=None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "ask_duckdb_spark.cli.sql", "--sf-dir", SF_DIR,
         "--table", "lineitem", "--query", "SELECT count(*) AS n FROM lineitem"],
        cwd=ROOT, capture_output=True, text=True, timeout=120, env=env)


def test_cli_sql_one_shot_on_a_fresh_jvm():
    """One ``cli.sql`` run in its own process: JVM launch, class preload
    and session start under a time limit, so a start-up hang (say, a
    class-initialization deadlock) fails here instead of hanging."""
    proc = _cli_sql()
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "=== Query result (1 rows) ===" in proc.stdout, proc.stdout


def test_cli_sql_without_pinned_threads():
    """``PYSPARK_PIN_THREAD=false`` gives PySpark a plain Py4J gateway,
    on which the set-up threads share a connection pool instead of each
    owning a JVM thread; a one-shot run must still exit 0 with the same
    stdout."""
    pinned = _cli_sql()
    unpinned = _cli_sql({**os.environ, "PYSPARK_PIN_THREAD": "false"})
    assert pinned.returncode == 0, pinned.stderr[-2000:]
    assert unpinned.returncode == 0, unpinned.stderr[-2000:]
    assert unpinned.stdout == pinned.stdout
