"""Session start-up: runtime conf pinning on an existing session
(session.apply_runtime_conf), the JVM case mapping it pins, the skipped
MLlib extension, the class preload list and Janino warm-up, the threads
a fresh launch starts, and a one-shot CLI run on a fresh JVM."""

from __future__ import annotations

import glob
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


ICU_CASE = "spark.sql.icu.caseMappings.enabled"

#: ASCII, then non-ASCII strings whose case mapping is special: the fi
#: ligature, sharp s and capital sharp s, Greek final sigma, dotted and
#: dotless i, characters with no single-character title case, Cherokee,
#: A with stroke (its lower case is longer in UTF-8) and the dz digraphs.
CASE_SAMPLE = [
    "ONLINE queue brokeroff", "\ufb01le", "stra\xdfe \u1e9e",
    "\u039f\u0394\u039f\u03a3 \u03bf\u03b4\u03bf\u03c2", "\u0130stanbul \u0131",
    "\u0149 \u01f0 \u0390", "\u13a0\uab70", "\u023a \u2c65", "\u01c5 \u01c6 \u01c4",
]

#: initcap of CASE_SAMPLE where the JVM's simple title-case mappings
#: and ICU's full ones differ; on every other string they agree.
INITCAP_JVM = {
    "\ufb01le": "\ufb01le",
    "stra\xdfe \u1e9e": "Stra\xdfe \xdf",
    "\u0130stanbul \u0131": "I\u0307stanbul I",
    "\u0149 \u01f0 \u0390": "\u0149 \u01f0 \u0390",
}
INITCAP_ICU = {
    "\ufb01le": "File",
    "stra\xdfe \u1e9e": "Stra\xdfe \u1e9e",
    "\u0130stanbul \u0131": "\u0130stanbul I",
    "\u0149 \u01f0 \u0390": "\u02bcN J\u030c \u0399\u0308\u0301",
}


def test_runtime_conf_pins_jvm_case_mapping():
    """RUNTIME_CONF turns ICU case mapping off, and apply_runtime_conf
    sets it on a session that lacks it."""
    assert RUNTIME_CONF[ICU_CASE] == "false"
    conf = _Conf(refuse="")
    apply_runtime_conf(_Session(conf))
    assert ("set", ICU_CASE) in conf.calls


@pytest.fixture(scope="module")
def case_sessions(spark, tmp_path_factory):
    """The pinned session and an ICU one, each with CASE_SAMPLE as the
    parquet view ``case_sample`` (a file scan, so lower/upper run in
    generated code, not in constant folding)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("case") / "case_sample.parquet")
    pq.write_table(pa.table({"s": CASE_SAMPLE}), path)
    icu = spark.newSession()
    icu.conf.set(ICU_CASE, "true")
    for sess in (spark, icu):
        sess.read.parquet(path).createOrReplaceTempView("case_sample")
    yield spark, icu
    spark.catalog.dropTempView("case_sample")


def _case_rows(sess, expr):
    return dict(sess.sql(f"SELECT s, {expr} FROM case_sample").collect())


def test_lower_upper_match_icu(case_sessions):
    pinned, icu = case_sessions
    assert pinned.conf.get(ICU_CASE) == "false"
    for expr in ("lower(s)", "upper(s)"):
        rows = _case_rows(pinned, expr)
        assert set(rows) == set(CASE_SAMPLE)
        assert rows == _case_rows(icu, expr), expr


def test_initcap_differences_are_the_known_ones(case_sessions):
    pinned, icu = case_sessions
    jvm, full = _case_rows(pinned, "initcap(s)"), _case_rows(icu, "initcap(s)")
    assert {s: jvm[s] for s in INITCAP_JVM} == INITCAP_JVM
    assert {s: full[s] for s in INITCAP_ICU} == INITCAP_ICU
    assert {s for s in CASE_SAMPLE if jvm[s] != full[s]} == set(INITCAP_JVM)


def test_codegen_calls_the_jvm_case_mapping(case_sessions):
    """Generated code for lower/upper over a parquet scan calls
    ``execBinary``, not ``execBinaryICU``, which is what initializes
    ICU's title-case table; the ICU session shows the check can fail."""
    pinned, icu = case_sessions
    query = "EXPLAIN CODEGEN SELECT lower(s), upper(s) FROM case_sample"
    code = pinned.sql(query).collect()[0][0]
    assert "CollationSupport.Lower.execBinary(" in code
    assert "CollationSupport.Upper.execBinary(" in code
    assert "execBinaryICU" not in code
    assert "CollationSupport.Lower.execBinaryICU(" in icu.sql(query).collect()[0][0]


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


COUNT_QUERY = "SELECT count(*) AS n FROM lineitem"
LOWER_QUERY = ("SELECT lower(l_returnflag) AS flag, count(*) AS n FROM lineitem"
               " GROUP BY 1 ORDER BY 1")


def _cli_sql(env=None, query=COUNT_QUERY) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "ask_duckdb_spark.cli.sql", "--sf-dir", SF_DIR,
         "--table", "lineitem", "--query", query],
        cwd=ROOT, capture_output=True, text=True, timeout=120, env=env)


def test_cli_sql_one_shot_on_a_fresh_jvm(tmp_path):
    """One ``cli.sql`` run in its own process: JVM launch, class preload
    and session start under a time limit, so a start-up hang (say, a
    class-initialization deadlock) fails here instead of hanging. Its
    query lowercases a column, and the JVMs' class-initialization logs
    show ICU's case-mapping class (whose static initializer builds the
    all-of-Unicode title-case table) was never initialized."""
    log = str(tmp_path / "ci_%p.txt")
    env = {**os.environ, "JDK_JAVA_OPTIONS": f"-Xlog:class+init=info:file={log}"}
    proc = _cli_sql(env, LOWER_QUERY)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout == ("=== Query result (3 rows) ===\n"
                           "flag    n\n   a 1962\n   n 2070\n   r 1968\n"), proc.stdout
    logs = [open(p).read() for p in glob.glob(str(tmp_path / "ci_*.txt"))]
    assert any("CollationSupport$Lower" in text for text in logs), len(logs)
    assert not any("CollationAwareUTF8String" in text for text in logs)


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
