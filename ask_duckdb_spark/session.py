"""SparkSession factory and runtime configuration pinning.

The reference opens DuckDB read-only and delegates all execution to it
(reference: query_llm.py:441-446). Our analogue is a tuned SparkSession;
Catalyst plays DuckDB's role. Two entry paths:

- :func:`get_spark` builds a new tuned local session (tests, CLI, bench).
- :func:`apply_runtime_conf` pins the runtime-settable confs on an
  *existing* session (the driver harness owns its own session); it is
  idempotent and safe to call per-query.

Start-up is the largest wait a one-shot run sees, and most of it is
JVM class loading: about 19k classes over set-up and the first query.
:func:`get_spark` trims it, and does on other threads what need not
wait for the caller's:

- When it has to launch the JVM, it launches it through
  :func:`cds.launch`, which maps a cached class-data-sharing archive of
  the classes a session loads (recorded once per JDK and Spark install,
  at the exit of the first run without one), so most classes are mapped
  rather than read and parsed from Spark's jars.
- While that launch runs, a daemon thread imports what PySpark's first
  converted Py4J call imports (:func:`_import_pandas`: pandas, about
  0.35 s), which would otherwise run after the launch.
- It skips MLlib's classpath session extension
  (``org.apache.spark.sql.ml.InternalFunctionRegistration``, see
  :data:`BUILDER_CONF`).
- On a fresh JVM, one background JVM thread initializes the SQL layer's
  classes (:data:`PRELOAD_CLASSES`) and then compiles one tiny class
  with Janino, the compiler Spark's code generator uses, while the
  SparkContext starts on the caller's. Janino's first compile in a JVM
  costs 0.16-0.26 s; a second compile of that class body costs 6-7 ms.
  The thread runs no Spark job.

None of these changes a session's SQL confs, plans or results.

One runtime conf is pinned for start-up's sake, not the oracle's:
``spark.sql.icu.caseMappings.enabled=false`` (see :data:`RUNTIME_CONF`).
Spark 4 case-maps UTF8_BINARY strings with ICU by default, and the
first LOWER, UPPER or INITCAP in a JVM then initializes
``CollationAwareUTF8String``, whose static initializer builds a
title-case table for every Unicode code point (1.3-1.9 s of one
thread's CPU and about 150 MB of heap, on a 4-core host) that no query
reads. With the conf off, generated code calls
``CollationSupport.Lower/Upper.execBinary`` (the JVM's
``String.toLowerCase/toUpperCase``, Spark 3.5's path) instead of
``execBinaryICU``, and the table is never built. ``lower`` and
``upper`` return the same strings either way on the non-ASCII sample
``tests/test_session.py`` pins; ``initcap`` differs on some non-ASCII
strings, because the JVM applies simple title-case mappings and ICU
full ones: ``initcap`` of U+FB01 (the ``fi`` ligature) then ``le``
keeps the ligature, where ICU gives ``File``. Under a tr, az or lt JVM
default locale, the JVM case-maps non-ASCII strings by that locale's
rules. Every fixture table is ASCII.
"""

from __future__ import annotations

import importlib
import os
import threading
import warnings

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import cds

#: Confs that are runtime-settable on any session and required for
#: correctness against the DuckDB oracle, plus the ICU case-mapping
#: switch, which saves the first case-mapping query's start-up.
RUNTIME_CONF: dict[str, str] = {
    # DuckDB timestamps are timezone-naive; pin UTC so TimestampType
    # round-trips match (see pyspark guide "Pitfalls").
    "spark.sql.session.timeZone": "UTC",
    # A user's INT64 TIMESTAMP(NANOS) column, which vanilla Spark
    # refuses, reads as long; the catalog loader converts events.ts.
    # The fixtures store micros (TIMESTAMP_NTZ) and never need it.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB identifiers are case-insensitive; Spark's default matches,
    # pin it anyway (SURVEY.md §7.3.3).
    "spark.sql.caseSensitive": "false",
    # ANSI off: reference SQL (LLM-generated) expects permissive
    # DuckDB-style coercions; Spark 4 defaults ANSI on.
    "spark.sql.ansi.enabled": "false",
    # Arrow for toPandas (the display sink) and pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast threshold: 64 MB instead of the 10 MB default. The r5
    # ratio-curve x8 point showed the honest medium-data gap — once a
    # dimension (customer at sf0.8, ~tens of MB) outgrows 10 MB, the
    # TPC-H shapes pay two-sided shuffle joins that DuckDB's in-memory
    # hash joins beat 7x. With executor memory measured in tens of GiB
    # (128 GiB here; comparable per-executor on the target cluster),
    # 64 MB broadcasts are cheap and standard practice; scaling tables
    # beyond it (orders, lineitem) still shuffle-join, so the knob
    # extends the broadcast regime without capping any plan at a
    # broadcastable size. AQE's runtime variant is aligned so
    # post-shuffle stats conversions use the same bound.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # preferSortMergeJoin stays at the DEFAULT (true). A same-session
    # alternating A/B (min-of-3 per mode, sf0.1 and the x8 corpus)
    # showed shuffled-hash is NOT a global win here — SMJ edged it on
    # most join shapes (sf0.1 totals 4.28 vs 4.58 s) and only x22
    # favored SHJ; an earlier apparent 14-42% SHJ win was a
    # page-cache/warmup artifact (BENCHLOG r6). SMJ also remains the
    # spill-safe default for genuinely huge joins at 100 TB.

    # Case-map UTF8_BINARY strings with the JVM (Spark 3.5's path), not
    # ICU, whose first use in a JVM builds a title-case table of all
    # 1,114,112 code points (CollationAwareUTF8String's static
    # initializer, one word BreakIterator per code point): 1.3-1.9 s of
    # CPU and ~150 MB of heap in the first lower/upper/initcap, for a
    # table no query reads. lower/upper agree on the non-ASCII sample
    # tests/test_session.py pins; initcap differs there (simple vs full
    # title-case mappings), and a tr/az/lt JVM default locale case-maps
    # non-ASCII strings by that locale (see the module docstring).
    "spark.sql.icu.caseMappings.enabled": "false",
}


def default_driver_memory() -> str:
    """Half the memory this process may use, capped at 16g: the host's
    MemTotal, or its cgroup's memory limit when that is lower. A heap
    larger than the host turns one memory-hungry run into an OOM-killed
    JVM, and every later Py4J call of the run into an unrelated failure.
    16g where none of them can be read."""
    limits = []
    for path, prefix in (("/proc/meminfo", "MemTotal:"),
                         ("/sys/fs/cgroup/memory.max", ""),  # cgroup v2
                         ("/sys/fs/cgroup/memory/memory.limit_in_bytes", "")):  # v1
        try:
            with open(path) as f:
                words = next(ln for ln in f if ln.startswith(prefix)).split()
        except (OSError, StopIteration):
            continue
        if prefix:  # "MemTotal: N kB"
            limits.append(int(words[1]) << 10)
        elif words[0].isdigit():  # "max" is no limit
            limits.append(int(words[0]))
    if not limits:
        return "16g"
    return f"{min(min(limits) // 2, 16 << 30) >> 20}m"


#: Build-time confs (need a fresh session).
BUILDER_CONF: dict[str, str] = {
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
    # Arrow batch size for pandas UDF stages: large enough to amortize
    # transfer, small enough to bound per-batch memory at scale.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Skip the SparkSessionExtensionsProvider scan of the classpath. The
    # one provider in Spark's jars is MLlib's, which registers three
    # internal Spark Connect ML functions (vector_to_array,
    # array_to_vector, aggregate_metrics) that nothing here calls and
    # the reference's DuckDB SQL cannot name. It adds no analyzer or
    # optimizer rule, so no plan changes; loading it (and the Scala
    # reflection it pulls in) cost ~2 s of every session start on a
    # 4-core host.
    "spark.sql.extensions.test.loadFromCp": "false",
}

#: Classes the first session, the first view read and the first Arrow
#: frame initialize, in that order. :func:`get_spark` initializes them
#: on one background JVM thread while the SparkContext starts; one
#: thread beat one thread per class, which contend with each other.
PRELOAD_CLASSES: tuple[str, ...] = (
    "org.apache.spark.sql.catalyst.analysis.FunctionRegistry$",
    "org.apache.spark.sql.catalyst.parser.SqlBaseLexer",
    "org.apache.spark.sql.catalyst.parser.SqlBaseParser",
    "org.apache.spark.sql.catalyst.analysis.Analyzer",
    "org.apache.spark.sql.execution.SparkOptimizer",
    "org.apache.spark.sql.internal.BaseSessionStateBuilder",
    "org.apache.spark.sql.execution.datasources.DataSource$",
    "org.apache.spark.sql.execution.datasources.FileSourceStrategy$",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat",
    "org.apache.spark.sql.util.ArrowUtils$",
    "org.apache.arrow.memory.RootAllocator",
    "org.apache.spark.sql.execution.arrow.ArrowConverters$",
)


#: The class body :func:`_preload_classes` compiles to warm Janino.
JANINO_WARMUP = "public static int one() { return 1; }"

#: The module PySpark's ``NumpyArrayConverter.can_convert`` imports on
#: the first converted Py4J call (a ``SparkConf`` setting in
#: ``getOrCreate``); it imports pandas.
PANDAS_IMPORT = "pyspark.testing.utils"


def _preload_classes(jvm) -> None:
    """Initialize :data:`PRELOAD_CLASSES` on ``jvm``, then compile
    :data:`JANINO_WARMUP` with Janino's ``ClassBodyEvaluator``. Only
    class initialization and one compile: no SparkContext or session
    call, no Spark job, no Python lock. A name that does not resolve is
    skipped and a failed compile is ignored (each loses only its
    overlap)."""
    for name in PRELOAD_CLASSES:
        try:
            jvm.java.lang.Class.forName(name)
        except Py4JError:
            pass
    try:
        jvm.org.codehaus.janino.ClassBodyEvaluator().cook(JANINO_WARMUP)
    except Exception:  # a missing Janino, a JVM going down: no overlap
        pass


def _import_pandas() -> None:
    """Import :data:`PANDAS_IMPORT`, on a thread while the JVM launches.
    A failure is left to the caller's own import of it."""
    try:
        importlib.import_module(PANDAS_IMPORT)
    except Exception:
        pass


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on an existing session (idempotent).

    Pinned once per session object: the loop is ~9 Py4J round-trips and
    load_table calls this on EVERY table load — ~25 ms per query of
    pure driver latency at bench scale. Nothing in the repo unpins a
    conf mid-session, so a session-scoped flag is safe; callers that
    deliberately change confs (tests) construct fresh sessions. A conf
    the session refuses is left as it is, with a ``RuntimeWarning`` that
    names the conf, the value and the error.
    """
    if spark.__dict__.get("_adbs_conf_pinned"):
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception as e:
            # Non-settable on this session/version: leave as-is, but say
            # so — an unpinned conf can split results from the oracle.
            warnings.warn(
                f"apply_runtime_conf: could not pin {k}={v}: "
                f"{type(e).__name__}: {e}",
                RuntimeWarning,
                stacklevel=2,
            )
    spark.__dict__["_adbs_conf_pinned"] = True
    return spark


def session_conf(
    app_name: str = "ask_duckdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf :func:`get_spark` launches and builds its session with."""
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    conf: dict[str, str] = {"spark.master": master, "spark.app.name": app_name}
    conf.update(BUILDER_CONF)
    conf.update(RUNTIME_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    app_name: str = "ask_duckdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a tuned SparkSession for local analytics.

    Sizing rationale for scale: ``spark.sql.shuffle.partitions`` is set
    to the core count locally; on a real cluster it should be ~2-3x the
    total executor cores (or left to AQE's coalescing with a high
    initial value). Everything else is runtime conf shared with
    :func:`apply_runtime_conf`.

    When no JVM is running yet, this launches it first through
    :func:`cds.launch`, with the same conf ``getOrCreate`` gets (so
    ``-Xmx`` and extraJavaOptions reach it). PySpark's pandas import runs
    during that launch, and the class preload and Janino warm-up before
    the SparkContext; nothing joins those daemon threads.
    """
    conf = session_conf(app_name, master, shuffle_partitions, extra_conf)
    if SparkContext._gateway is None:
        threading.Thread(target=_import_pandas, name="pyspark-pandas-import",
                         daemon=True).start()
        cds.launch(conf)
        threading.Thread(target=_preload_classes, args=(SparkContext._jvm,),
                         name="spark-class-preload", daemon=True).start()
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may have returned a pre-existing session: re-pin.
    apply_runtime_conf(spark)
    return spark
