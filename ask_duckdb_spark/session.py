"""SparkSession factory and runtime configuration pinning.

The reference opens DuckDB read-only and delegates all execution to it
(reference: query_llm.py:441-446). Our analogue is a tuned SparkSession;
Catalyst plays DuckDB's role. Two entry paths:

- :func:`get_spark` builds a new tuned local session (tests, CLI, bench).
- :func:`apply_runtime_conf` pins the runtime-settable confs on an
  *existing* session (the driver harness owns its own session); it is
  idempotent and safe to call per-query.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

#: Confs that are runtime-settable on any session and required for
#: correctness against the DuckDB oracle.
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
}

#: Build-time confs (need a fresh session).
BUILDER_CONF: dict[str, str] = {
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # Arrow batch size for pandas UDF stages: large enough to amortize
    # transfer, small enough to bound per-batch memory at scale.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


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
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    conf: dict[str, str] = {}
    conf.update(BUILDER_CONF)
    conf.update(RUNTIME_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may have returned a pre-existing session: re-pin.
    apply_runtime_conf(spark)
    return spark
