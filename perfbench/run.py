"""Benchmark runner for ask_duckdb_spark.

    python3 perfbench/run.py --workload ask_session --seed 1 --seconds 40 --trace 0

Runs one workload in this fresh process (one closed-loop client, no
think time, Spark ``local[nproc]``) and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer
ones (timing wrappers installed). The full record (host stamp, every op
with its error class, spans) goes to ``.bench_results/``.

Each workload runs in three phases: ``prepare`` (inputs that must exist
before the clock starts), ``run`` (the measured phase: wall, CPU and
peak memory are read around it and nothing else) and ``verify`` (the
DuckDB oracle checks, which mark wrong answers as failed ops). Between
ops, a fixed reference job reads the host's speed (see ``hostspeed``);
the end-to-end times are divided by it.
"""

from __future__ import annotations

import argparse
import glob
import io
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import workloads  # noqa: E402
from hostspeed import HostSpeed  # noqa: E402
from spans import Tracer  # noqa: E402

#: The project's fixture tables (seed 42), one directory per scale.
DATA = os.path.join(HERE, "data")
RESULTS = os.path.join(ROOT, ".bench_results")
DRIVER_MEM = "1g"
ASK_SF, INGEST_SF = 0.01, 0.1
#: Micro-batches per ingest round: the x116 source orders in six key
#: ranges of about 13k rows each.
INGEST_BATCHES = 6
#: The registry operator run once per ingest round: the one-shot batch
#: MERGE whose streamed form the round applies batch by batch.
BATCH_MEMBER = "x116_merge_upsert"
MAX_ROWS = 1000
#: Reference jobs (see hostspeed) before each ingest op; the ask session
#: runs one before every second question.
INGEST_SAMPLES = 2
#: Run seconds that buy one warm pass. ``--seconds`` sets how many warm
#: passes a run does after its one cold pass, rather than a deadline:
#: the JIT warms per op executed, so runs that do the same ops compare,
#: where a deadline would give a slow run fewer and colder ops. At
#: ``--seconds 40`` the ask session sends 66 questions (cold block plus
#: 3 warm blocks, about 30 s on a 4-core host) and the ingest does 4
#: rounds (about 40 s), so that the benchmark's runs fit its time budget
#: with room for a slow host.
PASS_S = {"ask_session": 13.0, "cdc_ingest": 13.0}


def n_passes(seconds: float, pass_s: float) -> int:
    """One cold pass, then ``seconds / pass_s`` warm ones (at least one)."""
    return 1 + max(1, round(seconds / pass_s))


class Op:
    """Outcome of one client op."""

    def __init__(self, op_id: str, kind: str, known_bad: bool = False):
        self.id, self.kind, self.known_bad = op_id, kind, known_bad
        self.seconds = 0.0
        self.error = ""  # exception class, or WrongResult
        self.rows = 0
        self.cold = False  # in the first pass

    def as_dict(self):
        return {"id": self.id, "kind": self.kind, "s": round(self.seconds, 6),
                "error": self.error, "known_bad": self.known_bad, "rows": self.rows,
                "cold": self.cold}


def p90(vals: list[float]) -> float:
    """The 90th percentile, interpolated between the two nearest samples."""
    if len(vals) < 2:
        return vals[0]
    return statistics.quantiles(vals, n=10, method="inclusive")[-1]


# -- workloads --------------------------------------------------------------


class AskSession:
    """One live session answering the seeded question stream."""

    views_sf = ASK_SF

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[Op] = []
        self.passes: list[float] = []
        self.cold_refs = 0  # reference jobs run during the first pass
        self.answers: list = []  # (op, question, rows shown)

    def prepare(self) -> None:
        from ask_duckdb_spark import introspect
        from ask_duckdb_spark.nl import ask as nl_ask
        from ask_duckdb_spark.nl import dialect_shim
        from ask_duckdb_spark.nl import repair as nl_repair
        from ask_duckdb_spark.nl.dictionary import build_synonym_map
        from ask_duckdb_spark.nl.llm import StubLLM
        from ask_duckdb_spark.sources import display

        self.introspect, self.nl_ask, self.nl_repair = introspect, nl_ask, nl_repair
        self.display, self.StubLLM = display, StubLLM
        self.synonyms = build_synonym_map(self.ctx.meta)
        self.blocks = workloads.ask_blocks(
            self.ctx.seed, n_passes(self.ctx.seconds, PASS_S["ask_session"]))
        tr, spark = self.ctx.tracer, self.ctx.spark
        for owner, attr, name in (
            (nl_ask, "select_relevant_context", "nl.context"),
            (nl_ask, "render_context", "nl.context"),
            (nl_ask, "build_prompts", "nl.context"),
            (nl_ask, "repair_sql", "nl.repair_sql"),
            (nl_ask, "ensure_readonly", "nl.ensure_readonly"),
            (nl_ask, "build_tbl_schema", "introspect.build_tbl_schema"),
            (nl_repair, "repair_sql", "nl.repair_sql"),
            (nl_repair, "ensure_readonly", "nl.ensure_readonly"),
            (dialect_shim, "to_spark_sql", "nl.to_spark_sql"),
            (introspect, "table_exists", "introspect.table_exists"),
            (display, "result_preview", "display.result_preview"),
            (spark, "sql", "spark.analyze"),
        ):
            tr.wrap(owner, attr, name)
        # The answer rows are kept for the oracle check: display_result
        # prints only text, so capture what its preview step returned.
        self.preview = preview = display.result_preview
        self.shown: list = []

        def capture(df, max_rows=MAX_ROWS, count=True):
            total, pdf = preview(df, max_rows=max_rows, count=count)
            self.shown.append((total, pdf))
            return total, pdf

        display.result_preview = capture

    def run(self) -> None:
        spark, tr, meta = self.ctx.spark, self.ctx.tracer, self.ctx.meta
        introspect, display = self.introspect, self.display
        out = io.StringIO()
        for block in self.blocks:
            t_block, cal0 = time.perf_counter(), self.ctx.hs.spent_s
            for q in block:
                op = Op(f"q{len(self.ops)}", q.template, q.known_bad)
                op.cold = not self.passes
                if len(self.ops) % 2 == 0:
                    self.ctx.hs.sample()
                self.ops.append(op)
                self.shown.clear()
                df = None
                with tr.op(spark, op.id):
                    t0 = time.perf_counter()
                    try:
                        if not introspect.table_exists(spark, q.table):
                            raise LookupError(q.table)
                        q_meta = meta if q.table == "queuedata" else None
                        if q.kind == "nl":
                            llm = tr.traced(self.StubLLM(default=q.completion), "nl.llm")
                            res = self.nl_ask.answer_question(
                                spark, q.table, q.text, llm, meta=q_meta)
                            df = res.df
                            tr.record("nl.repair_changed", res.sql != q.completion.strip())
                        else:
                            cols = set(introspect.list_columns(spark.table(q.table)))
                            df, _, repaired = self.nl_repair.execute_with_repair(
                                spark, q.text, cols, meta=q_meta,
                                synonym_map=self.synonyms if q_meta else None)
                            tr.record("nl.repair_changed", repaired)
                            tr.record("nl.retry", repaired)
                        display.display_result(df, max_rows=MAX_ROWS, file=out)
                    except Exception as e:  # the op fails; the session goes on
                        op.error = type(e).__name__
                    op.seconds = time.perf_counter() - t0
                tr.harvest(spark, op.id, df)
                if not op.error:
                    total, pdf = self.shown[-1]
                    op.rows = len(pdf)
                    tr.record("display.rows_shown", len(pdf))
                    tr.record("display.extra_count_jobs", int(total > len(pdf)))
                    self.answers.append((op, q, pdf))
            self.passes.append(time.perf_counter() - t_block - (self.ctx.hs.spent_s - cal0))
            self.cold_refs = self.cold_refs or len(self.ctx.hs.walls)
        display.result_preview = self.preview
        tr.restore()

    def verify(self) -> None:
        oracle = self.ctx.oracle(ASK_SF, {"queuedata": self.ctx.queuedata_pdf})
        for op, q, pdf in self.answers:
            if check.digest(check.pandas_rows(pdf)) != oracle.digest(q.oracle):
                op.error = "WrongResult"
        self.ctx.duckdb_s = oracle.seconds
        oracle.close()


class CdcIngest:
    """Rounds of bootstrap + upsert micro-batches, plus the batch merge."""

    views_sf = INGEST_SF

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[Op] = []
        self.passes: list[float] = []
        self.cold_refs = 0  # reference jobs run during the first pass
        self.merges: list[Op] = []  # the batch operator, once per round
        self.target = None

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from ask_duckdb_spark.operators import QUERIES
        from ask_duckdb_spark.sources.catalog import load_table
        from ask_duckdb_spark.streaming import upsert

        self.upsert, self.build = upsert, QUERIES[BATCH_MEMBER]
        spark, tr = self.ctx.spark, self.ctx.tracer
        self.sf_dir = self.ctx.data(INGEST_SF)
        for attr in ("bootstrap", "upsert_apply", "current_state"):
            tr.wrap(upsert, attr, f"upsert.{attr}")
        # The x116 source orders, split by a seeded key cut, arrive as
        # parquet batch files before the clock starts.
        src = load_table(spark, self.sf_dir, "orders").filter(
            F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        lo, hi = src.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
        cuts = workloads.ingest_cuts(self.ctx.seed, lo, hi, INGEST_BATCHES)
        batch = sum((F.col("o_orderkey") > c).cast("int") for c in cuts)
        root = os.path.join(self.ctx.work, "ingest", "src")
        src.withColumn("b", batch).coalesce(1).write.partitionBy("b").parquet(root)
        self.batch_dirs = [os.path.join(root, f"b={i}") for i in range(INGEST_BATCHES)]
        self.batch_rows = [_parquet_rows(d) for d in self.batch_dirs]
        self.src_bytes = sum(_dir_bytes(d)[0] for d in self.batch_dirs)
        self.customer = load_table(spark, self.sf_dir, "customer")

    def run(self) -> None:
        spark, tr, upsert = self.ctx.spark, self.ctx.tracer, self.upsert
        written_mb, files = [], []
        for _ in range(n_passes(self.ctx.seconds, PASS_S["cdc_ingest"])):
            if self.target:
                shutil.rmtree(self.target)
            r = len(self.passes)
            self.target = os.path.join(self.ctx.work, "ingest", f"round{r}")
            t_round, cal0 = time.perf_counter(), self.ctx.hs.spent_s
            t0 = time.perf_counter()
            upsert.bootstrap(self.customer, self.target)
            tr.record("upsert.bootstrap_s", time.perf_counter() - t0)
            for i, d in enumerate(self.batch_dirs):
                op = Op(f"r{r}b{i}", "upsert_apply")
                op.cold = not self.passes
                self.ctx.hs.sample(INGEST_SAMPLES)
                self.ops.append(op)
                with tr.op(spark, op.id):
                    t0 = time.perf_counter()
                    try:
                        upsert.upsert_apply(spark, spark.read.parquet(d), self.target, i)
                        op.rows = self.batch_rows[i]
                    except Exception as e:  # the op fails; the round goes on
                        op.error = type(e).__name__
                    op.seconds = time.perf_counter() - t0
                tr.harvest(spark, op.id)
                tr.record("upsert.apply_s", op.seconds)
            # the same merge as one batch operator, built and counted; it
            # is part of the round but not an ingest op
            bop = Op(f"r{r}{BATCH_MEMBER}", BATCH_MEMBER)
            self.merges.append(bop)
            self.ctx.hs.sample(INGEST_SAMPLES)
            merged = None
            with tr.op(spark, bop.id):
                t0 = time.perf_counter()
                try:
                    with tr.span("operators.build"):
                        merged = self.build(spark, self.sf_dir)
                    t1 = time.perf_counter()
                    bop.rows = merged.count()
                    tr.record("operators.build_s", t1 - t0)
                    tr.record(f"operators.{BATCH_MEMBER}.exec_s", time.perf_counter() - t1)
                except Exception as e:  # the op fails; the round goes on
                    bop.error = type(e).__name__
                bop.seconds = time.perf_counter() - t0
            spark.catalog.clearCache()
            self.passes.append(time.perf_counter() - t_round - (self.ctx.hs.spent_s - cal0))
            self.cold_refs = self.cold_refs or len(self.ctx.hs.walls)
            m = tr.harvest(spark, bop.id, merged)
            tr.record(f"operators.{BATCH_MEMBER}.jobs", m.get("jobs", 0))
            if tr.enabled:
                nbytes, nfiles = _dir_bytes(self.target)
                written_mb.append(nbytes / 2**20)
                files.append(nfiles)
                tr.record("upsert.write_amplification", nbytes / self.src_bytes)
        tr.record("upsert.bytes_written_mb", statistics.median(written_mb or [0]))
        tr.record("upsert.files_written", statistics.median(files or [0]))

    def verify(self) -> None:
        from ask_duckdb_spark.operators import ORACLES

        spark, tr, upsert = self.ctx.spark, self.ctx.tracer, self.upsert
        t0 = time.perf_counter()
        state = upsert.current_state(spark, self.target)
        tr.record("upsert.current_state_s", time.perf_counter() - t0)
        tr.restore()
        got = check.pandas_rows(upsert.final_view(state).toPandas())
        oracle = self.ctx.oracle(INGEST_SF)
        want_rows, want_hash = oracle.digest(ORACLES[BATCH_MEMBER])
        if check.digest(got) != (want_rows, want_hash):
            self.ops[-1].error = "WrongResult"  # the final state is the last batch's output
        for bop in self.merges:
            if not bop.error and bop.rows != want_rows:
                bop.error = "WrongResult"
        self.ctx.duckdb_s = oracle.seconds
        oracle.close()


def _parquet_rows(path: str) -> int:
    """Rows in the parquet files under ``path``, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    nbytes = nfiles = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            nbytes += os.path.getsize(os.path.join(dirpath, n))
            nfiles += n.endswith(".parquet")
    return nbytes, nfiles


WORKLOADS = {"ask_session": AskSession, "cdc_ingest": CdcIngest}


# -- run context ------------------------------------------------------------


class Context:
    def __init__(self, args, work: str):
        self.seed, self.seconds = args.seed, args.seconds
        self.tracer = Tracer(bool(args.trace))
        self.hs = None  # HostSpeed, once the JVM is up
        self.work = work
        self.spark = None
        self.meta = None
        self.queuedata_pdf = None
        self.duckdb_s = 0.0

    @staticmethod
    def data(sf: float) -> str:
        return os.path.join(DATA, f"sf{sf}")

    def oracle(self, sf: float, extra=None) -> check.Oracle:
        from ask_duckdb_spark.sources.catalog import TABLES

        return check.Oracle(self.data(sf), TABLES, extra)


def _clear_stale(work_root: str) -> None:
    """Remove work dirs of earlier runs that are no longer alive."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        if not (name.isdigit() and os.path.exists(f"/proc/{name}")):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ask_duckdb_spark")):
        print(f"perfbench: no ask_duckdb_spark package under {ROOT}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".bench_work")
    _clear_stale(work_root)
    work = os.path.join(work_root, str(os.getpid()))
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    ctx = Context(args, work)
    stamp = {"load1_start": os.getloadavg()[0]}
    try:
        return _run(args, ctx, stamp, nproc)
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, ctx, stamp, nproc) -> int:
    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    from ask_duckdb_spark.session import get_spark

    ctx.spark = spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')} -XX:-UsePerfData",
        },
    )
    get_spark_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    from ask_duckdb_spark.sources.catalog import register_views

    register_views(spark, ctx.data(wl.views_sf))
    if args.workload == "ask_session":
        from ask_duckdb_spark.sources.queuedata_fixture import (
            queuedata_df, queuedata_dictionary, queuedata_rows)

        queuedata_df(spark).createOrReplaceTempView("queuedata")
        ctx.meta = queuedata_dictionary()
        import pandas as pd

        ctx.queuedata_pdf = pd.DataFrame(queuedata_rows())
    register_views_s = time.perf_counter() - t0
    setup_s = check.process_age_s()  # set-up runs from process start

    t0 = time.perf_counter()
    ctx.hs = HostSpeed(spark, nproc)
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    pid = os.getpid()
    cpu0 = check.tree_cpu_s(pid)
    t_measure = time.perf_counter()
    wl.run()
    # the reference jobs are the benchmark's work, not the program's
    measured_s = time.perf_counter() - t_measure - ctx.hs.spent_s
    cpu_s = check.tree_cpu_s(pid) - cpu0 - sum(ctx.hs.cpus)
    peak_rss_mb = check.peak_rss_mb(pid)
    t0 = time.perf_counter()
    wl.verify()
    verify_s = time.perf_counter() - t0

    ops: list[Op] = wl.ops  # the latency-bearing ops
    every = ops + getattr(wl, "merges", [])
    bad, failed, fail_ratio = outcome(every)
    slowdown = ctx.hs.slowdown() + ctx.hs.slowdown(0, wl.cold_refs)[:1]
    e2e = end_to_end(setup_s, cpu_s, peak_rss_mb, ops, wl.passes, slowdown)
    overhead, basis = trace_overhead(ctx, args, measured_s)
    metrics = e2e if not args.trace else layer_metrics(
        ctx, ops, get_spark_s, register_views_s, overhead, fail_ratio)
    stamp.update({
        "load1_end": os.getloadavg()[0],
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "seed": args.seed,
        "pyspark": __import__("pyspark").__version__,
        "duckdb": __import__("duckdb").__version__,
        "python": platform.python_version(),
    })
    record = {
        "workload": args.workload, "trace": args.trace, "stamp": stamp,
        "prepare_s": prepare_s, "measured_s": measured_s, "verify_s": verify_s,
        "passes": wl.passes,
        "fail_ratio": fail_ratio,
        "errors": {op.id: op.error for op in bad},
        "ops": [op.as_dict() for op in every],
        "slowdown": dict(zip(("wall", "cpu", "cold_wall"), slowdown)),
        "reference_walls": ctx.hs.walls,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "end_to_end_raw": {k: v for k, (v, _) in end_to_end(
            setup_s, cpu_s, peak_rss_mb, ops, wl.passes).items()},
    }
    if args.trace:
        record["trace_overhead_basis"] = basis
    _write_record(args, ctx, record)
    result = {
        "correct": not failed,
        "attempted": len(every),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


#: Per-layer metrics read from spans: the median self time of each op
#: that passed through the span.
SPAN_METRICS = {
    "nl.context_ms": ("nl.context", "ms"),
    "nl.llm_ms": ("nl.llm", "ms"),
    "nl.repair_sql_ms": ("nl.repair_sql", "ms"),
    "nl.to_spark_sql_ms": ("nl.to_spark_sql", "ms"),
    "nl.ensure_readonly_ms": ("nl.ensure_readonly", "ms"),
    "introspect.build_tbl_schema_ms": ("introspect.build_tbl_schema", "ms"),
    "introspect.table_exists_ms": ("introspect.table_exists", "ms"),
    "spark.analyze_ms": ("spark.analyze", "ms"),
    "display.result_preview_s": ("display.result_preview", "s"),
}


def outcome(every: list[Op]) -> tuple[list[Op], list[Op], float]:
    """(ops failed or wrong, those not known to fail, fail ratio).

    ``failed`` and ``correct`` in the result line count only ops the
    program is not known to get wrong; ``fail_ratio`` counts them all.
    """
    bad = [op for op in every if op.error]
    return bad, [op for op in bad if not op.known_bad], len(bad) / len(every)


def end_to_end(setup_s, cpu_s, peak_rss_mb, ops: list[Op], passes: list[float],
               slowdown: tuple[float, float, float] = (1.0, 1.0, 1.0)) -> dict:
    """The end-to-end metrics, as name -> (value, unit).

    Latencies count successful ops only. The first pass is cold: every
    op in it is the first of its kind in the process, so it is reported
    apart, as its median, and the percentiles cover the later passes.
    Times are divided by the run's host slowdown (wall, cpu, and wall
    during the first pass), so that they read as seconds on the
    reference host. The first pass has its own: the JIT compiles in the
    background then, and slows the reference job as it slows the ops.
    """
    wall, cpu, cold_wall = slowdown
    cold = [op.seconds for op in ops if op.cold and not op.error] or [0.0]
    warm = [op.seconds for op in ops if not op.cold and not op.error] or [0.0]
    rows = sum(op.rows for op in ops if not op.error)
    return {
        "setup_s": (setup_s / wall, "s"),
        "cpu_s": (cpu_s / cpu, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "first_answer_s": (statistics.median(cold) / cold_wall, "s"),
        "answer_p50_s": (statistics.median(warm) / wall, "s"),
        "answer_p90_s": (p90(warm) / wall, "s"),
        "batch_pass_s": (statistics.median(passes) / wall, "s"),
        "rows_per_s": (rows / sum(op.seconds for op in ops) * wall, "1/s"),
    }


def trace_overhead(ctx, args, measured_s: float, results: str = RESULTS) -> tuple[float, str]:
    """(traced over untraced measured-phase wall, minus 1; its basis).

    The untraced wall is read from the records untraced runs of the
    workload left in ``.bench_results/``: the same seed's if there is
    one, else their median. With no untraced record, the figure is the
    share of the measured phase the tracer spent on its own Spark calls
    (job groups, status-store roll-ups), a lower bound.
    """
    if not args.trace:
        return 0.0, ""
    base = os.path.join(results, f"{args.workload}-seed")
    same = f"{base}{args.seed}-trace0.json"
    paths = [same] if os.path.exists(same) else glob.glob(f"{base}*-trace0.json")
    walls = []
    for path in paths:
        with open(path) as f:
            walls.append(json.load(f)["measured_s"])
    if not walls:
        return ctx.tracer.overhead_s / measured_s, "tracer_calls"
    basis = "same_seed" if paths == [same] else f"median_of_{len(walls)}"
    return measured_s / statistics.median(walls) - 1, basis


def layer_metrics(ctx, ops, get_spark_s, register_views_s, overhead, fail_ratio) -> dict:
    """The per-layer metrics, as name -> (value, unit); 0 where the
    workload does not pass through the layer."""
    tr = ctx.tracer
    ids = [op.id for op in ops]

    def med(name):
        return statistics.median(tr.values.get(name) or [0.0])

    def mean(name):
        return statistics.mean(tr.values.get(name) or [0.0])

    def total(name):
        return sum(tr.values.get(name, ()))

    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "catalog.register_views_s": (register_views_s, "s"),
    }
    for key, (span, unit) in SPAN_METRICS.items():
        m[key] = (tr.per_op(span, ids) * (1e3 if unit == "ms" else 1.0), unit)
    m["nl.repair_changed_ratio"] = (mean("nl.repair_changed"), "ratio")
    m["nl.retry_count"] = (total("nl.retry"), "count")
    m["spark.optimize_ms"] = (med("spark.phase_optimization_ms"), "ms")
    m["spark.planning_ms"] = (med("spark.phase_planning_ms"), "ms")
    m["spark.jobs"] = (mean("spark.jobs"), "count")
    m["spark.tasks"] = (mean("spark.tasks"), "count")
    for k in ("executor_run_s", "executor_cpu_s", "gc_s"):
        m[f"spark.{k}"] = (total(f"spark.{k}"), "s")
    for k in ("shuffle_write_mb", "spill_mb"):
        m[f"spark.{k}"] = (total(f"spark.{k}"), "MB")
    m["display.rows_shown"] = (mean("display.rows_shown"), "count")
    m["display.extra_count_jobs"] = (total("display.extra_count_jobs"), "count")
    m["operators.build_s"] = (med("operators.build_s"), "s")
    m[f"operators.{BATCH_MEMBER}.exec_s"] = (med(f"operators.{BATCH_MEMBER}.exec_s"), "s")
    m[f"operators.{BATCH_MEMBER}.jobs"] = (med(f"operators.{BATCH_MEMBER}.jobs"), "count")
    m["upsert.bootstrap_s"] = (med("upsert.bootstrap_s"), "s")
    m["upsert.apply_s"] = (med("upsert.apply_s"), "s")
    m["upsert.current_state_s"] = (total("upsert.current_state_s"), "s")
    m["upsert.bytes_written_mb"] = (total("upsert.bytes_written_mb"), "MB")
    m["upsert.files_written"] = (total("upsert.files_written"), "count")
    m["upsert.write_amplification"] = (med("upsert.write_amplification"), "ratio")
    m["oracle.duckdb_pass_s"] = (ctx.duckdb_s, "s")
    wall, cpu = ctx.hs.slowdown()
    m["hostspeed.wall_slowdown"] = (wall, "ratio")
    m["hostspeed.cpu_slowdown"] = (cpu, "ratio")
    m["trace_overhead"] = (overhead, "ratio")
    m["fail_ratio"] = (fail_ratio, "ratio")
    return m


def _write_record(args, ctx, record) -> None:
    os.makedirs(RESULTS, exist_ok=True)
    base = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if ctx.tracer.enabled:
        ctx.tracer.write(base + ".spans.jsonl")


if __name__ == "__main__":
    sys.exit(main())
