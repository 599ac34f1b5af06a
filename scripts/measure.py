"""Per-operator measurement of registry entries, and the scale corpus.

    SPARK_GRAFT_SF_DIR=<fixture dir> python scripts/measure.py sweep [names...]
    SPARK_GRAFT_SF_DIR=<fixture dir> python scripts/measure.py profile TAG [names...]
    SPARK_GRAFT_SF_DIR=<fixture dir> python scripts/measure.py corpus FACTOR DIR

``sweep`` defaults to the whole registry; ``profile`` defaults to
bench.py's two headline sets and also writes each entry's formatted plan
to ``plans/TAG/<name>.txt``. ``corpus`` writes FACTOR shard replicas of
the fixture dir to DIR (:func:`build_corpus`); timing at that scale is
``sweep`` over DIR per entry, and ``SPARK_GRAFT_SF_DIR=DIR python
bench.py`` for the Spark/DuckDB ratio.

Each rep follows the protocol of a one-shot client: build the frame
fresh (timed apart, as ``build``: Python/Py4J plan construction), time
one ``count()``, then release the frame and ``clearCache()`` outside the
timer. Re-running one prepared plan after ``clearCache()`` is not
equivalent for operators that persist(): the released plan recomputes
every cached fan-out and re-plans its joins without cached-relation
stats (OPTIMIZATION_r14.md, item 6). The count runs under a job group,
and the group's status-store stage metrics plus the frame's Catalyst
phases are rolled up by the benchmark's tracer (``perfbench/spans.py``).
One reference job of ``perfbench/hostspeed.py`` runs before every rep,
so each record carries the host's slowdown against the reference host
and records taken on a busy host can be told apart.

Output, on stdout: one JSON line per name — ``wall`` (min), ``walls``,
``build`` (min), ``layers`` (median per rep) and ``slowdown`` — or
``{"name", "error": "Class: message"}`` for an entry that failed (the
sweep goes on), then one ``stamp`` line (load, session geometry,
per-query floor). An A/B is ``measure.py sweep NAME`` run alternately
from the two checkouts.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from pyspark.sql import functions as F  # noqa: E402

from ask_duckdb_spark.operators import QUERIES  # noqa: E402
from ask_duckdb_spark.operators.stats_audit import PHRASE  # noqa: E402
from ask_duckdb_spark.operators.textstats import BM25_TERMS  # noqa: E402
from ask_duckdb_spark.plans.checks import formatted_plan  # noqa: E402
from ask_duckdb_spark.sources.catalog import TABLES, load_table  # noqa: E402
from bench import HEADLINE, HEADLINE_V2, floor_probe, warm_up  # noqa: E402
from hostspeed import HostSpeed  # noqa: E402
from spans import Tracer  # noqa: E402

REPS = 3

#: Per-replica key stride, above every fixture key: replica r adds
#: r * KEY_STRIDE to the key columns below, so the corpus is FACTOR
#: independent shards and every join keeps its base fan-out.
KEY_STRIDE = 100_000_000
OFFSETS: dict[str, tuple[str, ...]] = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_suppkey", "l_partkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
#: Dimension tables, copied unchanged.
CONSTANT = ("nation", "region")


def measure(spark, sf_dir: str, names, reps: int = REPS, host=None,
            plans_dir: str | None = None):
    """Yield one record per name (see the module docstring).

    ``host`` is an optional :class:`HostSpeed`, sampled before each rep;
    with ``plans_dir`` the first rep's formatted plan is written there.
    """
    tracer = Tracer(True)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    for name in names:
        walls, builds, layers = [], [], []
        first_sample = len(host.walls) if host else 0
        try:
            for rep in range(reps):
                if host:
                    host.sample()
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                builds.append(time.perf_counter() - t0)
                op = f"measure-{uuid.uuid4().hex}"  # a job group of its own
                with tracer.op(spark, op):
                    t0 = time.perf_counter()
                    df.count()
                    walls.append(time.perf_counter() - t0)
                bus.waitUntilEmpty()  # the status store has every task end
                layers.append(tracer.harvest(spark, op, df))
                if plans_dir and rep == 0:
                    with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                        f.write(formatted_plan(df))
                df = None  # fires the frame's unpersist_with finalizers
                spark.catalog.clearCache()
        except Exception as e:  # one entry's failure ends only its record
            traceback.print_exc()
            df = None
            spark.catalog.clearCache()
            yield {"name": name, "error": f"{type(e).__name__}: {e}"}
            continue
        rec = {
            "name": name,
            "wall": round(min(walls), 3),
            "walls": [round(w, 3) for w in walls],
            "build": round(min(builds), 3),
            "layers": {
                k: round(statistics.median(rep.get(k, 0.0) for rep in layers), 3)
                for k in layers[0]
            },
        }
        if host:
            wall_x, cpu_x = host.slowdown(first_sample)
            rec["slowdown"] = {"wall": round(wall_x, 2), "cpu": round(cpu_x, 2)}
        yield rec


def build_corpus(spark, base: str, factor: int, out_dir: str) -> None:
    """Write ``factor`` shard replicas of every table under ``base`` to
    ``out_dir``, each as a parquet directory.

    Besides the key offsets (:data:`OFFSETS`), each replica suffixes
    every word of ``documents.text`` with ``~r``, so replicas of one
    document share no shingle and the true-duplicate rate stays the
    base corpus's; the BM25 query terms and the phrase words are kept
    verbatim, so retrieval entries still match. Each replica also
    jitters every ``embeddings`` dimension by a hashed offset in
    [-0.5, 0.5], so replicas of one vector are not exact duplicates.
    """
    rep = F.col("_rep")
    reps = spark.range(factor).select(F.col("id").alias("_rep"))
    keep = sorted(set(BM25_TERMS) | set(PHRASE))
    rewrite = {
        ("documents", "text"): F.array_join(
            F.transform(
                F.split("text", " "),
                lambda w: F.when(w.isin(*keep), w).otherwise(
                    F.concat(w, F.lit("~"), rep.cast("string"))
                ),
            ),
            " ",
        ),
        ("embeddings", "embedding"): F.zip_with(
            "embedding",
            F.sequence(F.lit(1), F.size("embedding")),
            lambda v, i: (
                v.cast("double")
                + (F.pmod(F.xxhash64(rep, i), F.lit(1001)) - 500) / 1000.0
            ).cast("float"),
        ),
    }
    for t in TABLES:
        src = load_table(spark, base, t)
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t in CONSTANT:
            src.write.mode("overwrite").parquet(dst)
            continue
        cols = [
            (F.col(c) + rep * KEY_STRIDE if c in OFFSETS.get(t, ())
             else rewrite.get((t, c), F.col(c))).alias(c)
            for c in src.columns
        ]
        src.crossJoin(reps).select(*cols).repartition(32).write.mode(
            "overwrite"
        ).parquet(dst)


def main(argv: list[str]) -> int:
    mode, args = (argv[0], argv[1:]) if argv else ("", [])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    valid = {
        "sweep": True,
        "profile": bool(args),
        "corpus": len(args) == 2 and args[0].isdigit() and int(args[0]) > 0,
    }
    if not valid.get(mode):
        print(__doc__, file=sys.stderr)
        return 2
    if not sf_dir:
        print("measure: set SPARK_GRAFT_SF_DIR to a fixture dir", file=sys.stderr)
        return 2
    from ask_duckdb_spark.session import get_spark

    if mode == "corpus":
        t_start = time.perf_counter()
        spark = get_spark("measure-corpus")
        try:
            build_corpus(spark, sf_dir, int(args[0]), args[1])
        finally:
            spark.stop()
        print(json.dumps({
            "corpus": args[1],
            "base": sf_dir,
            "factor": int(args[0]),
            "wall_s": round(time.perf_counter() - t_start, 1),
        }), flush=True)
        return 0
    plans_dir = None
    if mode == "profile":
        tag, args = args[0], args[1:]
        plans_dir = os.path.join(ROOT, "plans", tag)
        os.makedirs(plans_dir, exist_ok=True)
    names = args or (sorted(QUERIES) if mode == "sweep" else HEADLINE + HEADLINE_V2)

    t_start = time.perf_counter()
    load_start = os.getloadavg()[0]
    warehouse = tempfile.mkdtemp(prefix="measure-warehouse-")
    spark = get_spark("measure", extra_conf={"spark.sql.warehouse.dir": warehouse})
    try:
        errors: dict[str, str] = {}
        warm_up(spark, sf_dir, errors)
        host = HostSpeed(spark, spark.sparkContext.defaultParallelism)
        for rec in measure(spark, sf_dir, names, host=host, plans_dir=plans_dir):
            print(json.dumps(rec), flush=True)
        floor = floor_probe(spark, sf_dir, errors)
        print(json.dumps({
            "stamp": True,
            "sf_dir": sf_dir,
            "reps": REPS,
            "load_avg_start": round(load_start, 2),
            "load_avg_end": round(os.getloadavg()[0], 2),
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "per_query_floor_sec": floor,
            "wall_s": round(time.perf_counter() - t_start, 1),
            "errors": errors,
        }), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(warehouse, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
