"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

The headline set spans every operator family — scan+agg (q1), joins
(q3/q5/q10), windows (w1/w2), dedup (x1b/x2/x4), similarity (x5),
text (x8/x9/x12), sessionization (x13/x15), JSON (x18), and the
mapInPandas path (x20) — so a regression anywhere in the engine moves
the headline number. Each query executes via ``df.count()`` (full
pipeline, no driver materialization beyond the count).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ask_duckdb_spark.operators import QUERIES  # noqa: E402
from ask_duckdb_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_orders",
    "w1_row_number_topk_per_group",
    "w2_running_sum",
    "x1b_dedup_hash_key",
    "x2_minhash_neardup",
    "x4_simhash",
    "x5_cosine_topk",
    "x8_token_stats",
    "x9_top_terms",
    "x12_fingerprint",
    "x13_sessionize",
    "x15_tumbling_window",
    "x18_props_schema_on_read",
    "x20_decode_features",
    "x22_tfidf_top_term",
    "x25_batch_ann_topk",
    "x26_salted_user_totals",
]

#: Second, VERSIONED headline set (round 7). The 22-query set above is
#: FROZEN for cross-round comparability (it predates the r5/r6 operator
#: families); this set covers what r6 built — layout/incremental (MERGE
#: upsert, bloom semi-join) and retrieval/stats-audit (phrase match,
#: one-scan correlation matrix) — and is reported under separate JSON
#: keys (``v2_*``) so the frozen set's totals/ratios stay directly
#: comparable to BENCH_r01-r06 while new families still get a measured
#: per-round number.
HEADLINE_V2 = [
    "x116_merge_upsert",
    # r9 (VERDICT r8 item 4): the v2 set times the REGISTERED plan
    # choice at fixture scale — x117b's plain broadcast-semi (the
    # measured local winner; the r8 crossover trial, SCALE.md, put the
    # bloom form's crossover at ~x12-13 local volume) — instead of
    # charging the set ~0.7 s of bloom build with nothing to cut. The
    # bloom twin x117 stays registered as the documented at-scale
    # insurance.
    "x117b_plain_semijoin",
    "x125_phrase_match",
    "x127_corr_matrix",
    # r8 (VERDICT r7 item 4): the heaviest r7 hygiene op — 8-gram
    # eval-set decontamination (two tokenize+hash scans + gram-keyed
    # contamination join) — so the hygiene family gets round-over-round
    # regression coverage like the r6 families above.
    # r10 (VERDICT r9 item 2): time the x133b BROADCAST twin — the
    # x117→x117b discipline applied again. x133b is the plan you run
    # at 100 TB (eval gram set is benchmark-sized → ships once, the
    # corpus gram stream is filtered where it is produced, zero
    # training-gram exchange) and it is registered, driver-green (r08)
    # and row-equality-pytest-pinned against x133. The shuffle-join
    # form x133 stays registered as the oracle-mirroring shape; the
    # DuckDB side of this set is unchanged (same _X133_ORACLE SQL).
    "x133b_eval_decontam_bcast",
    # r11 (VERDICT r10 item 3): the v2 raw ratio at sf0.1 was floor-
    # dominated — four of five members are sub-0.5 s Spark jobs
    # against 11-68 ms oracles, so raw measured the scheduler, not the
    # plans. Add a second VOLUME-BEARING member (hygiene family, like
    # x133b): the eval-leak report's 8-gram containment scan reads
    # 1.66 s Spark vs 1.06 s DuckDB (ratio 1.56) in the r11 scout —
    # real work on both stopwatches. The per-member decomposition now
    # also ships in the JSON (``v2_per_member``) so the driver-visible
    # number is interpretable without BENCHLOG cross-reference.
    "x136_eval_leak_report",
]


def warm_up(spark, sf_dir: str, errors: dict[str, str]) -> None:
    """Bring a fresh session to steady state before anything is timed.

    The headline plans are warmed on the ``sf0.01`` dir beside
    ``sf_dir``; when there is none, or ``sf_dir`` is that dir, they are
    timed half-warm and ``errors["warm_up"]`` says so."""
    # Warm the JVM + parquet footers so per-query timings measure the
    # engine, not session startup.
    QUERIES["g1_count_star"](spark, sf_dir).count()
    # Spin up the Python worker daemon pool once (mapInPandas operators
    # would otherwise pay ~100 ms/worker startup inside their timing).
    import pandas as _pd  # noqa: F401  (workers import pandas on boot)

    def _ident(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(_ident, "id long").count()
    # Warm every headline plan TWICE at sf0.01 (the sibling fixture dir,
    # different files from the measured SF): the first pass populates
    # the Janino class cache (x2's 32-permutation minhash alone costs
    # ~5 s of one-time compilation), the second drives the generated
    # code past the JVM's tiered-JIT thresholds so C2-compiled code is
    # what gets measured. Measured effect at sf0.1 (r5): x2 5.3 s
    # half-warm -> 2.7 s steady, q3 1.37 -> 0.95, x22 1.72 -> 0.86.
    # Timings then measure steady-state execution — the regime a 100 TB
    # run lives in, and what the sec/query comparison is about. (DuckDB
    # needs no analogue: it has no JIT; its first run IS steady-state.)
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(warm_dir) or warm_dir == sf_dir.rstrip("/"):
        errors["warm_up"] = (
            f"no sf0.01 dir beside {sf_dir}, or it is that dir: headline"
            " plans timed without the JIT warm-up"
        )
        return
    for _ in range(2):
        for name in HEADLINE + HEADLINE_V2:
            QUERIES[name](spark, warm_dir).count()
        spark.catalog.clearCache()  # drop sf0.01 persisted frames


def floor_probe(spark, sf_dir: str, errors: dict[str, str]) -> float | None:
    """Spark's fixed per-query floor, min of 5; a failure goes to
    ``errors["per_query_floor"]`` and returns None.

    The probe is the cheapest analytic query expressible (5-row scan ->
    one shuffle -> agg). Everything in it — plan analysis, AQE stage
    rounds, job/task scheduling — is paid by EVERY query regardless of
    data volume, and is the regime-dependent part of the ratio: at
    100 TB a query runs minutes and the floor is noise; at sf0.1 half
    the headline queries are sub-300 ms and the floor is most of their
    wall. Reported so the ratio can be decomposed from the JSON record
    alone (see BENCHLOG.md r5 scale curve).
    """
    try:
        region = os.path.join(sf_dir, "region.parquet")
        walls = []
        for _ in range(5):
            t0 = time.time()
            spark.read.parquet(region).groupBy("r_name").count().count()
            walls.append(time.time() - t0)
        return round(min(walls), 3)
    except Exception as e:
        errors["per_query_floor"] = f"{type(e).__name__}: {e}"
        return None


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # Settle wait (VERDICT r5 item 4): the r5 driver run started at
    # load1 4.23 and read ratio 2.15 where idle-host runs of the same
    # commit read 1.87-1.93 — the per-query floor inflates under
    # contention and it multiplies across 22 queries. If the host is
    # busy when the bench starts, wait (bounded) for the burst to pass
    # before measuring; both engines are timed after the wait, so this
    # is condition hygiene, not thumb-on-scale.
    settle_deadline = time.time() + float(
        os.environ.get("SPARK_GRAFT_BENCH_SETTLE_MAX_S", "90")
    )
    settled_wait = 0.0
    while os.getloadavg()[0] > 2.0 and time.time() < settle_deadline:
        time.sleep(5)
        settled_wait += 5
    load_start = os.getloadavg()[0]
    spark = get_spark("bench")
    # A measurement that fails is recorded here (exception class and
    # message), never silently dropped.
    errors: dict[str, str] = {}
    warm_up(spark, sf_dir, errors)

    # Min-of-reps: host noise is one-sided (a noisy-neighbor burst can
    # only ADD wall time), so min-of-reps is the standard steady-state
    # estimator. Applied symmetrically to the DuckDB side below. r4/r5
    # measured 1.2-2x run-to-run swings on identical commits from load
    # alone (BENCHLOG.md) — this VM has noisy neighbors (r5: load1 ~3
    # with zero local processes running). 5 reps (VERDICT r5 item 4):
    # under contention the min of 3 still sampled a burst; 5 gives two
    # more chances to catch a quiet scheduling window per query.
    REPS = 5
    # Build each headline plan ONCE and re-execute it across reps:
    # constructing the DataFrame tree costs 20-230 ms of driver-side
    # Py4J round-trips per operator (1.5 s total, measured r5) — pure
    # Python-client latency, paid before the engine sees the query.
    # Timing execution of a prepared plan measures the ENGINE, which
    # is what the sec/query comparison is about (DuckDB's equivalent
    # client cost — SQL string parse — is ~0.1 ms and stays inside its
    # timed region). Physical planning/AQE still runs per count().
    plans = {
        name: QUERIES[name](spark, sf_dir) for name in HEADLINE + HEADLINE_V2
    }
    timings: dict[str, float] = {}
    v2_timings: dict[str, float] = {}
    for rep in range(REPS):
        for name in HEADLINE + HEADLINE_V2:
            tgt = timings if name in HEADLINE else v2_timings
            t0 = time.time()
            plans[name].count()
            wall = round(time.time() - t0, 3)
            if rep == 0 or wall < tgt[name]:
                tgt[name] = wall
            # Outside the timing: release frames the operator persist()ed
            # for intra-plan reuse (caches never carry between headline
            # queries — each builds a distinct plan — but they would
            # accumulate memory across the loop).
            spark.catalog.clearCache()
    floor = floor_probe(spark, sf_dir, errors)
    # Echo the EFFECTIVE session geometry (VERDICT r13 item 2 / next-
    # round 2): the driver's low-core control run inferred whether
    # SPARK_GRAFT_CPUS was honored from per-query walls alone and
    # flagged a false-positive "suspect_cpus_ignored". Carry the truth
    # in the record itself: master string, scheduler parallelism, and
    # shuffle partitions as the session actually ran them.
    eff_master = spark.sparkContext.master
    eff_parallelism = spark.sparkContext.defaultParallelism
    eff_shuffle = spark.conf.get("spark.sql.shuffle.partitions", None)
    # Spark's work is done: tear the JVM down so the DuckDB co-timing
    # below runs on a quiet machine (r5 measured the resident idle JVM +
    # 32 python workers inflating DuckDB walls ~2x — that flatters the
    # ratio, the opposite of conservative).
    spark.stop()

    # Co-timed DuckDB oracle baseline: absolute walls drift with host
    # contention/frequency (r04 measured a uniform ~2x environment
    # slowdown on an identical commit — BENCHLOG.md), so the JSON also
    # carries the SAME-PROCESS DuckDB total over the oracle-paired
    # headline queries. The ratio is the environment-independent
    # number; the oracle runs AFTER Spark so it cannot warm Spark's
    # caches. NOTE: DuckDB's default thread count is ALL cores (32
    # here — verified via current_setting('threads'); an earlier
    # comment claimed single-threaded, which was wrong), so this is a
    # fair 32-core vs 32-core comparison of a distributed engine's
    # local mode against a purpose-built single-node engine.
    duck_timings: dict[str, float] = {}
    v2_duck: dict[str, float] = {}
    try:
        from ask_duckdb_spark.operators import ORACLES
        from ask_duckdb_spark.sources.catalog import duckdb_conn

        con = duckdb_conn(sf_dir)
        for rep in range(REPS):
            for name in HEADLINE + HEADLINE_V2:
                if name in ORACLES:
                    tgt = duck_timings if name in HEADLINE else v2_duck
                    t0 = time.time()
                    # count-wrapped, mirroring the Spark side's
                    # df.count(): both engines may then prune unused
                    # output columns and drop the final sort — same
                    # work on both stopwatches
                    con.sql(
                        f"SELECT count(*) FROM ({ORACLES[name]})"
                    ).fetchall()
                    wall = round(time.time() - t0, 3)
                    if rep == 0 or wall < tgt[name]:
                        tgt[name] = wall
    except Exception as e:
        errors["duckdb"] = f"{type(e).__name__}: {e}"
        duck_timings = {}
        v2_duck = {}

    total = round(sum(timings.values()), 3)
    duck_total = round(sum(duck_timings.values()), 3)
    spark_on_oracle = round(
        sum(v for k, v in timings.items() if k in duck_timings), 3
    )
    v2_total = round(sum(v2_timings.values()), 3)
    v2_duck_total = round(sum(v2_duck.values()), 3)
    payload = {
                "metric": "headline_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # Per-query oracle walls so a >2x ratio can be triaged
                # per query from driver artifacts alone (VERDICT r4
                # §missing-2).
                "duckdb_queries": duck_timings,
                "duckdb_oracle_total": duck_total,
                "spark_on_oracle_subset": spark_on_oracle,
                "spark_vs_duckdb_ratio": (
                    round(spark_on_oracle / duck_total, 2)
                    if duck_total > 0
                    else None
                ),
                # Fixed per-query overhead (min-of-5 trivial query) and
                # the ratio with that floor subtracted from every
                # oracle-paired query — the volume-proportional part of
                # the comparison, i.e. what survives scale-up.
                "per_query_floor_sec": floor,
                "ratio_minus_floor": (
                    round(
                        (spark_on_oracle - floor * len(duck_timings))
                        / duck_total,
                        2,
                    )
                    if floor is not None and duck_total > 0
                    else None
                ),
                # Versioned second set (r7+): r6 layout + retrieval
                # representatives, reported separately so the frozen
                # 22-query set stays comparable across rounds.
                "v2_queries": v2_timings,
                "v2_total": v2_total,
                "v2_duckdb_queries": v2_duck,
                "v2_duckdb_total": v2_duck_total,
                "v2_ratio": (
                    round(v2_total / v2_duck_total, 2)
                    if v2_duck_total > 0
                    else None
                ),
                # The v2 queries are all sub-second on the oracle side,
                # so the fixed per-query floor dominates their ratio at
                # sf0.1 (4 queries x ~0.12 s floor vs a ~0.3 s DuckDB
                # total); the floor-adjusted number is the volume-
                # proportional part that survives scale-up.
                "v2_ratio_minus_floor": (
                    round(
                        (v2_total - floor * len(v2_duck)) / v2_duck_total, 2
                    )
                    if floor is not None and v2_duck_total > 0
                    else None
                ),
                # Per-member decomposition (VERDICT r10 item 3): the
                # raw set ratio is only interpretable per member —
                # floor_x says how many per-query floors the Spark
                # wall amounts to (a floor_x near 1-3 on a ms-scale
                # oracle means the member times the scheduler, not the
                # plan; the volume-bearing members are the ones whose
                # ratio tracks engine work).
                "v2_per_member": {
                    name: {
                        "spark": v2_timings[name],
                        "duckdb": v2_duck.get(name),
                        "ratio": (
                            round(v2_timings[name] / v2_duck[name], 2)
                            if v2_duck.get(name)
                            else None
                        ),
                        "floor_x": (
                            round(v2_timings[name] / floor, 1)
                            if floor
                            else None
                        ),
                    }
                    for name in HEADLINE_V2
                },
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # Diagnostics for run-to-run comparison: BENCH numbers
                # are only comparable when the host was otherwise idle
                # (r02: 29.1 s driver vs ~17 s uncontended local on an
                # identical commit — a contention artifact, see
                # BENCHLOG.md). load1 near 0 at start = trustworthy.
                "load_avg_start": round(load_start, 2),
                "load_avg_end": round(os.getloadavg()[0], 2),
                "settle_wait_sec": settled_wait,
                # Effective session geometry (VERDICT r13 item 2): the
                # contract env vars as the session ACTUALLY resolved
                # them, so the driver's scaling probe can verify the
                # core count instead of inferring it from wall ratios.
                "master": eff_master,
                "default_parallelism": eff_parallelism,
                "shuffle_partitions": eff_shuffle,
                "errors": errors,
    }
    print(json.dumps(payload))
    # The driver's BENCH artifact captures only the TAIL of stdout, and
    # the full payload line is long enough that its head — the frozen
    # set's per-query Spark walls — was clipped out of BENCH_r10/r11
    # (VERDICT r11 item 4, "parsed": null). Emit the big line first,
    # then a compact LAST line carrying the scalars + the per-query
    # walls, so whatever window the driver keeps always ends with a
    # complete, parseable JSON record with the triage data.
    # "compact": true distinguishes this trailing record from the full
    # payload above (ADVICE r12: both carry the same "metric", so a
    # consumer parsing ALL stdout JSON lines could double-count).
    print(
        json.dumps(
            {"compact": True}
            | {
                k: payload[k]
                for k in (
                    "metric",
                    "value",
                    "unit",
                    "queries",
                    "duckdb_oracle_total",
                    "spark_on_oracle_subset",
                    "spark_vs_duckdb_ratio",
                    "per_query_floor_sec",
                    "ratio_minus_floor",
                    "v2_total",
                    "v2_duckdb_total",
                    "v2_ratio",
                    "v2_ratio_minus_floor",
                    "sf",
                    "load_avg_start",
                    "load_avg_end",
                    "master",
                    "default_parallelism",
                    "shuffle_partitions",
                    "errors",
                )
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
