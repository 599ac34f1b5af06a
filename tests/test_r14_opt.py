"""Gates for the r14 optimization round's plan reshapes.

Pins, per VERDICT r13's "next round" items: x22's runtime exchange
reuse (item 4 — the claim finally carries executable evidence), x20's
exchange-free vectorized decode (item 1 — the widen restore was
applied, cold-measured, and reverted on the widen-vs-control subset
(close1-5 + ctl1-4) of the 17-run r14 close series, BENCHLOG r14),
and x2's straight-pipeline shape after the stale single-consumer
persist was dropped.
"""

from __future__ import annotations

import re

from ask_duckdb_spark.operators import QUERIES
from ask_duckdb_spark.plans import checks
from tests.conftest import SF_DIR


def _final_plan(df) -> str:
    """Formatted explain of an EXECUTED DataFrame — ``collect()`` runs
    the frame's own QueryExecution, so the string carries the AQE
    final plan (``isFinalPlan=true``), not the static initial plan."""
    df.collect()
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_x22_aqe_reuses_tokenize_exchange(spark):
    """x22 (r13's df-branch canonicalization, r14 evidence gate): the
    static plan shows two Generate+Scan tokenize chains, but at
    runtime AQE must stitch the df branch onto the tf branch's
    (doc_id, tok) partial-count exchange — ONE tokenize pass. VERDICT
    r13 flagged the claim as unverified because only static plans were
    dumped; this executes the query and pins ReusedExchange in the
    final adaptive plan."""
    plan = _final_plan(QUERIES["x22_tfidf_top_term"](spark, SF_DIR))
    assert "isFinalPlan=true" in plan, plan[:500]
    final = plan.split("Initial Plan")[0]  # ignore the pre-AQE section
    assert "ReusedExchange" in final, final


def test_x20_vectorized_decode_no_fixture_exchange(spark):
    """x20 (VERDICT r13 item 1, settled by the widen-vs-control subset
    (close1-5 + ctl1-4) of the 17-run r14 cold close series): the
    vectorized decode stays (MapInPandas, no BatchEvalPython row
    loop), and the widen() round-robin exchange stays GONE — on the
    ~600 KB fixture the 32-task Python stage it creates is a max-of-32
    straggler lottery (cold-series medians: widen 1.24 s vs no-widen
    0.40 s), while at 100 TB the scan itself provides the parallelism."""
    plan = checks.formatted_plan(QUERIES["x20_decode_features"](spark, SF_DIR))
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "RoundRobinPartitioning" not in plan, plan


def test_x2_no_cache_single_consumer(spark):
    """x2/x2f (r14): the signature frame feeds exactly one consumer
    since the r13 bucket-loop pair generation, so the r5-era persist
    was pure overhead (an extra cache-materialization pass per
    execution). The plan must be a straight pipeline — no
    InMemoryRelation — and the pair dedup must stay a HashAggregate."""
    for name in ("x2_minhash_neardup", "x2f_minhash_neardup_fast"):
        plan = checks.formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "InMemoryTableScan" not in plan, (name, plan)
        assert "SortAggregate" not in plan, (name, plan)


def test_x103_no_expand_no_wide_sort(spark):
    """x103 (VERDICT r13 item 6): the profiler must not plan the
    multi-count_distinct Expand (13x row multiplication) — each
    distinct count is its own column-pruned two-phase aggregate —
    and the expanded wide-row SortAggregate (32 s at sf0.1) must not
    come back. The only SortAggregate allowed is the tiny keyless
    string-min/max pass."""
    plan = checks.formatted_plan(QUERIES["x103_column_profile"](spark, SF_DIR))
    assert "Expand" not in plan, plan
    n_sort_agg = len(re.findall(r"\(\d+\) SortAggregate", plan))
    assert n_sort_agg <= 2, plan


def test_x2_exchange_budget(spark):
    """x2's whole pipeline needs exactly three shuffles — widen's
    round-robin (parallelize the CPU-heavy hashing on under-
    partitioned scans), the LSH (band, bucket) members groupBy, and
    the pair dedup. The orderBy adds a range exchange only in the
    full-result plan; under count() it is eliminated, which is what
    the bench times."""
    df = QUERIES["x2_minhash_neardup"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    # scan -> widen -> members -> dedup (+ output range partition)
    assert n_ex <= 4, plan
