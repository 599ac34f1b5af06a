"""Physical-plan regression gates: pin the properties that make each
operator scale (SURVEY.md §4.3). A failure here means a future edit
broke pushdown/broadcast/top-k/pruning even if results stay correct."""

from __future__ import annotations

import ast
import pathlib
import re

from pyspark.sql.types import StructType

from ask_duckdb_spark.operators import QUERIES
from ask_duckdb_spark.plans import checks
from ask_duckdb_spark.sources.catalog import local_frame
from ask_duckdb_spark.sources.queuedata_fixture import (
    _SCHEMA,
    queuedata_df,
    queuedata_rows,
)
from tests.conftest import SF_DIR

PKG = pathlib.Path(__file__).resolve().parents[1] / "ask_duckdb_spark"


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["p4_like"](spark, SF_DIR)
    pushed = " ".join(checks.pushed_filters(df))
    assert "StringStartsWith(p_type" in pushed


def test_column_pruning_reaches_scan(spark):
    df = QUERIES["p4_like"](spark, SF_DIR)
    cols = checks.scan_read_schema(df)
    # 2 projected columns + the filter column; NOT all 6 part columns
    assert set(cols) == {"p_partkey", "p_name", "p_type"}


def test_q1_prunes_unused_lineitem_columns(spark):
    cols = set(checks.scan_read_schema(QUERIES["q1_pricing_summary"](spark, SF_DIR)))
    assert "l_orderkey" not in cols  # q1 never touches the key columns
    assert {"l_quantity", "l_extendedprice", "l_shipdate"} <= cols


def test_dim_join_broadcasts(spark):
    assert checks.has_broadcast_join(QUERIES["j1_inner_multihop"](spark, SF_DIR))


def test_topk_is_take_ordered_not_global_sort(spark):
    assert checks.has_take_ordered(QUERIES["o2_top_k"](spark, SF_DIR))
    assert checks.has_take_ordered(QUERIES["x9_top_terms"](spark, SF_DIR))


def test_aggregation_is_partial(spark):
    assert checks.has_partial_aggregate(QUERIES["q1_pricing_summary"](spark, SF_DIR))


def test_q1_single_shuffle(spark):
    # filter+groupBy+orderBy: one aggregate exchange (+ the orderBy's
    # range exchange) — anything more means a planning regression
    assert checks.num_shuffles(QUERIES["q1_pricing_summary"](spark, SF_DIR)) <= 2


def test_narrow_map_operators_shuffle_free(spark):
    # per-doc stats and fingerprints must stay zero-shuffle narrow maps
    assert checks.num_shuffles(QUERIES["x8_token_stats"](spark, SF_DIR)) == 0
    assert checks.num_shuffles(QUERIES["x12_fingerprint"](spark, SF_DIR)) == 0


def test_round3_vector_text_operators_shuffle_budget(spark):
    """x39 (repetition ratio) is a per-doc narrow map plus its final
    orderBy (range exchange only); x43 (quantization audit) likewise;
    x42 (label centroids) gets exactly one aggregate exchange (partial
    aggregation) plus the orderBy's range exchange."""
    assert checks.num_shuffles(QUERIES["x39_repetition_ratio"](spark, SF_DIR)) <= 1
    assert checks.num_shuffles(QUERIES["x43_quantize_error"](spark, SF_DIR)) <= 1
    x42 = QUERIES["x42_label_centroids"](spark, SF_DIR)
    assert checks.num_shuffles(x42) <= 2
    assert checks.has_partial_aggregate(x42)


def test_aqe_coalesces_small_shuffles(spark):
    """32 configured shuffle partitions over tiny data must coalesce at
    runtime (AQEShuffleRead coalesced) — the other half of the AQE
    promise beside skew splitting."""
    from ask_duckdb_spark.sources.catalog import load_table

    df = (
        load_table(spark, SF_DIR, "customer")
        .groupBy("c_nationkey")
        .count()
    )
    df.collect()  # materialize THIS plan (AQE finalizes on execution)
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "coalesced" in final, final[:1500]


def test_sql_broadcast_hint_respected(spark):
    from ask_duckdb_spark.sources.catalog import load_table

    load_table(spark, SF_DIR, "orders").createOrReplaceTempView("orders")
    load_table(spark, SF_DIR, "lineitem").createOrReplaceTempView("lineitem")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = spark.sql(
            """
            SELECT /*+ BROADCAST(o) */ count(*) AS n
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            """
        )
        assert checks.has_broadcast_join(hinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_codegen_covers_flagship(spark):
    assert checks.wholestage_codegen_count(QUERIES["q1_pricing_summary"](spark, SF_DIR)) >= 1


def test_operators_build_without_materializing(spark, monkeypatch):
    """Building a registry DataFrame must never MATERIALIZE one —
    count/collect/toPandas during plan construction re-scans input on
    every build (x3 regressed this way once, via an eager corpus
    count). Parquet footer/schema reads are fine; materialization is
    not. Documented exceptions: x29 (iterate-to-fixpoint convergence
    checks) and x67 (per-round BPE argmax) — iterative algorithms
    execute at build by nature.

    Patches the CONCRETE classic DataFrame class: on Spark 4,
    ``pyspark.sql.DataFrame`` is an abstract facade whose methods the
    classic implementation overrides, so patching the facade
    intercepts nothing (this gate was silently vacuous until r5)."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame  # Spark 4
    except ImportError:  # pragma: no cover - Spark 3 layout
        from pyspark.sql import DataFrame

    def _trip(kind):
        def fail(self, *a, **kw):
            raise AssertionError(f"eager DataFrame.{kind}() during operator build")
        return fail

    # localCheckpoint/checkpoint also EXECUTE the plan (eagerly by
    # default) — x137b slipped an eager localCheckpoint past this gate
    # for a round because only the five methods below were patched
    # (ADVICE r8); any eager-materialization API added here must also
    # be added to the iterative-class exemption reasoning above.
    for kind in (
        "count", "collect", "toPandas", "take", "head",
        "localCheckpoint", "checkpoint",
    ):
        monkeypatch.setattr(DataFrame, kind, _trip(kind))
    # x7 additionally allowed: its ADVICE-r4 cap warning is a bounded
    # LIMIT-1 existence probe (stat-pruned), not a scan. x80 (and x85,
    # which composes it) joins x29 in the iterative class: its
    # large-star/small-star loop runs per-round convergence checksums
    # at build by nature.
    for name, fn in QUERIES.items():
        if name in (
            "x29_dedup_clusters",
            "x67_bpe_learn",
            "x7_embedding_neardup",
            "x80_cc_star",
            "x85_cluster_keep_best",
            "x96_leakage_safe_split",  # composes x29's fixpoint loop
            "x139_dedup_savings",  # composes x29's fixpoint loop
            "x140_incremental_components",  # two fixpoint loops
        ):
            continue
        fn(spark, SF_DIR)  # raises if any operator materializes


def test_observe_metrics_on_flagship(spark):
    """df.observe(): pipeline instrumentation without a second scan —
    row counts and sums ride the flagship query's own execution, the
    zero-cost way to monitor a 100 TB job (vs a separate count() that
    re-reads the input)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("q1_metrics")
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    rows = df.observe(obs, F.count(F.lit(1)).alias("n_groups"),
                      F.sum("sum_qty").alias("total_qty")).collect()
    assert obs.get["n_groups"] == len(rows)
    assert abs(obs.get["total_qty"] - sum(r.sum_qty for r in rows)) < 1e-6


def test_scrub_operators_shuffle_budget(spark):
    """x45 (PII redaction) and x48 (char diversity) are per-doc narrow
    maps: only their final orderBy's range exchange. x47 (chunking) is
    explode-based but still narrow — same single range exchange. x46
    (URL dedup) earns exactly one aggregate exchange plus the orderBy."""
    assert checks.num_shuffles(QUERIES["x45_pii_redaction"](spark, SF_DIR)) <= 1
    assert checks.num_shuffles(QUERIES["x48_char_diversity_filter"](spark, SF_DIR)) <= 1
    assert checks.num_shuffles(QUERIES["x47_chunk_documents"](spark, SF_DIR)) <= 1
    assert checks.num_shuffles(QUERIES["x46_url_normalize_dedup"](spark, SF_DIR)) <= 2
    assert checks.has_partial_aggregate(QUERIES["x46_url_normalize_dedup"](spark, SF_DIR))


def test_corpus_maintenance_shuffle_budget(spark):
    """x50 (length outlier): one agg exchange for the percentile + the
    broadcast-filtered scan and final orderBy. x51 (domain cap): the
    window's source exchange is REUSED by the groupBy — one hash
    exchange + the orderBy's range exchange, nothing more."""
    assert checks.num_shuffles(QUERIES["x50_length_outlier_filter"](spark, SF_DIR)) <= 2
    assert checks.num_shuffles(QUERIES["x51_domain_cap"](spark, SF_DIR)) <= 2
    assert checks.has_broadcast_join(QUERIES["x49_incremental_dedup"](spark, SF_DIR))


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime row-level filtering: a selective dimension-side filter
    injects a Bloom filter (`might_contain`) into the fact scan when
    the join can't broadcast — the 100 TB fact-to-fact pruning path.
    Thresholds are pinned low here only to trigger the planner rule at
    fixture scale; on a real cluster the defaults govern."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_x55_pipeline_composes_without_extra_shuffles(spark):
    """The composed prep pipeline earns exactly its two aggregation
    exchanges (dedup group-by, final rollup) plus the orderBy's range
    exchange — composition must add no materialization boundaries."""
    assert checks.num_shuffles(QUERIES["x55_full_prep_pipeline"](spark, SF_DIR)) <= 3


def test_x22_vocabulary_join_not_forced_broadcast(spark):
    """The tf<->df join must not carry a broadcast HINT: the distinct-
    token frame is billions of rows on a web corpus (VERDICT r3
    §wrong-3). At sf0.01 Catalyst may still pick broadcast from size
    STATS — that's fine, stats won't qualify at 100 TB. The pin:
    disable stats-based broadcast (threshold=-1) and the only broadcast
    left must be the explicitly-hinted single-row n_docs scalar, with
    the vocabulary join falling back to a key-shuffled join."""
    import re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = checks.formatted_plan(
            QUERIES["x22_tfidf_top_term"](spark, SF_DIR)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    broadcast_ids = set(re.findall(r"\((\d+)\) BroadcastExchange", plan))
    assert len(broadcast_ids) <= 1, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_tpch_no_forced_broadcast_of_scaling_tables(spark):
    """part/supplier/partsupp-derived frames scale with SF and must not
    carry broadcast HINTS (q5/x22 discipline): with stats-broadcast
    disabled, the only BroadcastExchanges left in the heavy TPC-H
    shapes are the hinted bounded dims (nation/region/scalar aggs),
    and the fact joins fall back to key-shuffled joins."""
    import re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, max_bcast in [
            ("q2_min_cost_supplier", 1),   # nation x region
            ("q9_product_type_profit", 1),  # nation
            ("q16_supplier_count", 0),
            ("q20_excess_shipments", 1),    # nation
            ("q21_waiting_suppliers", 1),   # nation
        ]:
            plan = checks.formatted_plan(QUERIES[name](spark, SF_DIR))
            bcasts = set(re.findall(r"\((\d+)\) BroadcastExchange", plan))
            assert len(bcasts) <= max_bcast, f"{name}: {len(bcasts)} broadcasts"
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_r5_continuation_shuffle_budgets(spark):
    """Plan-pins for the x74-x87 additions: the BM25 term filter must
    land BEFORE the (doc, tok) exchange (the plan's only Filter over
    the exploded tokens carries the IN-list), the top-k compiles to
    TakeOrderedAndProject, the broadcast-anchor ops broadcast, and
    every op stays inside its shuffle budget."""
    bm25 = QUERIES["x76_bm25_topk"](spark, SF_DIR)
    plan = checks.formatted_plan(bm25)
    assert checks.has_take_ordered(bm25), plan
    # the IN-list filter is visible pre-exchange (tok IN (vector,...))
    assert "vector" in plan and "customer" in plan, plan
    assert checks.num_shuffles(bm25) <= 7, plan

    # broadcast-anchor scans: probes/anchors ride in as broadcasts
    for name in ("x75_hard_negatives", "x84_truncation_recall",
                 "x87_ann_recall_eval"):
        df = QUERIES[name](spark, SF_DIR)
        assert checks.has_broadcast_join(df), name

    # word-count-shaped corpus stats: bounded exchanges, partial aggs
    x79 = QUERIES["x79_vocab_growth"](spark, SF_DIR)
    assert checks.num_shuffles(x79) <= 4
    assert checks.has_partial_aggregate(x79)
    x82 = QUERIES["x82_source_card"](spark, SF_DIR)
    assert checks.num_shuffles(x82) <= 4
    assert checks.has_partial_aggregate(x82)
    x86 = QUERIES["x86_novelty_ratio"](spark, SF_DIR)
    assert checks.num_shuffles(x86) <= 5
    assert checks.has_partial_aggregate(x86)


def test_closing_ops_shuffle_budgets(spark):
    """x93-x107 plan hygiene: shuffle counts bounded to the documented
    exchange inventory, narrow maps stay narrow, model joins broadcast
    where the frame is provably bounded."""
    # x101 readability: per-doc narrow map — only the final orderBy's
    # range exchange (the x39/x45 budget)
    assert checks.num_shuffles(QUERIES["x101_readability"](spark, SF_DIR)) <= 1
    # x93 surprisal: token count + LM join + doc rollup (+1 AQE slack)
    assert checks.num_shuffles(QUERIES["x93_mean_surprisal"](spark, SF_DIR)) <= 4
    # x95 coverage: (source, token) count then source rollup
    assert checks.num_shuffles(QUERIES["x95_vocab_coverage"](spark, SF_DIR)) <= 3
    # x100 transitions: user window + (from, to) count + row-sum window
    assert checks.num_shuffles(
        QUERIES["x100_event_transitions"](spark, SF_DIR)
    ) <= 4
    # x104 MAD: per-type percentile passes; the med/mad model frames
    # join back via broadcast (|event types| rows — bounded forever)
    mad = QUERIES["x104_value_mad"](spark, SF_DIR)
    assert checks.has_broadcast_join(mad)
    # x102 journey surprisal: the |types|^2 model broadcasts
    assert checks.has_broadcast_join(
        QUERIES["x102_journey_surprisal"](spark, SF_DIR)
    )
    # x94 cohorts: the calendar-bounded size frame broadcasts; the
    # user-keyed cohort join must NOT be forced broadcast
    assert checks.has_broadcast_join(
        QUERIES["x94_retention_cohorts"](spark, SF_DIR)
    )
    # x103 profiler (r14 shape): per-column distinct aggregates join
    # back as BROADCAST scalars (1-row cross joins — no shuffle); the
    # pre-r14 multi-distinct Expand (13x row multiplication into a
    # wide-row SortAggregate, 32 s at sf0.1) must stay gone, and no
    # KEYED join may appear (scalar cross-joins only).
    plan = checks.formatted_plan(QUERIES["x103_column_profile"](spark, SF_DIR))
    assert "Expand" not in plan
    for keyed in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert keyed not in plan


def test_layout_family_shuffle_budgets(spark):
    """Plan pins for x115-x120 (operators/layout.py): the shapes the
    100 TB argument rests on must survive plan changes. x118's Z-key is
    a pure projection (the only exchange is the closing 64-group agg +
    sort; the scalar max rides a broadcast); x119/x120 are single
    combinable aggregations with map-side partials; x115's diff is one
    full-outer join; x117's bloom probe reaches the big scan through
    BROADCAST joins only (the whole point — no probe-side shuffle
    before the exact semi-join)."""
    x115 = QUERIES["x115_snapshot_cdc_diff"](spark, SF_DIR)
    assert checks.num_shuffles(x115) <= 4  # 2 scan-side + join + agg
    assert checks.has_partial_aggregate(x115)

    x117 = QUERIES["x117_bloom_semijoin"](spark, SF_DIR)
    plan = checks.formatted_plan(x117)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # exactly one exchange touches lineitem rows: the final semi-join's
    # probe repartition (the word-table builds are orders-side)
    assert checks.has_partial_aggregate(x117)

    # 3 = zmax scalar-agg exchange + group-agg exchange + closing sort's
    # range exchange; the zkey projection itself adds none
    x118 = QUERIES["x118_zorder_clustering"](spark, SF_DIR)
    assert checks.num_shuffles(x118) <= 3, checks.formatted_plan(x118)
    assert checks.has_broadcast_join(x118)  # the scalar zmax
    assert checks.has_partial_aggregate(x118)

    # x120's 3rd exchange is the month-level re-aggregation of the day
    # partials — the two-level merge IS the operator's point
    for name, budget in [
        ("x119_zone_map_pruning", 2),
        ("x120_partial_agg_merge", 3),
    ]:
        df = QUERIES[name](spark, SF_DIR)
        assert checks.num_shuffles(df) <= budget, name
        assert checks.has_partial_aggregate(df), name


# -- optimization-round reshapes (r13, r14): each gate pins the plan
# property the reshape bought, so a regression that quietly
# reintroduces the old shape fails here rather than in the bench.


def _broadcast_inputs(plan: str) -> list[str]:
    """The ``Input [n]: [...]`` line of every BroadcastExchange block."""
    out = []
    for m in re.finditer(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan):
        out.append(m.group(1))
    return out


def test_fact_table_never_broadcast(spark):
    """q3/q5/q10 (r13 fact-first reshape): no BroadcastExchange may
    carry lineitem columns. The old dim-first shapes made Catalyst's
    product-of-children size estimate balloon past lineitem's file
    size, so the planner broadcast the FACT table — wrong at every
    scale. The reshape keeps lineitem the streamed side; this pin
    fails if any future edit reintroduces a fact broadcast."""
    for name in (
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q10_returned_items",
    ):
        plan = checks.formatted_plan(QUERIES[name](spark, SF_DIR))
        for cols in _broadcast_inputs(plan):
            assert not re.search(r"\bl_\w+#", cols), (
                f"{name}: lineitem columns on a broadcast side: {cols}"
            )


def test_x2_pair_dedup_is_hash_not_sort_aggregate(spark):
    """The scalar-only pair dedup must plan as HashAggregate — the old
    sig-carrying dedup fell back to SortAggregate (array columns have
    no fixed-width agg buffer), paying two extra Sorts of the pair
    frame."""
    plan = checks.formatted_plan(QUERIES["x2_minhash_neardup"](spark, SF_DIR))
    assert "SortAggregate" not in plan, plan


def test_x136_shuffle_budget_and_broadcast_side(spark):
    """x136 (r13 reshape): the training gram stream is probed where it
    is produced — the eval side is the (sole) broadcast, and the old
    pre-join ``tr.distinct()`` full shuffle of the 90% gram stream is
    gone. Shuffles left: the two-level distinct-count rollup over HIT
    rows + the final order-by."""
    df = QUERIES["x136_eval_leak_report"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1, plan
    assert checks.num_shuffles(df) <= 3, plan


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
    0.40 s), while at 100 TB the scan itself provides the parallelism.
    x36's frame sampler (the same MapInPandas shape over the same
    fixture) dropped its widen() on a cold series of the same kind
    (BENCHLOG "x36 widen")."""
    plan = checks.formatted_plan(QUERIES["x20_decode_features"](spark, SF_DIR))
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    for name in ("x20_decode_features", "x36_frame_sample"):
        plan = checks.formatted_plan(QUERIES[name](spark, SF_DIR))
        assert "RoundRobinPartitioning" not in plan, (name, plan)


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


def _local_scan_only(df) -> bool:
    return "LocalTableScan" in checks.formatted_plan(df) and not checks.has_rdd_scan(df)


def test_queuedata_fixture_is_a_local_relation(spark):
    """The queuedata fixture is a LocalRelation with the fixture's exact
    schema and rows: a question over it plans as a JVM LocalTableScan,
    never a Python-worker scan of an RDD — with Arrow conversion off
    too, since an Arrow table takes that path regardless."""
    prev = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    try:
        df = queuedata_df(spark)
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", prev)
    assert df.schema == StructType.fromDDL(_SCHEMA)
    assert all(f.nullable for f in df.schema)
    assert [r.asDict() for r in df.collect()] == queuedata_rows()
    assert _local_scan_only(df.filter("status = 'online'").select("queue"))


def test_local_frame_tuples_and_empty_plan_as_local_scans(spark):
    ring = local_frame(spark, [(0, 7), (1, 3)], "shard int, vpos long")
    assert ring.schema == StructType.fromDDL("shard int, vpos long")
    assert [tuple(r) for r in ring.collect()] == [(0, 7), (1, 3)]
    assert _local_scan_only(ring.filter("vpos > 4").select("shard"))
    empty = local_frame(spark, [], "doc_id bigint")
    assert empty.schema == StructType.fromDDL("doc_id bigint")
    assert empty.collect() == []
    assert _local_scan_only(empty)
    # x108's vnode rings, the operator-side user of the tuple form
    assert _local_scan_only(QUERIES["x108_reshard_audit"](spark, SF_DIR))


def test_python_rows_become_frames_only_through_local_frame():
    """``createDataFrame(python_list)`` is a Python RDD; the package
    builds every frame from Python rows with ``local_frame``, whose
    body holds the one ``createDataFrame`` call."""
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                calls.append((path.relative_to(PKG).as_posix(), owner.get(node)))
    assert calls == [("sources/catalog.py", "local_frame")]
