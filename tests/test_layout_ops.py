"""Semantic gates for the layout/incremental operators (x115-x120).

All six carry full value-hashed DuckDB oracles (scripts/diffcheck.py);
these tests pin the invariants the oracle equality can't see — the CDC
mutation model, MERGE's matched/unmatched matrix, bloom-prefilter ≡
plain-semi-join equality (and that the prefilter actually prunes and
actually broadcasts), Z-order locality, zone-map pruning soundness,
and the partial-merge ≡ recompute identity checked engine-internally.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ask_duckdb_spark.operators import QUERIES
from ask_duckdb_spark.sources.catalog import load_table

from conftest import SF_DIR


def test_x115_cdc_mutation_model(spark):
    out = {
        r["change_kind"]: r
        for r in QUERIES["x115_snapshot_cdc_diff"](spark, SF_DIR).collect()
    }
    assert set(out) == {"insert", "delete", "update", "unchanged"}
    # unchanged rows carry zero delta; updates bump exactly one dollar
    assert out["unchanged"]["delta_units"] == 0
    assert out["update"]["delta_units"] == 100 * out["update"]["n_rows"]
    # deletes are exactly the keys divisible by 97 (both extremes are)
    assert out["delete"]["min_key"] % 97 == 0
    assert out["delete"]["max_key"] % 97 == 0
    # inserts all arrive from the (D1, D2) date slice: positive deltas
    assert out["insert"]["delta_units"] > 0


def test_x116_merge_matrix(spark):
    merged = QUERIES["x116_merge_upsert"](spark, SF_DIR)
    cust = load_table(spark, SF_DIR, "customer")
    n_cust = cust.count()
    inserted = merged.filter(F.col("c_custkey") >= 1000000)
    n_ins = inserted.count()
    # every target row survives; every displaced source key inserts
    assert merged.count() == n_cust + n_ins
    assert n_ins > 0
    ins_row = inserted.orderBy("c_custkey").first()
    assert ins_row["c_mktsegment"] == "UNKNOWN"
    assert ins_row["c_nationkey"] == -1
    assert ins_row["c_name"] == f"Customer#new#{ins_row['c_custkey']}"
    # a non-matched-by-source target keeps its balance bit-exactly
    o = load_table(spark, SF_DIR, "orders")
    src_keys = {
        r["k"]
        for r in o.filter(F.col("o_orderdate") >= "1998-01-01")
        .select(
            (
                F.col("o_custkey")
                + F.when(F.col("o_custkey") % 50 == 0, 1000000).otherwise(0)
            ).alias("k")
        )
        .distinct()
        .collect()
    }
    untouched = (
        cust.filter(~F.col("c_custkey").isin(list(src_keys)))
        .orderBy("c_custkey")
        .first()
    )
    kept = merged.filter(F.col("c_custkey") == untouched["c_custkey"]).first()
    assert kept["c_acctbal"] == round(untouched["c_acctbal"], 2)


def test_x116_target_is_never_shuffled(spark):
    """r12 plan gate for the decomposed MERGE: the target table must
    only ever be STREAMED — no Exchange may hash-partition customer,
    and all three joins must be broadcast-shaped (source built once).
    This is the 100 TB posture the r12 rewrite bought (+2 local stage
    floors, priced in BENCHLOG r12): a corpus-sized target never pays
    a shuffle for a batch-sized MERGE."""
    from ask_duckdb_spark.plans import formatted_plan

    df = QUERIES["x116_merge_upsert"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the three decomposition joins, all broadcast
    assert "BroadcastHashJoin LeftOuter" in plan, plan
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan
    # the ONLY hash-partitioning Exchange allowed is the source
    # aggregate's (on k, inside the InMemoryRelation's embedded plan);
    # none may target a customer column.
    import re

    for m in re.finditer(r"hashpartitioning\(([a-zA-Z_0-9#]+)", plan):
        assert m.group(1).startswith("k#"), m.group(0)
    # and the result is still the full MERGE matrix
    assert df.count() > load_table(spark, SF_DIR, "customer").count()


def test_x116_correct_when_source_cannot_broadcast(spark):
    """The docstring's degradation claim, executed: with broadcast
    joins disabled (the monster-source regime at 100 TB), AQE falls
    back to shuffled joins and the decomposed MERGE must produce the
    SAME rows — the plan choice degrades, the semantics do not."""
    confs = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {c: spark.conf.get(c, None) for c in confs}
    normal = {
        tuple(r) for r in QUERIES["x116_merge_upsert"](spark, SF_DIR).collect()
    }
    try:
        for c in confs:
            spark.conf.set(c, "-1")
        degraded = {
            tuple(r)
            for r in QUERIES["x116_merge_upsert"](spark, SF_DIR).collect()
        }
    finally:
        for c, v in saved.items():
            if v is not None:
                spark.conf.set(c, v)
    assert degraded == normal


def test_x117_bloom_equals_plain_semijoin_and_broadcasts(spark):
    out = QUERIES["x117_bloom_semijoin"](spark, SF_DIR)
    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")
    build = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    from ask_duckdb_spark.operators._util import money, rev_units

    plain = (
        li.join(build, li["l_orderkey"] == build["o_orderkey"], "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            money(F.sum(rev_units()), 10000).alias("revenue"),
        )
    )
    got = {r["l_returnflag"]: r for r in out.collect()}
    want = {r["l_returnflag"]: r for r in plain.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n_items"] == want[k]["n_items"]
        assert got[k]["revenue"] == want[k]["revenue"]
    # the three bloom lookups must be broadcast joins (no probe shuffle)
    from ask_duckdb_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["x117_bloom_semijoin"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3


def test_x117_bloom_actually_prunes(spark):
    """The prefilter must reject most non-matching probe keys —
    otherwise it is dead weight in front of the exact join."""
    from ask_duckdb_spark.operators.layout import (
        _BLOOM_BITS,
        _BLOOM_K,
        _bloom_pos,
        _word_mask,
    )

    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    build = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("bk"))
        .distinct()
    )
    positions = build.select(
        F.explode(F.array(*[F.lit(s) for s in range(_BLOOM_K)])).alias("seed"),
        "bk",
    ).select(_bloom_pos(F.col("bk"), F.col("seed")).alias("pos"))
    w, m = _word_mask("pos")
    words = (
        positions.select(w.alias("word"), m.alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    probe = li
    for s in range(_BLOOM_K):
        probe = probe.withColumn(f"_p{s}", _bloom_pos(F.col("l_orderkey"), s))
        ws, msk = _word_mask(f"_p{s}")
        wtab = words.select(F.col("word").alias(f"bw{s}"), F.col("bits").alias(f"bb{s}"))
        probe = (
            probe.withColumn(f"_w{s}", ws)
            .withColumn(f"_m{s}", msk)
            .join(F.broadcast(wtab), F.col(f"_w{s}") == F.col(f"bw{s}"), "left")
            .filter((F.col(f"bb{s}").bitwiseAND(F.col(f"_m{s}"))) != 0)
        )
    n_total = li.count()
    n_survive = probe.count()
    n_true = li.join(
        build, li["l_orderkey"] == build["bk"], "left_semi"
    ).count()
    assert n_true <= n_survive  # no false negatives, ever
    # false-positive overhead stays small at the sized m (2^17 bits)
    assert n_survive - n_true <= 0.05 * n_total


def test_x118_zorder_locality(spark):
    rows = QUERIES["x118_zorder_clustering"](spark, SF_DIR).collect()
    li = load_table(spark, SF_DIR, "lineitem")
    g = li.agg(
        F.min("l_partkey"),
        F.max("l_partkey"),
        F.min("l_suppkey"),
        F.max("l_suppkey"),
        F.count(F.lit(1)),
    ).first()
    global_area = (g[1] - g[0] + 1) * (g[3] - g[2] + 1)
    assert sum(r["n_rows"] for r in rows) == g[4]
    areas = [
        (r["max_part"] - r["min_part"] + 1) * (r["max_supp"] - r["min_supp"] + 1)
        for r in rows
    ]
    # Z-order files cover small rectangles, not the whole key plane
    assert sum(areas) / len(areas) < 0.3 * global_area


def test_x119_pruning_is_sound(spark):
    rows = QUERIES["x119_zone_map_pruning"](spark, SF_DIR).collect()
    from ask_duckdb_spark.operators.layout import _ZM_HI, _ZM_LO
    from ask_duckdb_spark.operators._util import icents

    o = load_table(spark, SF_DIR, "orders")
    pruned = [r["file_id"] for r in rows if r["prunable"]]
    matching = o.filter(
        (icents("o_totalprice") >= _ZM_LO)
        & (icents("o_totalprice") <= _ZM_HI)
        & F.date_format("o_orderdate", "yyyy-MM").isin(pruned)
    )
    # a prunable file contains NO predicate-matching rows (soundness)
    if pruned:
        assert matching.count() == 0
    assert sum(r["n_rows"] for r in rows) == o.count()


def test_x120_partial_merge_equals_recompute(spark):
    from ask_duckdb_spark.operators._util import icents, money

    out = {
        r["month"]: r
        for r in QUERIES["x120_partial_agg_merge"](spark, SF_DIR).collect()
    }
    o = load_table(spark, SF_DIR, "orders")
    direct = {
        r["month"]: r
        for r in o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            money(F.sum(icents("o_totalprice")).cast("bigint"), 100).alias(
                "total_price"
            ),
        )
        .collect()
    }
    assert set(out) == set(direct)
    for k in direct:
        assert out[k]["n_orders"] == direct[k]["n_orders"]
        assert out[k]["total_price"] == direct[k]["total_price"]


def test_x121_scd2_interval_algebra(spark):
    rows = QUERIES["x121_scd2_history"](spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user) == ev.select("user_id").distinct().count()
    for u, vs in by_user.items():
        vs.sort(key=lambda r: r["version"])
        # contiguous versions, exactly one open interval, abutting bounds
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        assert sum(r["is_current"] for r in vs) == 1
        assert vs[-1]["is_current"] and vs[-1]["valid_to"] is None
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"]  # no gaps, no overlaps
            assert a["state"] != b["state"]  # a version exists per CHANGE


def test_x122_compaction_preserves_order_and_bounds(spark):
    from ask_duckdb_spark.operators.layout import _COMPACT_TARGET

    rows = QUERIES["x122_compaction_plan"](spark, SF_DIR).collect()
    rows.sort(key=lambda r: r["file_id"])
    # order-preserving: shard ids are non-decreasing along the sort key
    shard_seq = [r["shard_id"] for r in rows]
    assert shard_seq == sorted(shard_seq)
    max_file = max(r["n_rows"] for r in rows)
    shards = {}
    for r in rows:
        shards[r["shard_id"]] = r["shard_rows"]
        # the window total matches the per-shard sum
    for sid, total in shards.items():
        assert total == sum(r["n_rows"] for r in rows if r["shard_id"] == sid)
        # greedy bound: a shard overshoots the target by < one input file
        assert total < _COMPACT_TARGET + max_file
        if sid != max(shards):
            assert total >= _COMPACT_TARGET - max_file


def test_x123_weighted_sample_prefers_heavy_docs(spark):
    sample = QUERIES["x123_weighted_sample"](spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents").filter(F.col("n_chars") > 0)
    mean_sample = sample.agg(F.avg("n_chars")).first()[0]
    mean_corpus = docs.agg(F.avg("n_chars")).first()[0]
    # weight-proportional inclusion: the sample skews heavy
    assert mean_sample > mean_corpus
    # deterministic: a second plan build collects the identical sample
    again = QUERIES["x123_weighted_sample"](spark, SF_DIR)
    assert [r["doc_id"] for r in sample.collect()] == [
        r["doc_id"] for r in again.collect()
    ]


def test_x124_scopes_recompute_correctly(spark):
    """Affected partitions = exactly those where recomputing x120's
    monthly rollup over snapshot B differs from snapshot A's rollup —
    plus insert/delete months; unaffected months are byte-identical."""
    from ask_duckdb_spark.operators.layout import _CDC_D1, _CDC_D2
    from ask_duckdb_spark.operators._util import icents

    rows = QUERIES["x124_affected_partitions"](spark, SF_DIR).collect()
    o = load_table(spark, SF_DIR, "orders")

    def rollup(df):
        return {
            r["m"]: (r["n"], r["u"])
            for r in df.groupBy(
                F.date_format("dt", "yyyy-MM").alias("m")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("units").alias("u"))
            .collect()
        }

    a = o.filter(F.col("o_orderdate") < _CDC_D1).select(
        icents("o_totalprice").alias("units"), F.col("o_orderdate").alias("dt")
    )
    b = o.filter(
        (F.col("o_orderdate") < _CDC_D2) & (F.col("o_orderkey") % 97 != 0)
    ).select(
        (
            icents("o_totalprice")
            + F.when(F.col("o_orderkey") % 11 == 0, 100).otherwise(0)
        ).alias("units"),
        F.col("o_orderdate").alias("dt"),
    )
    ra, rb = rollup(a), rollup(b)
    differs = {m for m in set(ra) | set(rb) if ra.get(m) != rb.get(m)}
    flagged = {r["file_id"] for r in rows if r["affected"]}
    # every month whose rollup changed is flagged (no missed recompute);
    # months in B with identical rollups may still be flagged only via
    # offsetting changes, which the fixture's mutation model never makes
    assert differs & set(r["file_id"] for r in rows) <= flagged
    unflagged = {r["file_id"] for r in rows} - flagged
    assert all(ra.get(m) == rb.get(m) for m in unflagged)


def test_x117b_plain_twin_broadcast_semi(spark):
    """x117b (VERDICT r8 item 4): the registered plain-semi twin must
    execute as a BROADCAST left-semi at fixture scale — the honest
    local winner's plan, not a shuffled merge join. (Its rows match the
    bloom form's through the shared oracle, tests/test_oracle_parity.py.)"""
    from ask_duckdb_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["x117b_plain_semijoin"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
