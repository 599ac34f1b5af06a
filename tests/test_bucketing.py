"""Bucketed co-located join: the write-once-shuffle-never contract.

The assertion that matters: joining two tables bucketed on the join
key produces a plan with ZERO Exchange operators — the 100 TB
fact-to-fact join strategy (SURVEY.md §4.3)."""

from __future__ import annotations

import pytest

from ask_duckdb_spark.plans.checks import formatted_plan, num_shuffles
from ask_duckdb_spark.sources.bucketing import bucketed_join_ready, write_bucketed
from ask_duckdb_spark.sources.catalog import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(orders, "orders_b", ["o_orderkey"])
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        ["o_orderkey"],
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucket_spec_persisted(spark, bucketed_tables):
    for tbl in bucketed_tables:
        assert bucketed_join_ready(spark, tbl)


@pytest.fixture()
def no_auto_broadcast(spark):
    """Force the sort-merge path: at test SF everything fits a
    broadcast, which would bypass the bucket co-location under test;
    the session's SHJ preference is likewise pinned off so the
    bucket-sorted merge (the thing under test) is what plans."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.join.preferSortMergeJoin",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    yield
    for k, v in prev.items():
        spark.conf.set(k, v)


def test_bucketed_join_is_exchange_free(spark, bucketed_tables, no_auto_broadcast):
    ot, lt = bucketed_tables
    joined = spark.table(ot).join(spark.table(lt), "o_orderkey")
    plan = formatted_plan(joined)
    assert num_shuffles(joined) == 0, plan
    assert "SortMergeJoin" in plan


def test_unbucketed_join_shuffles_both_sides(spark, no_auto_broadcast):
    # the control: same join over plain parquet shuffles both inputs
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    joined = o.join(li, o.o_orderkey == li.l_orderkey)
    assert num_shuffles(joined) == 2


def test_bucketed_join_matches_shuffled_join(spark, bucketed_tables):
    ot, lt = bucketed_tables
    bucketed = spark.table(ot).join(spark.table(lt), "o_orderkey").count()
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    plain = o.join(li, o.o_orderkey == li.l_orderkey).count()
    assert bucketed == plain


def test_stale_working_dir_table_does_not_block_save(spark):
    """A killed run leaves a non-empty managed-table directory in the
    working dir's ``spark-warehouse``. The directory is left in place on
    purpose: the bucketed-index test in test_corpus_ops.py runs later in
    the same session and writes the same table name, so it must not see
    it either."""
    import os

    stale = os.path.join("spark-warehouse", "banded_idx_b")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "part-00000-stale.parquet"), "wb") as f:
        f.write(b"left by a killed run")

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    assert os.path.realpath(warehouse.removeprefix("file:")) != os.path.realpath(
        "spark-warehouse"
    )
    write_bucketed(load_table(spark, SF_DIR, "region"), "banded_idx_b", ["r_regionkey"])
    try:
        assert bucketed_join_ready(spark, "banded_idx_b")
    finally:
        spark.sql("DROP TABLE IF EXISTS banded_idx_b")
