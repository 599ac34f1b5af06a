"""Shared fixtures: one tuned SparkSession per test run (on a 4-core
host a fresh one takes ~5-6 s to start, ~2.5-3 s on a cached
class-data-sharing archive — reuse it), the smallest fixture dir, and
the queuedata table."""

from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """The session's managed tables live in a fresh temp warehouse, so
    tables a killed run left under ``./spark-warehouse`` cannot fail
    the next run's ``saveAsTable`` (LOCATION_ALREADY_EXISTS)."""
    from ask_duckdb_spark.session import get_spark

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark("tests", extra_conf={"spark.sql.warehouse.dir": warehouse})
    yield spark


@pytest.fixture(scope="session")
def queuedata(spark):
    """Synthetic queuedata view + its dictionary (FIXTURES.md §2)."""
    from ask_duckdb_spark.sources.queuedata_fixture import (
        queuedata_df,
        queuedata_dictionary,
    )

    df = queuedata_df(spark)
    df.createOrReplaceTempView("queuedata")
    return df, queuedata_dictionary()


def persisted_rdds(spark) -> set[int]:
    """Ids of the RDDs the context holds blocks for (persisted frames and
    local checkpoints alike)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@contextlib.contextmanager
def spark_jobs(spark, group: str):
    """Run the block's Spark actions under job group ``group``; the
    yielded list holds the ids of the jobs they ran once the block
    exits (a job the group ran before the block is not counted)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(group))
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
    ids.extend(sorted(set(tracker.getJobIdsForGroup(group)) - before))
