"""Streaming CDC apply (streaming/upsert.py) vs batch x116 MERGE.

The stream sees the 1998 source orders in three micro-batches; the
final versioned snapshot must equal the one-shot batch MERGE exactly
(values compared as exact cents — the state is integer, so there is no
tolerance anywhere). This holds because the update rule is associative
(bal += delta composes across batches) and inserts are stable under
later updates — the same argument that makes MERGE parallelizable in
the first place, applied across TIME instead of across partitions.

A second test replays a batch (at-least-once delivery) and asserts the
snapshot it produces is unchanged — the version-from-batch-id rule
gives exactly-once effect. The rest pin the apply's cost and hygiene:
its Spark job budget, that it releases its checkpointed source on every
path, and that snapshots are read with the schema they were written in.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from ask_duckdb_spark.operators import QUERIES
from ask_duckdb_spark.operators.layout import STATE_SCHEMA, cents_state
from ask_duckdb_spark.sources.catalog import load_table
from ask_duckdb_spark.streaming import upsert
from ask_duckdb_spark.streaming.upsert import (
    bootstrap,
    current_state,
    final_view,
    start_upsert_apply,
    upsert_apply,
)
from tests.conftest import SF_DIR, SF_DIR_001, persisted_rdds, spark_jobs


def _rows(df):
    return sorted(
        (r["c_custkey"], r["c_name"], r["c_nationkey"], r["c_acctbal"], r["c_mktsegment"])
        for r in df.collect()
    )


def _src_orders(spark, sf_dir=SF_DIR_001):
    return load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )


def test_streaming_upsert_matches_batch_x116(spark, tmp_path):
    src = _src_orders(spark)
    lo, hi = src.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3

    srcdir = tmp_path / "src"
    srcdir.mkdir()
    batches = [
        src.filter(F.col("o_orderkey") <= cut1),
        src.filter((F.col("o_orderkey") > cut1) & (F.col("o_orderkey") <= cut2)),
        src.filter(F.col("o_orderkey") > cut2),
    ]
    for i, part in enumerate(batches):
        d = str(srcdir / f"b{i}")
        part.coalesce(1).write.parquet(d)
        os.utime(d, (1_000_000 + i, 1_000_000 + i))
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{srcdir}/b*")
    )
    cust = load_table(spark, SF_DIR_001, "customer")
    q = start_upsert_apply(spark, stream, str(tmp_path / "work"), cust)
    q.awaitTermination(180)

    got = final_view(current_state(spark, str(tmp_path / "work" / "target")))
    want = QUERIES["x116_merge_upsert"](spark, SF_DIR_001)
    assert _rows(got) == _rows(want)


def test_replayed_batch_is_idempotent(spark, tmp_path):
    src = _src_orders(spark)
    target = str(tmp_path / "target")
    bootstrap(load_table(spark, SF_DIR_001, "customer"), target)

    upsert_apply(spark, src, target, 0)
    first = _rows(final_view(spark.read.parquet(os.path.join(target, "v00001"))))
    # at-least-once delivery: the SAME batch id arrives again
    upsert_apply(spark, src, target, 0)
    again = _rows(final_view(spark.read.parquet(os.path.join(target, "v00001"))))
    assert first == again
    # and the one-shot apply already equals batch x116
    assert again == _rows(QUERIES["x116_merge_upsert"](spark, SF_DIR_001))


def _snapshot(spark, target, version):
    return _rows(
        final_view(spark.read.parquet(os.path.join(target, f"v{version:05d}")))
    )


def _bootstrapped(spark, tmp_path):
    target = str(tmp_path / "target")
    bootstrap(load_table(spark, SF_DIR, "customer"), target)
    return target


def test_state_schema_matches_cents_state(spark):
    """Snapshots are read with STATE_SCHEMA, not their footers: if it
    drifts from what cents_state writes, fail here rather than misread."""
    got = cents_state(load_table(spark, SF_DIR, "customer")).schema
    want = spark.createDataFrame([], STATE_SCHEMA).schema
    assert [(f.name, f.dataType) for f in got] == [
        (f.name, f.dataType) for f in want
    ]


def test_upsert_apply_job_budget(spark, tmp_path):
    """One micro-batch costs 6 Spark jobs once its batch frame exists:
    the source checkpoint, three broadcasts of it and the snapshot
    write (9 when the source was persisted and the snapshot schema
    inferred). Its checkpoint is released: no persisted RDD remains."""
    target = _bootstrapped(spark, tmp_path)
    upsert_apply(spark, _src_orders(spark, SF_DIR), target, 0)  # warm-up
    batch = _src_orders(spark, SF_DIR)
    before = persisted_rdds(spark)
    with spark_jobs(spark, "upsert_budget") as jobs:
        upsert_apply(spark, batch, target, 1)
    assert len(jobs) <= 6
    assert persisted_rdds(spark) <= before


def test_failed_upsert_apply_leaves_no_persisted_rdd(spark, tmp_path, monkeypatch):
    target = _bootstrapped(spark, tmp_path)
    before = persisted_rdds(spark)
    with pytest.raises(AnalysisException):  # no parent version to merge into
        upsert_apply(spark, _src_orders(spark, SF_DIR), target, 3)
    assert persisted_rdds(spark) <= before

    def failing_merge(target, src):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(upsert, "merge_cents", failing_merge)
    with pytest.raises(RuntimeError, match="merge failed"):
        upsert_apply(spark, _src_orders(spark, SF_DIR), target, 0)
    assert persisted_rdds(spark) <= before


def test_empty_micro_batch_keeps_the_snapshot(spark, tmp_path):
    target = _bootstrapped(spark, tmp_path)
    upsert_apply(spark, _src_orders(spark, SF_DIR).limit(0), target, 0)
    assert _snapshot(spark, target, 1) == _snapshot(spark, target, 0)
