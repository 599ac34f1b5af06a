"""Streaming CDC apply: x116's MERGE upsert as a foreachBatch loop.

The batch operator (operators/layout.py x116) merges one source
aggregate into the target. This loop builds each micro-batch's merge
from the SAME functions (``merge_source``, ``merge_cents``,
``cents_state``, ``dollars_view``); the r12 rationale for their plan
shape sits beside them. In production the source arrives
CONTINUOUSLY — this module is the apply loop that keeps a target table
current under a stream of updates, the pattern behind every lakehouse
streaming-MERGE sink:

- **State = versioned parquet snapshots** (``target/v00000`` …), a
  poor-man's commit log: version ``b+1`` is derived from version ``b``
  plus micro-batch ``b``'s deltas. Nothing is read and overwritten in
  place, so a crash mid-write never corrupts the current version.
- **Idempotent by construction**: the version to write is a pure
  function of the batch id, and the version to read is the one below
  it — a replayed batch (at-least-once delivery) recomputes the same
  snapshot from the same parent, giving exactly-once EFFECT.
- **Balances ride integer cents in state** (the x116/_util exactness
  discipline); the dollars view is derived at read time, so repeated
  merging never accumulates float error and the final state is
  bit-equal to the one-shot batch MERGE — pinned by
  tests/test_streaming_upsert.py, which holds because the update rule
  is associative (bal += delta composes across batches) and insert
  rows are stable under later updates.

Scale (100 TB): each micro-batch costs one map-side-combinable source
aggregate, checkpointed once for its three consumers, three broadcasts
of it and one write: 7 Spark jobs, counting the read of the batch
itself. The snapshot is read with its known schema (no footer
inference job) in two STREAMING scans (zero snapshot exchanges; a
bucketed/clustered snapshot additionally turns the rewrite into
touched-file surgery), and version GC keeps the last K snapshots (time
travel for free). A real deployment swaps the
directory-versioning for a table format's atomic commit; the PLAN per
batch is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators._util import release
from ..operators.layout import STATE_SCHEMA, cents_state, merge_cents, merge_source
from ..operators.layout import dollars_view as final_view

__all__ = ["upsert_apply", "start_upsert_apply", "current_state", "final_view"]


def _vdir(target_dir: str, version: int) -> str:
    return os.path.join(target_dir, f"v{version:05d}")


def bootstrap(customer_df: DataFrame, target_dir: str) -> None:
    """Write version 0 of the state from the initial target table."""
    cents_state(customer_df).write.mode("overwrite").parquet(_vdir(target_dir, 0))


def upsert_apply(
    spark: SparkSession, batch_df: DataFrame, target_dir: str, batch_id: int
) -> None:
    """Merge ONE micro-batch of orders into the versioned target.

    Reads snapshot ``batch_id``, writes snapshot ``batch_id + 1``.
    Separated from the stream wiring (novelty_ingest discipline):
    testable batch-by-batch, reusable from any incremental driver.
    """
    prev = spark.read.schema(STATE_SCHEMA).parquet(_vdir(target_dir, batch_id))
    # src is micro-batch-sized by construction; checkpointed once for its
    # three consumers (under persist, AQE runs a cache-stage job per
    # consumer) and released right after the eager snapshot write
    src = merge_source(batch_df).localCheckpoint(eager=True)
    try:
        merge_cents(prev, src).write.mode("overwrite").parquet(
            _vdir(target_dir, batch_id + 1)
        )
    finally:
        release(src)


def current_state(spark: SparkSession, target_dir: str) -> DataFrame:
    """The highest-version snapshot (integer-cents state schema)."""
    versions = sorted(
        int(d[1:]) for d in os.listdir(target_dir) if d.startswith("v")
    )
    return spark.read.schema(STATE_SCHEMA).parquet(_vdir(target_dir, versions[-1]))


def start_upsert_apply(
    spark: SparkSession,
    orders_stream: DataFrame,
    workdir: str,
    customer_df: DataFrame,
    trigger_available_now: bool = True,
):
    """Wire :func:`upsert_apply` as a foreachBatch streaming query.

    ``workdir`` gets ``target`` (versioned snapshots, v00000 boot-
    strapped from ``customer_df``) and ``ckpt`` subdirectories.
    """
    target = os.path.join(workdir, "target")
    ckpt = os.path.join(workdir, "ckpt")
    if not os.path.isdir(_vdir(target, 0)):
        bootstrap(customer_df, target)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands each batch a cloned session; the merge is
        # one statement over both frames, so it must run in that session
        upsert_apply(batch_df.sparkSession, batch_df, target, batch_id)

    w = (
        orders_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
