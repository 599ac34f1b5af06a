"""Streaming near-duplicate dedup: the x2 MinHash-LSH sketch at ingest.

A growing corpus does not get to re-run batch dedup per arrival; the
production shape is a ``foreachBatch`` pipeline that, per micro-batch:

1. computes xxhash64 minhash signatures for the incoming documents
   (``minhash_signatures_fast`` — the x2f production hash path; the
   sketch family — shingle fold, permutations, banding — is IDENTICAL
   to oracle-audited x2);
2. drops every incoming doc that is a near-dup (signature-estimated
   Jaccard >= 0.5) of an EARLIER document — either one already in the
   accumulated band store (previous batches) or a lower-id document in
   the same batch (``lsh_candidate_pairs``);
3. appends the batch's band rows (kept AND dropped docs — a dropped
   copy must still shadow future copies of the same content) to the
   parquet band store and the surviving doc ids to the output sink.

Scale notes (100 TB ingest):

- the store holds (band, bucket, doc_id, sig): N_BANDS rows x ~300 B
  per document ever seen — a few TB per trillion docs, parquet-
  partitionable by ``band`` so the per-batch probe join prunes to the
  incoming buckets;
- the probe is a (band, bucket) equi-join of the batch's bands against
  the store — O(batch x colliding buckets), never O(corpus);
- the MAX_BUCKET skew cap is applied to the store side per batch
  (degenerate boilerplate buckets stop producing candidates). Unlike
  batch x2 — which drops an over-cap bucket retroactively — a stream
  cannot retract pairs it emitted before a bucket crossed the cap:
  the cap here is PREFIX semantics, the honest ingest-time analogue.

Differential gate: tests/test_streaming_neardup.py streams the fixture
corpus in id-ordered micro-batches and asserts the surviving set equals
the batch rule's (drop b for every fast-path pair a < b) exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    MAX_BUCKET,
    N_HASHES,
    _banded,
    lsh_candidate_pairs,
    minhash_signatures_fast,
)
from ..sources.catalog import local_frame

__all__ = ["neardup_ingest", "start_neardup_ingest"]


def _est(sig_a, sig_b):
    return (
        F.size(
            F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m)
        )
        / F.lit(N_HASHES)
    ).alias("jaccard_est")


def neardup_ingest(
    spark: SparkSession,
    batch_df: DataFrame,
    store_dir: str,
    out_dir: str,
    batch_id: int | None = None,
) -> None:
    """Process ONE micro-batch of (doc_id, text) documents.

    Exposed separately from the stream wiring so the logic is testable
    batch-by-batch and reusable from any orchestration (foreachBatch,
    a scheduler-driven incremental job, a backfill loop).
    """
    sig = minhash_signatures_fast(batch_df, "doc_id", "text").persist()
    bands = _banded(sig, "doc_id")

    # --- cross-batch drops: probe the accumulated store ---------------
    try:
        store = spark.read.parquet(store_dir)
        have_store = True
    except Exception:
        have_store = False
    if have_store:
        # per-batch skew cap on the store side (prefix semantics).
        ok = (
            store.groupBy("band", "bucket")
            .count()
            .filter(F.col("count") <= MAX_BUCKET)
            .select("band", "bucket")
        )
        capped = store.join(ok, ["band", "bucket"])
        cross = (
            bands.select("doc_id", "sig", "band", "bucket")
            .join(
                capped.select(
                    F.col("doc_id").alias("old_id"),
                    F.col("sig").alias("old_sig"),
                    "band",
                    "bucket",
                ),
                ["band", "bucket"],
            )
            .select("doc_id", _est(F.col("sig"), F.col("old_sig")))
            .filter(F.col("jaccard_est") >= 0.5)
            .select("doc_id")
            .distinct()
        )
    else:
        cross = local_frame(spark, [], "doc_id bigint")

    # --- in-batch drops: lower-id wins (arrival order within batch) ---
    inbatch = (
        lsh_candidate_pairs(sig, "doc_id")
        .select("id_b", _est(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("jaccard_est") >= 0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )

    dropped = cross.union(inbatch).distinct()
    kept = batch_df.select("doc_id").join(dropped, "doc_id", "left_anti")

    # --- sinks: append-only store + survivors -------------------------
    # Survivors land in a per-batch subdirectory written with
    # mode=overwrite: a restarted batch REPLACES its own output instead
    # of appending a duplicate (the foreachBatch idempotency recipe —
    # same as events.write_tumbling_counts_idempotent). The band store
    # is append-only; a crash between the two writes re-appends band
    # rows on replay, which widens a bucket's count but never creates
    # false pairs (equal ids are filtered by id_a < id_b).
    dst = (
        os.path.join(out_dir, f"batch_id={batch_id}")
        if batch_id is not None
        else out_dir
    )
    kept.write.mode("overwrite" if batch_id is not None else "append").parquet(
        dst
    )
    bands.select("band", "bucket", "doc_id", "sig").write.mode(
        "append"
    ).parquet(store_dir)
    sig.unpersist()


def start_neardup_ingest(
    spark: SparkSession,
    docs_stream: DataFrame,
    workdir: str,
    trigger_available_now: bool = True,
):
    """Wire :func:`neardup_ingest` as a foreachBatch streaming query.

    ``workdir`` gets three subdirs: ``store`` (band store), ``kept``
    (survivor ids), ``ckpt`` (checkpoint — exactly-once batch ids, so a
    restart re-runs at most the in-flight batch).
    """
    store = os.path.join(workdir, "store")
    kept = os.path.join(workdir, "kept")
    ckpt = os.path.join(workdir, "ckpt")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        neardup_ingest(spark, batch_df, store, kept, batch_id=batch_id)

    w = (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
