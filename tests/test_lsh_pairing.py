"""Property gate for the r5 LSH pairing reshape (dedup.lsh_candidate_pairs).

The collect_list + in-bucket pair generation must emit EXACTLY the pair
set the previous self-join formulation emitted: all (id_a < id_b) pairs
sharing at least one (band, bucket), excluding members of buckets wider
than MAX_BUCKET. The reference here is an independent brute-force over
the banded frame computed with plain DataFrame ops — no shared code
path with the production pairing beyond ``_banded`` itself.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ask_duckdb_spark.operators.dedup import (
    MAX_BUCKET,
    _banded,
    _jaccard_filtered,
    _neardup_pairs_from_signatures,
    lsh_candidate_pairs,
    minhash_signatures,
)
from tests.conftest import SF_DIR


def _reference_pairs(sig, id_col: str):
    """Self-join reference: the pre-r5 formulation, kept as the oracle."""
    bands = _banded(sig, id_col)
    counts = bands.groupBy("band", "bucket").count().filter(
        F.col("count") <= MAX_BUCKET
    )
    kept = bands.join(counts.select("band", "bucket"), ["band", "bucket"])
    a = kept.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"),
        "band", "bucket",
    )
    b = kept.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"),
        "band", "bucket",
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "sig_a", "sig_b")
    )


def _corpus(spark, seed: int, n_docs: int):
    """Random corpus with deliberate near-dup structure: base texts plus
    mutated copies (word dropped / appended), plus boilerplate clones to
    exercise the MAX_BUCKET path when n_docs is large enough."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    doc_id = 0
    while doc_id < n_docs:
        base = [rng.choice(vocab) for _ in range(rng.randint(6, 18))]
        rows.append((doc_id, " ".join(base)))
        doc_id += 1
        if doc_id < n_docs and rng.random() < 0.5:  # near-dup copy
            mut = list(base)
            if rng.random() < 0.5 and len(mut) > 6:
                mut.pop(rng.randrange(len(mut)))
            else:
                mut.append(rng.choice(vocab))
            rows.append((doc_id, " ".join(mut)))
            doc_id += 1
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pairing_matches_selfjoin_reference(spark):
    for seed in (7, 23, 91):
        docs = _corpus(spark, seed, 120)
        sig = minhash_signatures(docs, "doc_id", "text").persist()
        got = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(sig, "doc_id").collect()
        }
        want = {
            (r.id_a, r.id_b)
            for r in _reference_pairs(sig, "doc_id").collect()
        }
        sig.unpersist()
        assert got == want, f"seed {seed}: {got ^ want}"
        assert want, f"seed {seed}: vacuous reference pair set"


def test_pairing_drops_degenerate_buckets(spark):
    # 200 identical docs -> every band bucket has 200 members, all
    # above MAX_BUCKET: the pair set must be EMPTY (skew guard), and
    # must come back once the clone count is within the cap.
    clones = spark.createDataFrame(
        [(i, "the same boilerplate text repeated") for i in range(200)],
        ["doc_id", "text"],
    )
    sig = minhash_signatures(clones, "doc_id", "text").persist()
    assert lsh_candidate_pairs(sig, "doc_id").count() == 0
    sig.unpersist()

    few = spark.createDataFrame(
        [(i, "the same boilerplate text repeated") for i in range(5)],
        ["doc_id", "text"],
    )
    sig2 = minhash_signatures(few, "doc_id", "text").persist()
    assert lsh_candidate_pairs(sig2, "doc_id").count() == 10  # C(5,2)
    sig2.unpersist()


def test_x2_est_early_path_matches_sig_carrying_path(spark):
    """x2's r13 pair path (estimate computed inside the pair lambda,
    scalar-only dedup) must produce exactly the rows of the reference
    sig-carrying path (lsh_candidate_pairs -> zip_with estimate)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    sig = minhash_signatures(docs, "doc_id", "text").persist()
    try:
        got = {
            (r.id_a, r.id_b, r.jaccard_est)
            for r in _neardup_pairs_from_signatures(sig).collect()
        }
        want = {
            (r.id_a, r.id_b, r.jaccard_est)
            for r in _jaccard_filtered(
                lsh_candidate_pairs(sig, "doc_id")
            ).collect()
        }
    finally:
        sig.unpersist()
    assert got == want
    assert want, "vacuous pair set"
