"""Semantic gates for the round-5 continuation operators x74-x79.

All six carry full value-hashed DuckDB oracles (scripts/diffcheck.py);
these tests pin the invariants oracle equality can't see, on hand-built
inputs where the right answer is known by construction: x74's confusion
counts must be internally consistent and perfect on an exact-duplicate
corpus, x75 must pick the planted nearest same/other-label vectors,
x76 must rank by term presence with BM25's saturation, x77 must
reproduce a hand-computed OLS slope, and x78/x79 must partition /
accumulate the real fixture exactly.
"""

from __future__ import annotations

import math

import pytest

from ask_duckdb_spark.operators import QUERIES
from tests.conftest import SF_DIR, SF_DIR_001


def _write_documents(spark, tmpdir: str, rows: list[tuple[int, str, str]]):
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmpdir}/documents.parquet"
    )


# ---------------------------------------------------------------------------
# x74 — sketch eval confusion counts
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dup_corpus(spark, tmp_path_factory):
    """Docs 0/1 byte-identical (exact Jaccard 1.0 -> truth AND sketch
    must pair them); docs 2/3 share no vocabulary with anything."""
    dup = " ".join(f"w{i % 7} common{i % 5}" for i in range(30))
    rows = [
        (0, dup, "srcA"),
        (1, dup, "srcA"),
        (2, " ".join(f"x{i}" for i in range(30)), "srcA"),
        (3, " ".join(f"y{i}" for i in range(30)), "srcA"),
    ]
    d = tmp_path_factory.mktemp("x74corpus")
    _write_documents(spark, str(d), rows)
    return str(d)


def test_x74_perfect_on_exact_duplicates(spark, dup_corpus):
    row = QUERIES["x74_neardup_eval"](spark, dup_corpus).collect()[0]
    assert (row.n_pred, row.n_truth) == (1, 1)
    assert (row.tp, row.fp, row.fn) == (1, 0, 0)
    assert row.precision == 1.0 and row.recall == 1.0


def test_x74_counts_consistent_on_fixture(spark):
    row = QUERIES["x74_neardup_eval"](spark, SF_DIR_001).collect()[0]
    assert row.tp + row.fp == row.n_pred
    assert row.tp + row.fn == row.n_truth
    assert 0.0 <= row.precision <= 1.0 and 0.0 <= row.recall <= 1.0


# ---------------------------------------------------------------------------
# x75 — hard-negative mining
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def triplet_corpus(spark, tmp_path_factory):
    """Anchor 0 (label 0). Planted: id 30 = near-identical SAME label
    (hardest positive), id 40 = near-identical OTHER label (hardest
    negative); ids 31/41 are remote members of each class."""

    def vec(a, b):
        return [float(a), float(b), 0.0, 0.0]

    rows = [
        (0, vec(1.0, 0.0), 0),
        (30, vec(0.99, 0.14), 0),   # cos ~0.990
        (31, vec(0.0, 1.0), 0),     # cos 0
        (40, vec(0.999, 0.045), 1), # cos ~0.999 — the hard negative
        (41, vec(-1.0, 0.0), 1),    # cos -1
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tmp_path_factory.mktemp("x75corpus")
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{d}/embeddings.parquet"
    )
    return str(d)


def test_x75_picks_planted_extremes(spark, triplet_corpus):
    out = {
        r.anchor_id: r
        for r in QUERIES["x75_hard_negatives"](spark, triplet_corpus).collect()
    }
    a = out[0]
    assert a.pos_id == 30 and a.neg_id == 40
    # the planted negative is CLOSER than the positive: negative margin
    assert a.margin < 0
    assert a.margin == pytest.approx(a.pos_sim - a.neg_sim, abs=2e-6)


def test_x75_fixture_invariants(spark):
    rows = QUERIES["x75_hard_negatives"](spark, SF_DIR_001).collect()
    assert len(rows) == 20  # one triplet per anchor
    for r in rows:
        assert r.pos_id != r.anchor_id and r.neg_id != r.anchor_id
        assert -1.0 <= r.pos_sim <= 1.0 and -1.0 <= r.neg_sim <= 1.0


# ---------------------------------------------------------------------------
# x76 — BM25
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bm25_corpus(spark, tmp_path_factory):
    """Doc 0 carries all three query terms, doc 1 one term, doc 2 none;
    docs 3+ are filler so idf is meaningful."""
    rows = [
        (0, "vector customer spark vector pad pad pad pad", "srcA"),
        (1, "customer pad pad pad pad pad pad pad", "srcA"),
        (2, "pad pad pad pad pad pad pad pad", "srcA"),
    ] + [
        (3 + i, f"filler{i} pad pad pad pad pad pad pad", "srcA")
        for i in range(7)
    ]
    d = tmp_path_factory.mktemp("x76corpus")
    _write_documents(spark, str(d), rows)
    return str(d)


def test_x76_ranks_by_term_coverage(spark, bm25_corpus):
    rows = QUERIES["x76_bm25_topk"](spark, bm25_corpus).collect()
    ids = [r.doc_id for r in rows]
    # only docs containing >=1 query term score at all
    assert set(ids) == {0, 1}
    assert ids[0] == 0  # full-coverage doc wins
    assert rows[0].bm25 > rows[1].bm25 > 0


def test_x76_fixture_topk_shape(spark):
    rows = QUERIES["x76_bm25_topk"](spark, SF_DIR_001).collect()
    assert len(rows) == 10
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# x77 — Zipf slope
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def zipf_corpus(spark, tmp_path_factory):
    """Exact frequencies a:8 b:4 c:2 d:1 — OLS slope computable by hand."""
    text = " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"])
    d = tmp_path_factory.mktemp("x77corpus")
    _write_documents(spark, str(d), [(0, text, "srcA")])
    return str(d)


def test_x77_matches_hand_ols(spark, zipf_corpus):
    row = QUERIES["x77_zipf_slope"](spark, zipf_corpus).collect()[0]
    assert row.n_terms == 4
    xs = [math.log(r) for r in (1, 2, 3, 4)]
    ys = [math.log(f) for f in (8, 4, 2, 1)]
    mx, my = sum(xs) / 4, sum(ys) / 4
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    assert row.zipf_slope == pytest.approx(round(slope, 4), abs=1e-4)
    assert row.zipf_slope < 0


# ---------------------------------------------------------------------------
# x78 — curriculum bins
# ---------------------------------------------------------------------------


def test_x78_partitions_fixture_exactly(spark):
    rows = sorted(
        QUERIES["x78_curriculum_bins"](spark, SF_DIR).collect(),
        key=lambda r: r.bin,
    )
    assert [r.bin for r in rows] == list(range(1, 11))
    assert sum(r.n_docs == 50 for r in rows) == 10  # 500 docs, even ntile
    for prev, cur in zip(rows, rows[1:]):
        assert cur.min_score >= prev.max_score  # deciles are ordered
        assert prev.min_score <= prev.avg_score <= prev.max_score


# ---------------------------------------------------------------------------
# x79 — vocabulary growth
# ---------------------------------------------------------------------------


def test_x79_monotone_and_exact_tail(spark):
    from pyspark.sql import functions as F

    from ask_duckdb_spark.functions.text import tokens
    from ask_duckdb_spark.sources.catalog import load_table

    rows = sorted(
        QUERIES["x79_vocab_growth"](spark, SF_DIR).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    assert [r.docs_processed for r in rows] == [50 * k for k in range(1, 11)]
    sizes = [r.vocab_size for r in rows]
    assert sizes == sorted(sizes)
    full_vocab = (
        load_table(spark, SF_DIR, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("t"))
        .agg(F.countDistinct("t"))
        .collect()[0][0]
    )
    assert sizes[-1] == full_vocab


# ---------------------------------------------------------------------------
# x80 — star-contraction connected components
# ---------------------------------------------------------------------------


def test_x80_equals_x29_min_label(spark):
    """Both CC algorithms must produce identical (doc_id, cluster)
    assignments on the fixture near-dup graph."""
    star = sorted(
        map(tuple, QUERIES["x80_cc_star"](spark, SF_DIR_001).collect())
    )
    prop = sorted(
        map(tuple, QUERIES["x29_dedup_clusters"](spark, SF_DIR_001).collect())
    )
    assert star == prop


def test_x80_chain_component(spark, tmp_path_factory):
    """A 4-doc chain a~b~c~d (adjacent overlap only) must collapse to
    ONE cluster labeled by the minimum doc id — the diameter-3 case
    star contraction exists for."""
    base = [f"tok{i}" for i in range(30)]
    rows = []
    for i in range(4):
        # 10-token sliding overlap between consecutive docs
        rows.append((i, " ".join(base[i * 5 : i * 5 + 20]), "srcA"))
    d = tmp_path_factory.mktemp("x80chain")
    _write_documents(spark, str(d), rows)
    out = QUERIES["x80_cc_star"](spark, str(d)).collect()
    clusters = {r.doc_id: r.cluster for r in out}
    # every doc that appears must map to cluster 0 (transitive closure)
    assert set(clusters.values()) <= {0}


# ---------------------------------------------------------------------------
# x81 — token-budget selection
# ---------------------------------------------------------------------------


def test_x81_budget_respected_and_maximal(spark):
    from pyspark.sql import functions as F

    from ask_duckdb_spark.functions.text import tokens
    from ask_duckdb_spark.sources.catalog import load_table

    rows = QUERIES["x81_token_budget_select"](spark, SF_DIR).collect()
    total = (
        load_table(spark, SF_DIR, "documents")
        .select(F.size(tokens(F.col("text"))).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    budget = total // 2
    assert rows, "selection must be non-empty"
    assert rows[-1].cum_tokens <= budget
    # greedy prefix: every kept doc's cum is its predecessors' + itself
    running = 0
    for r in rows:
        running += r.n_tokens
        assert r.cum_tokens == running
    # scores non-increasing in selection order
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# x82 — per-source dataset card
# ---------------------------------------------------------------------------


def test_x82_card_covers_corpus(spark):
    rows = QUERIES["x82_source_card"](spark, SF_DIR).collect()
    assert len(rows) == 20  # fixture has 20 sources
    assert sum(r.n_docs for r in rows) == 500
    for r in rows:
        assert 0.0 <= r.quality_ok_rate <= 1.0
        assert 0.0 <= r.dup_ratio < 1.0
        assert r.n_distinct_texts <= r.n_docs
        assert r.min_tokens <= r.max_tokens
        assert r.total_tokens >= r.n_docs * r.min_tokens


# ---------------------------------------------------------------------------
# x83 — cutoff-histogram budget selection (x81's scale path)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# x84 — truncation recall
# ---------------------------------------------------------------------------


def test_x84_recall_bounds_and_selfconsistency(spark):
    rows = QUERIES["x84_truncation_recall"](spark, SF_DIR_001).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_overlap <= 10
        assert r.recall == pytest.approx(r.n_overlap / 10, abs=1e-9)


def test_x84_full_width_truncation_is_identity(spark, tmp_path_factory):
    """If every embedding's tail is zero, the 16-dim prefix ranking
    equals the full ranking — recall must be exactly 1.0."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)] + [0.0] * 48, i % 3)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = tmp_path_factory.mktemp("x84zero")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = QUERIES["x84_truncation_recall"](spark, str(d)).collect()
    assert all(r.recall == 1.0 for r in out)


# ---------------------------------------------------------------------------
# x85 — cluster canonicalization
# ---------------------------------------------------------------------------


def test_x85_one_keeper_per_cluster(spark):
    rows = QUERIES["x85_cluster_keep_best"](spark, SF_DIR_001).collect()
    assert len(rows) == 500  # full-corpus manifest
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append(r)
    for members in by_cluster.values():
        assert sum(m.kept for m in members) == 1
    # kept count = number of clusters = dedup survivor count
    assert sum(r.kept for r in rows) == len(by_cluster)


# ---------------------------------------------------------------------------
# x86 — novelty ratio
# ---------------------------------------------------------------------------


def test_x86_novelty_known_by_construction(spark, tmp_path_factory):
    """Doc 0: all-new. Doc 1: byte-copy of doc 0 -> novelty 0. Doc 2:
    first half repeats doc 0, second half is fresh."""
    a = " ".join(f"a{i}" for i in range(24))
    fresh = " ".join(f"z{i}" for i in range(24))
    rows = [
        (0, a, "srcA"),
        (1, a, "srcA"),
        (2, " ".join(a.split()[:12]) + " " + fresh, "srcA"),
        (3, " ".join(f"u{i}" for i in range(24)), "srcA"),
    ]
    d = tmp_path_factory.mktemp("x86corpus")
    _write_documents(spark, str(d), rows)
    out = {
        r.doc_id: r
        for r in QUERIES["x86_novelty_ratio"](spark, str(d)).collect()
    }
    assert out[0].novelty_ratio == 1.0  # first doc is all novel
    assert out[1].novelty_ratio == 0.0  # exact copy adds nothing
    assert 0.0 < out[2].novelty_ratio < 1.0  # mixed
    assert out[3].novelty_ratio == 1.0  # disjoint vocabulary
    # window accounting: doc 2 has 25 distinct windows (37 tokens)
    assert out[2].n_novel < out[2].n_distinct_windows


# ---------------------------------------------------------------------------
# x87 — ANN recall eval
# ---------------------------------------------------------------------------


def test_x87_recall_bounds_and_floor(spark):
    rows = QUERIES["x87_ann_recall_eval"](spark, SF_DIR_001).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_overlap <= 10
        assert r.recall == pytest.approx(r.n_overlap / 10, abs=1e-9)
    # same banding geometry x6's recall gate holds >= 0.8 for on the
    # fixture query; the 10-probe mean should clear the same bar
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert mean_recall >= 0.8


def test_x88_source_rollup_consistent_with_x86(spark):
    per_doc = QUERIES["x86_novelty_ratio"](spark, SF_DIR_001).collect()
    rolled = QUERIES["x88_source_novelty"](spark, SF_DIR_001).collect()
    assert sum(r.n_docs for r in rolled) == len(per_doc)
    assert sum(r.n_novel for r in rolled) == sum(r.n_novel for r in per_doc)
    for r in rolled:
        assert 0.0 <= r.novelty_ratio <= 1.0


# ---------------------------------------------------------------------------
# x89 — hybrid RRF
# ---------------------------------------------------------------------------


def test_x89_fusion_arithmetic_and_query_exclusion(spark):
    rows = QUERIES["x89_hybrid_rrf"](spark, SF_DIR_001).collect()
    assert len(rows) == 10
    assert all(r.doc_id != 0 for r in rows)  # query doc excluded
    for r in rows:
        want = 0.0
        if r.text_rank is not None:
            want += 1.0 / (60 + r.text_rank)
        if r.vec_rank is not None:
            want += 1.0 / (60 + r.vec_rank)
        assert r.rrf == pytest.approx(round(want, 6), abs=1e-9)
        assert r.text_rank is not None or r.vec_rank is not None
    scores = [r.rrf for r in rows]
    assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# x90 — stratified budget selection
# ---------------------------------------------------------------------------


def test_x90_per_source_quota_respected(spark):
    from pyspark.sql import functions as F

    from ask_duckdb_spark.functions.text import tokens
    from ask_duckdb_spark.sources.catalog import load_table

    rows = QUERIES["x90_stratified_budget_select"](spark, SF_DIR).collect()
    totals = {
        r.source: r.total
        for r in load_table(spark, SF_DIR, "documents")
        .select("source", F.size(tokens(F.col("text"))).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src) == 20  # every source keeps something
    for src, members in by_src.items():
        budget = totals[src] // 2
        kept = sum(m.n_tokens for m in members)
        assert kept <= budget
        # within-source greedy prefix: cum matches the running sum
        members.sort(key=lambda m: m.cum_tokens)
        running = 0
        for m in members:
            running += m.n_tokens
            assert m.cum_tokens == running


# ---------------------------------------------------------------------------
# x91 — containment pairs
# ---------------------------------------------------------------------------


def test_x91_catches_excerpt_jaccard_misses(spark, tmp_path_factory):
    """A 10-token excerpt inside a 60-token page: containment 1.0, but
    word-5-shingle Jaccard ~ 0.1 — x2 must NOT pair them, x91 must."""
    page = " ".join(f"p{i}" for i in range(60))
    excerpt = " ".join(page.split()[20:30])
    rows = [(0, page, "srcA"), (1, excerpt, "srcA"),
            (2, " ".join(f"z{i}" for i in range(30)), "srcA")]
    d = tmp_path_factory.mktemp("x91corpus")
    _write_documents(spark, str(d), rows)
    pairs = QUERIES["x91_containment_pairs"](spark, str(d)).collect()
    spark.catalog.clearCache()
    assert any(
        p.contained_id == 1 and p.container_id == 0 and p.containment == 1.0
        for p in pairs
    )
    # directionality: the page is NOT contained in the excerpt
    assert not any(
        p.contained_id == 0 and p.container_id == 1 for p in pairs
    )
    x2 = QUERIES["x2_minhash_neardup"](spark, str(d)).collect()
    spark.catalog.clearCache()
    assert not any(
        {r.id_a, r.id_b} == {0, 1} for r in x2
    ), "Jaccard-based x2 should miss the asymmetric pair"


# ---------------------------------------------------------------------------
# x92 — source-calibrated quality
# ---------------------------------------------------------------------------


def test_x92_every_source_contributes_its_top_half(spark):
    rows = QUERIES["x92_source_calibrated_quality"](spark, SF_DIR).collect()
    assert len(rows) == 500
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, members in by_src.items():
        kept = [m for m in members if m.kept == 1]
        # 25 docs/source, percent_rank >= 0.5 keeps the top 13
        assert len(kept) == 13, src
        # kept docs are exactly the highest-scoring suffix (rank order)
        members.sort(key=lambda m: (m.score, m.doc_id))
        assert [m.kept for m in members] == [0] * 12 + [1] * 13


# ---------------------------------------------------------------------------
# x93 — mean integer surprisal (unigram-LM quality score)
# ---------------------------------------------------------------------------


def test_x93_hand_computed_surprisal(spark, tmp_path_factory):
    """Corpus: doc0='a a a a', doc1='a b'. N=6, c(a)=5, c(b)=1.
    surprisal(a) = len(bin(6//5))-1 = 0; surprisal(b) = len(bin(6))-1
    = 2 (floor(log2 6)). So doc0 mean=0.0, doc1 mean=(0+2)/2=1.0."""
    d = tmp_path_factory.mktemp("x93corpus")
    _write_documents(
        spark, str(d), [(0, "a a a a", "s"), (1, "a b", "s")]
    )
    rows = {
        r.doc_id: r
        for r in QUERIES["x93_mean_surprisal"](spark, str(d)).collect()
    }
    assert rows[0].n_tokens == 4
    assert rows[0].sum_surprisal == 0
    assert rows[0].mean_surprisal == 0.0
    assert rows[1].n_tokens == 2
    assert rows[1].sum_surprisal == 2
    assert rows[1].mean_surprisal == 1.0


def test_x93_rare_vocab_scores_higher(spark):
    """On the real fixture, a doc made of singleton tokens must out-
    score (higher surprisal) one made of the corpus's top tokens —
    directionality of the perplexity-proxy keep rule."""
    out = QUERIES["x93_mean_surprisal"](spark, SF_DIR_001).collect()
    assert len(out) > 0
    for r in out:
        assert r.n_tokens >= 1
        assert 0 <= r.sum_surprisal
        assert abs(r.mean_surprisal - r.sum_surprisal / r.n_tokens) < 1e-6


# ---------------------------------------------------------------------------
# x94 — retention cohorts; x95 — Good-Turing vocabulary coverage
# ---------------------------------------------------------------------------


def test_x94_offset_zero_diagonal_is_full(spark):
    """Every cohort's week_offset-0 cell must be retention 1.0 — a user
    is by definition active in their first week."""
    rows = QUERIES["x94_retention_cohorts"](spark, SF_DIR_001).collect()
    assert rows, "empty retention matrix"
    for r in rows:
        assert 0 <= r.week_offset
        assert 1 <= r.n_active <= r.cohort_size
        if r.week_offset == 0:
            assert r.n_active == r.cohort_size
            assert r.retention == 1.0


def test_x95_hand_computed_estimators(spark, tmp_path_factory):
    """Corpus 'a a b' + 'b c' (one source): counts a=2 b=2 c=1 ->
    N=5 V=3 f1=1 f2=2, coverage=0.8, chao1=3+1/(2*2)=3.25."""
    d = tmp_path_factory.mktemp("x95corpus")
    _write_documents(spark, str(d), [(0, "a a b", "s"), (1, "b c", "s")])
    [r] = QUERIES["x95_vocab_coverage"](spark, str(d)).collect()
    assert (r.n_tokens, r.vocab, r.f1, r.f2) == (5, 3, 1, 2)
    assert r.coverage == 0.8
    assert r.chao1 == 3.25


# ---------------------------------------------------------------------------
# x96 — leakage-safe split
# ---------------------------------------------------------------------------


def test_x96_no_neardup_pair_straddles_splits(spark):
    """THE property x96 exists for: every x2 near-dup pair lands in one
    split (x34's doc-hash rule has no such guarantee)."""
    splits = {
        r.doc_id: r.split
        for r in QUERIES["x96_leakage_safe_split"](spark, SF_DIR_001).collect()
    }
    pairs = QUERIES["x2_minhash_neardup"](spark, SF_DIR_001).collect()
    assert pairs, "fixture has no near-dup pairs — vacuous"
    for p in pairs:
        assert splits[p.id_a] == splits[p.id_b], (p.id_a, p.id_b)
    spark.catalog.clearCache()  # x2 persists signatures


def test_x96_members_share_cluster_split_and_singletons_match_x34(spark):
    rows = QUERIES["x96_leakage_safe_split"](spark, SF_DIR_001).collect()
    by_cluster: dict[int, set] = {}
    singleton_rule_checked = 0
    for r in rows:
        by_cluster.setdefault(r.cluster, set()).add(r.split)
        if r.cluster == r.doc_id:
            # same arithmetic as x34's per-doc rule
            h = (r.doc_id * 2654435761) % 4294967296
            want = (
                "train"
                if h < int(0.8 * 4294967296)
                else ("val" if h < int(0.9 * 4294967296) else "test")
            )
            assert r.split == want
            singleton_rule_checked += 1
    assert all(len(s) == 1 for s in by_cluster.values())
    assert singleton_rule_checked > 0
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# x97 — watermark late-data audit; x98 — mixture deficiency planner
# ---------------------------------------------------------------------------


def test_x97_hand_built_late_event(spark, tmp_path_factory):
    """Arrival order id 0,1,2 with ts t0, t0+1h, t0: the third event
    trails the running max by 3600s > 600s delay -> exactly 1 late."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_700_000_000_000_000
    rows = [
        (0, base, 1, "click", 1.0, "{}"),
        (1, base + 3_600_000_000, 1, "click", 1.0, "{}"),
        (2, base, 2, "click", 1.0, "{}"),
        (3, base, 3, "view", 1.0, "{}"),  # sole view: never late
    ]
    d = str(tmp_path_factory.mktemp("x97events"))
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    out = {
        r.event_type: r
        for r in QUERIES["x97_late_event_audit"](spark, d).collect()
    }
    assert out["click"].n_events == 3 and out["click"].n_late == 1
    assert out["view"].n_late == 0  # first arrival is never late


def test_x97_fixture_is_time_ordered(spark):
    """The synthetic ingest is ts-ordered -> zero late events at any
    positive delay; this pins the diagnostic reading, and guards the
    fixture assumption the docstring states."""
    for r in QUERIES["x97_late_event_audit"](spark, SF_DIR_001).collect():
        assert r.n_late == 0 and r.late_ratio == 0.0


def test_x98_planner_invariants_and_boundary(spark):
    rows = QUERIES["x98_mixture_deficiency"](spark, SF_DIR).collect()
    assert len(rows) == 20
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    n_def = sum(r.deficient for r in rows)
    assert 0 < n_def < len(rows)  # both branches exercised at sf0.01
    for r in rows:
        assert r.deficient == (1 if r.needed_tokens > r.n_tokens else 0)
        assert r.epochs == pytest.approx(
            round(r.needed_tokens / r.n_tokens, 6), abs=1e-9
        )
        # alpha<1 up-weights small sources: epochs ordering follows
        # inverse token mass (checked pairwise on the extremes)
    small = min(rows, key=lambda r: r.n_tokens)
    big = max(rows, key=lambda r: r.n_tokens)
    assert small.epochs > big.epochs


# ---------------------------------------------------------------------------
# x99 — near-dup source attribution
# ---------------------------------------------------------------------------


def test_x99_totals_match_x2_and_diagonal_separates(spark):
    """Sum over the matrix = |x2 pairs|; planted cross-source dup in a
    hand corpus lands off-diagonal, intra-source dup on the diagonal."""
    from pyspark.sql import functions as F

    rows = QUERIES["x99_dup_source_attribution"](spark, SF_DIR_001).collect()
    n_pairs_total = sum(r.n_pairs for r in rows)
    x2 = QUERIES["x2_minhash_neardup"](spark, SF_DIR_001).count()
    assert n_pairs_total == x2 > 0
    for r in rows:
        assert r.src_lo <= r.src_hi
    spark.catalog.clearCache()


def test_x99_hand_planted_attribution(spark, tmp_path_factory):
    base = " ".join(f"tok{i} word{i % 11} filler{i % 7}" for i in range(40))
    near = base + " extra"
    rows = [
        (0, base, "srcA"),
        (1, near, "srcB"),   # cross-source near-dup pair -> (A, B)
        (2, base + " pad", "srcA"),  # intra-source near-dup -> (A, A)
        (3, " ".join(f"z{i}" for i in range(40)), "srcC"),
    ]
    d = tmp_path_factory.mktemp("x99corpus")
    _write_documents(spark, str(d), rows)
    out = {
        (r.src_lo, r.src_hi): r.n_pairs
        for r in QUERIES["x99_dup_source_attribution"](spark, str(d)).collect()
    }
    assert out.get(("srcA", "srcB"), 0) >= 1   # cross-source mass
    assert out.get(("srcA", "srcA"), 0) >= 1   # diagonal mass
    assert ("srcC", "srcC") not in out
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# x100 — event-type transition matrix
# ---------------------------------------------------------------------------


def test_x100_hand_built_chain(spark, tmp_path_factory):
    """User 1: A->B->B; user 2: A->B. Transitions: A->B x2, B->B x1.
    Row A: p(B|A)=1.0; row B: p(B|B)=1.0."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_700_000_000_000_000
    rows = [
        (0, base + 0, 1, "A", 1.0, "{}"),
        (1, base + 1_000_000, 1, "B", 1.0, "{}"),
        (2, base + 2_000_000, 1, "B", 1.0, "{}"),
        (3, base + 0, 2, "A", 1.0, "{}"),
        (4, base + 5_000_000, 2, "B", 1.0, "{}"),
    ]
    d = str(tmp_path_factory.mktemp("x100events"))
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    out = {
        (r.from_type, r.to_type): r
        for r in QUERIES["x100_event_transitions"](spark, d).collect()
    }
    assert out[("A", "B")].n == 2 and out[("A", "B")].p == 1.0
    assert out[("B", "B")].n == 1 and out[("B", "B")].p == 1.0
    assert len(out) == 2


def test_x100_rows_normalize_and_mass_conserves(spark):
    rows = QUERIES["x100_event_transitions"](spark, SF_DIR_001).collect()
    assert rows
    by_from: dict[str, float] = {}
    total_n = 0
    for r in rows:
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.p
        total_n += r.n
    for src, s in by_from.items():
        assert abs(s - 1.0) < 1e-4, src
    # transitions = events - first event per user (150 users at sf0.001)
    from ask_duckdb_spark.sources.catalog import load_table

    e = load_table(spark, SF_DIR_001, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert total_n == n_events - n_users


# ---------------------------------------------------------------------------
# x101 — readability
# ---------------------------------------------------------------------------


def test_x101_hand_computed_flesch(spark, tmp_path_factory):
    """'go on. it is ok!' -> 2 sentence runs, 5 words, syllable runs:
    o,o,i,i,o = 5. flesch = 206.835 - 1.015*(5/2) - 84.6*(5/5)."""
    d = tmp_path_factory.mktemp("x101corpus")
    _write_documents(
        spark, str(d), [(0, "go on. it is ok!", "s"), (1, "bcdfgh", "s")]
    )
    rows = {
        r.doc_id: r
        for r in QUERIES["x101_readability"](spark, str(d)).collect()
    }
    r0 = rows[0]
    assert (r0.n_sent, r0.n_words, r0.n_syll) == (2, 5, 5)
    assert r0.flesch == round(206.835 - 1.015 * 2.5 - 84.6 * 1.0, 6)
    # consonant-only doc: 1 sentence floor, 1 word, 0 vowel runs
    r1 = rows[1]
    assert (r1.n_sent, r1.n_words, r1.n_syll) == (1, 1, 0)
    assert r1.flesch == round(206.835 - 1.015 * 1.0, 6)


def test_x101_orders_prose_above_runon(spark, tmp_path_factory):
    """Short punctuated prose must out-score an unpunctuated run-on of
    the same words — the ordering a readability filter relies on."""
    words = "it is a fine day to go out and see the sun"
    d = tmp_path_factory.mktemp("x101order")
    _write_documents(
        spark,
        str(d),
        [(0, words.replace(" day ", " day. ") + ".", "s"), (1, words * 3, "s")],
    )
    rows = {
        r.doc_id: r
        for r in QUERIES["x101_readability"](spark, str(d)).collect()
    }
    assert rows[0].flesch > rows[1].flesch


# ---------------------------------------------------------------------------
# x102 — journey surprisal
# ---------------------------------------------------------------------------


def test_x102_common_path_scores_zero_rare_path_positive(spark, tmp_path_factory):
    """3 users walk A->B; 1 user walks A->C. Row A total 4: surprisal
    (A->B) = floor(log2(4/3)) = 0, (A->C) = floor(log2(4/1)) = 2."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_700_000_000_000_000
    rows = []
    eid = 0
    for u in (1, 2, 3):
        rows += [(eid, base, u, "A", 1.0, "{}"), (eid + 1, base + 1_000_000, u, "B", 1.0, "{}")]
        eid += 2
    rows += [(eid, base, 4, "A", 1.0, "{}"), (eid + 1, base + 1_000_000, 4, "C", 1.0, "{}")]
    d = str(tmp_path_factory.mktemp("x102events"))
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    out = {
        r.user_id: r
        for r in QUERIES["x102_journey_surprisal"](spark, d).collect()
    }
    for u in (1, 2, 3):
        assert out[u].sum_surprisal == 0 and out[u].mean_surprisal == 0.0
    assert out[4].sum_surprisal == 2 and out[4].mean_surprisal == 2.0


def test_x102_covers_every_multi_event_user(spark):
    from ask_duckdb_spark.sources.catalog import load_table

    rows = QUERIES["x102_journey_surprisal"](spark, SF_DIR_001).collect()
    e = load_table(spark, SF_DIR_001, "events")
    multi = (
        e.groupBy("user_id").count().filter("count >= 2").count()
    )
    assert len(rows) == multi
    for r in rows:
        assert r.sum_surprisal >= 0 and r.n_trans >= 1


# ---------------------------------------------------------------------------
# x103 — single-pass column profiler
# ---------------------------------------------------------------------------


def test_x103_profile_matches_direct_queries(spark):
    from ask_duckdb_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, SF_DIR_001, "lineitem")
    rows = {r.col_name: r for r in QUERIES["x103_column_profile"](spark, SF_DIR_001).collect()}
    assert len(rows) == 11
    n = li.count()
    for r in rows.values():
        assert r.n_rows == n
        assert 0 <= r.n_null <= n
        assert 1 <= r.n_distinct <= n
        # exactly one min/max representation populated
        assert (r.min_num is None) == (r.max_num is None)
        assert (r.min_txt is None) == (r.max_txt is None)
        assert (r.min_num is None) != (r.min_txt is None)
    direct = li.agg(
        F.count_distinct("l_orderkey").alias("nd"),
        F.min("l_quantity").cast("double").alias("mn"),
        F.max("l_extendedprice").cast("double").alias("mx"),
    ).collect()[0]
    assert rows["l_orderkey"].n_distinct == direct.nd
    assert rows["l_quantity"].min_num == direct.mn
    assert rows["l_extendedprice"].max_num == direct.mx


def test_x103_column_pruned_scans_no_expand(spark):
    """The profiler's r14 selling point: no Expand (the pre-r14
    multi-count_distinct plan multiplied every row 13x into a wide-row
    SortAggregate), and each distinct count reads a SINGLE-COLUMN
    column-pruned scan — parquet being columnar, the per-column scans
    read the same total bytes the old one-scan form did."""
    import re

    from ask_duckdb_spark.operators.profile import PROFILE_COLS

    df = QUERIES["x103_column_profile"](spark, SF_DIR_001)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Expand" not in plan
    # one single-column scan per profiled column's distinct count
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    single_col = [s for s in schemas if s.count(":") == 1]
    assert len(single_col) >= len(PROFILE_COLS), schemas


# ---------------------------------------------------------------------------
# x104 — robust median/MAD outlier report
# ---------------------------------------------------------------------------


def test_x104_hand_computed_mad_and_outlier(spark, tmp_path_factory):
    """values 1..9 plus one 1000: med=5.5 -> with the outlier pulled
    in, check against numpy-computed median/MAD and the robust-z rule
    flags exactly the planted extreme."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    vals = [float(v) for v in range(1, 10)] + [1000.0]
    base = 1_700_000_000_000_000
    rows = [
        (i, base + i * 1_000_000, 1, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    d = str(tmp_path_factory.mktemp("x104events"))
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    [r] = QUERIES["x104_value_mad"](spark, d).collect()
    med = float(np.percentile(vals, 50))
    mad = float(np.percentile([abs(v - med) for v in vals], 50))
    assert r.med == round(med, 6)
    assert r.mad == round(mad, 6)
    assert r.n == 10
    assert r.n_outliers == 1  # only the planted 1000


def test_x104_fixture_consistency(spark):
    rows = QUERIES["x104_value_mad"](spark, SF_DIR_001).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.mad >= 0 and 0 <= r.n_outliers < r.n


# ---------------------------------------------------------------------------
# x105 — embedding drift monitor
# ---------------------------------------------------------------------------


def _write_embeddings_r5b(spark, tmpdir, rows):
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmpdir}/embeddings.parquet"
    )


def test_x105_identical_halves_report_zero_drift(spark, tmp_path_factory):
    """Even/odd ids carry the SAME two vectors -> mean vectors equal:
    cosine 1, l2 0, max shift 0."""
    va, vb = [1.0, 0.0, 2.0, -1.0], [0.0, 3.0, 1.0, 0.5]
    rows = [(0, va, 0), (1, va, 0), (2, vb, 0), (3, vb, 0)]
    d = tmp_path_factory.mktemp("x105same")
    _write_embeddings_r5b(spark, str(d), rows)
    [r] = QUERIES["x105_embedding_drift"](spark, str(d)).collect()
    assert (r.n_base, r.n_cur) == (2, 2)
    assert r.mean_cosine == 1.0
    assert r.mean_l2 == 0.0 and r.max_dim_shift == 0.0


def test_x105_orthogonal_halves_report_full_drift(spark, tmp_path_factory):
    """Baseline along e1, current along e2 -> mean cosine 0, and the
    shift is 1.0 in each of the two active dims."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0, 0.0], 0),
    ]
    d = tmp_path_factory.mktemp("x105orth")
    _write_embeddings_r5b(spark, str(d), rows)
    [r] = QUERIES["x105_embedding_drift"](spark, str(d)).collect()
    assert r.mean_cosine == 0.0
    assert r.max_dim_shift == 1.0
    assert r.mean_l2 == pytest.approx(2 ** 0.5, abs=1e-6)


def test_x105_fixture_sanity(spark):
    [r] = QUERIES["x105_embedding_drift"](spark, SF_DIR_001).collect()
    # random halves of one distribution: high cosine, modest shift
    assert r.n_base + r.n_cur > 0
    assert -1.0 <= r.mean_cosine <= 1.0
    assert r.mean_l2 >= 0 and r.max_dim_shift >= 0


# ---------------------------------------------------------------------------
# x106 — ANN tuning curve
# ---------------------------------------------------------------------------


def test_x106_curve_is_monotone_in_cost(spark):
    """Candidate volume must fall as band_bits rises (narrower
    buckets) — that is the cost law the curve exists to expose. Recall
    is only monotone in EXPECTATION (each width uses a different plane
    subset, so a narrower sweep point can get lucky per-instance), so
    the gate bounds it instead of ordering it."""
    rows = sorted(
        QUERIES["x106_ann_tuning_curve"](spark, SF_DIR_001).collect(),
        key=lambda r: r.band_bits,
    )
    assert [r.band_bits for r in rows] == [2, 3, 4]
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_candidates <= prev.n_candidates
    for r in rows:
        assert 0.0 <= r.recall10 <= 1.0
        assert r.n_candidates >= 0
    # at the widest setting the near-exhaustive scan must be near-exact
    assert rows[0].recall10 >= 0.9


# ---------------------------------------------------------------------------
# x107 — user EWMA
# ---------------------------------------------------------------------------


def test_x107_hand_computed_fold(spark, tmp_path_factory):
    """values 10, 0, 20 in time order, alpha 0.3:
    s = 10 -> 0.3*0 + 0.7*10 = 7 -> 0.3*20 + 0.7*7 = 10.9"""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_700_000_000_000_000
    rows = [
        (0, base, 1, "click", 10.0, "{}"),
        (1, base + 1_000_000, 1, "click", 0.0, "{}"),
        (2, base + 2_000_000, 1, "click", 20.0, "{}"),
    ]
    d = str(tmp_path_factory.mktemp("x107events"))
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    [r] = QUERIES["x107_user_ewma"](spark, d).collect()
    assert r.n_events == 3 and r.last_value == 20.0
    assert r.ewma == pytest.approx(10.9, abs=1e-9)


def test_x107_single_event_user_is_identity(spark):
    """EWMA of a length-1 sequence is the value itself; on the fixture
    every user row must satisfy bounds (min <= ewma <= max would need
    the series; check n>=1 and last_value finiteness instead)."""
    rows = QUERIES["x107_user_ewma"](spark, SF_DIR_001).collect()
    assert len(rows) == 150
    for r in rows:
        assert r.n_events >= 1
        if r.n_events == 1:
            assert r.ewma == r.last_value


# ---------------------------------------------------------------------------
# x108 — consistent-hash resharding audit
# ---------------------------------------------------------------------------


def test_x108_ring_moves_an_order_less_than_mod(spark):
    """THE claim: mod-N resharding moves ~1-1/9 of docs, the ring
    ~1/9. On 500 real keys the gap must be wide and the counts
    internally consistent."""
    [r] = QUERIES["x108_reshard_audit"](spark, SF_DIR_001).collect()
    assert r.n_docs == 500
    assert r.moved_mod + 0 <= r.n_docs and r.moved_ring <= r.n_docs
    assert r.frac_mod == round(r.moved_mod / r.n_docs, 6)
    assert r.frac_ring == round(r.moved_ring / r.n_docs, 6)
    # mod moves the vast majority; the ring moves a small minority
    assert r.frac_mod > 0.7
    assert r.frac_ring < 0.35
    assert r.frac_ring < r.frac_mod / 2


# ---------------------------------------------------------------------------
# x109/x110/x111 — session transitions, inter-arrival, conversion time
# ---------------------------------------------------------------------------


def test_x109_never_counts_more_than_x100(spark):
    """Dropping cross-session transitions can only REMOVE mass: every
    x109 cell must be <= its x100 cell, and total transitions strictly
    fewer whenever any user has >1 session (the fixture does)."""
    x100 = {
        (r.from_type, r.to_type): r.n
        for r in QUERIES["x100_event_transitions"](spark, SF_DIR_001).collect()
    }
    x109 = {
        (r.from_type, r.to_type): r.n
        for r in QUERIES["x109_session_transitions"](spark, SF_DIR_001).collect()
    }
    for cell, n in x109.items():
        assert n <= x100.get(cell, 0), cell
    assert sum(x109.values()) < sum(x100.values())


def test_x110_gap_percentiles_ordered(spark):
    rows = QUERIES["x110_interarrival_percentiles"](spark, SF_DIR_001).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_gaps > 0
        assert 0 <= r.p50_sec <= r.p90_sec


def test_x111_conversion_consistency(spark):
    [r] = QUERIES["x111_conversion_time"](spark, SF_DIR_001).collect()
    assert 0 < r.n_converted <= r.n_signup
    assert r.conversion_rate == round(r.n_converted / r.n_signup, 6)
    assert 0 < r.p50_sec <= r.p90_sec


# ---------------------------------------------------------------------------
# x112 — embedding norm audit; x113 — char entropy
# ---------------------------------------------------------------------------


def test_x112_norm_audit_with_planted_zero_vector(spark, tmp_path_factory):
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0], 0),          # zero vector
        (1, [3.0, 4.0, 0.0, 0.0], 0),          # norm 5
        (2, [1.0, 0.0, 0.0, 0.0], 0),          # norm 1
    ]
    d = tmp_path_factory.mktemp("x112emb")
    _write_embeddings_r5b(spark, str(d), rows)
    [r] = QUERIES["x112_norm_audit"](spark, str(d)).collect()
    assert (r.n_vecs, r.n_zero) == (3, 1)
    assert r.min_norm == 0.0 and r.max_norm == 5.0
    assert r.p50_norm == 1.0  # median of {0, 1, 5}


def test_x113_hand_computed_entropy(spark, tmp_path_factory):
    """'aabb' -> 2 bits? No: p=0.5 each -> H = 1.0 bit. 'aaaa' -> 0.
    'abcd' -> 2.0 bits (uniform over 4)."""
    d = tmp_path_factory.mktemp("x113corpus")
    _write_documents(
        spark, str(d),
        [(0, "aabb", "s"), (1, "aaaa", "s"), (2, "abcd", "s")],
    )
    out = {
        r.doc_id: r
        for r in QUERIES["x113_char_entropy"](spark, str(d)).collect()
    }
    assert out[0].entropy_bits == 1.0
    assert out[1].entropy_bits == 0.0
    assert out[2].entropy_bits == 2.0
    assert out[2].n_distinct == 4


def test_x113_bounds_on_fixture(spark):
    import math

    for r in QUERIES["x113_char_entropy"](spark, SF_DIR_001).collect():
        assert -1e-9 <= r.entropy_bits <= math.log2(r.n_distinct) + 1e-9


# ---------------------------------------------------------------------------
# x114 — referential-integrity audit
# ---------------------------------------------------------------------------


def test_x114_fixture_is_clean_and_counts_consistent(spark):
    rows = QUERIES["x114_fk_audit"](spark, SF_DIR_001).collect()
    assert len(rows) == 7
    for r in rows:
        assert r.n_orphans == 0, r.fk_edge   # fixtures are RI-clean
        assert r.n_null_keys == 0, r.fk_edge
        assert r.n_child > 0


def test_x114_detects_planted_orphan(spark, tmp_path_factory):
    """Copy the tiny tables, break one customer's nation key, and the
    audit must count exactly that orphan on exactly that edge."""
    import shutil

    src = SF_DIR_001
    d = str(tmp_path_factory.mktemp("x114fk"))
    for t in ("lineitem", "orders", "part", "supplier", "nation", "region"):
        shutil.copy(f"{src}/{t}.parquet", f"{d}/{t}.parquet")
    cust = spark.read.parquet(f"{src}/customer.parquet")
    from pyspark.sql import functions as F

    broken = cust.withColumn(
        "c_nationkey",
        F.when(F.col("c_custkey") == 1, F.lit(9999)).otherwise(
            F.col("c_nationkey")
        ),
    )
    broken.coalesce(1).write.parquet(f"{d}/customer.parquet")
    rows = {r.fk_edge: r for r in QUERIES["x114_fk_audit"](spark, d).collect()}
    assert rows["customer.c_nationkey -> nation.n_nationkey"].n_orphans == 1
    assert rows["orders.o_custkey -> customer.c_custkey"].n_orphans == 0
