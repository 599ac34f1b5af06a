"""Differential fuzzing: random corpora through Spark AND the oracle.

The fixed fixtures exercise one data distribution; these tests generate
adversarial miniature corpora (empty text, whitespace-only, unicode,
single-token docs, exact duplicates) with hypothesis and assert the
Spark result still matches the registered DuckDB oracle bit-exact —
scripts/diffcheck.py's per-entry check, applied to inputs nobody
hand-picked.

Ops under fuzz are the string-edge-sensitive ones whose oracles take no
table but ``documents``: token stats (x8), quality gate (x10),
normalized dedup (x35), novelty (x86), exact dedup (x1), fingerprint
(x12), Zipf slope (x77 — degenerate regressions: 1-term corpora).
Examples are small (<= 8 docs) and capped at 5 per op so the whole
file stays under a minute.

First catch (2026-08-14): x10's oracle returned NULL avg_tok_len on a
zero-token document (DuckDB list_aggregate over an empty list) where
Spark's array_join gives '' -> 0.0; fixed with coalesce in the oracle.
"""

from __future__ import annotations

import datetime
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import scripts.diffcheck as diffcheck
from ask_duckdb_spark.sources.catalog import duckdb_conn

# words mix ascii, unicode, digits and an empty-ish fragment; texts mix
# normal spacing with runs of whitespace
_WORD = st.sampled_from(
    [
        "the", "a", "naïve", "日本", "x1", "Mixed", "ß", "hash", "--", "0",
        # beyond-BMP emoji (UTF-16 surrogate pair), ZWJ sequence, and a
        # combining accent: pin codepoint-counting agreement (Spark 4
        # length() == DuckDB length() — verified 7/5/5 on these)
        "🚀", "👨‍👩‍👧", "éclair",
    ]
)
_TEXT = st.lists(_WORD, min_size=0, max_size=12).map(" ".join)
_DOC_TEXT = st.one_of(
    _TEXT,
    st.just(""),
    st.just("   "),
    st.just("\tone\ttab\t"),
    # \x0B (vertical tab) is THE whitespace char the engines' \s
    # dialects disagree on (Java includes it, RE2 does not). ADVICE r7
    # flagged that the fuzz alphabet never generated it; since the r8
    # explicit-class sweep (functions/text.WS_CLASS) both tokenizers
    # split on it identically — these fixtures exercise that closure.
    st.just("alpha\x0bbeta gamma"),
    st.just("\x0b\x0b"),
    st.just("mixed \x0b\ttab\x0band vt"),
)


@st.composite
def corpus(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    texts = [draw(_DOC_TEXT) for _ in range(n)]
    if n >= 2 and draw(st.booleans()):
        texts[1] = texts[0]  # plant an exact duplicate
    return texts


def _documents(texts: list[str]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["srcF"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _fuzz(spark, name: str, **tables: pa.Table) -> None:
    """Write ``tables`` as the fixture dir of one example and run
    ``name`` on Spark and its oracle on DuckDB over it, bit-exact."""
    with tempfile.TemporaryDirectory() as d:
        for t, tbl in tables.items():
            pq.write_table(tbl, os.path.join(d, f"{t}.parquet"))
        with duckdb_conn(d) as con:
            status, problems, _ = diffcheck.check(spark, con, name, d)
    assert status in ("PASS", "VACUOUS"), problems


#: Suite default 5 examples/op keeps the file under ~3 min; a deep
#: sweep (FUZZ_EXAMPLES=25+) runs the same tests harder out-of-band —
#: the r05 deep sweep is recorded in DIFFCHECK_r05.md.
_FUZZ_SETTINGS = settings(
    max_examples=int(os.environ.get("FUZZ_EXAMPLES", "5")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x8_token_stats(spark, texts):
    _fuzz(spark, "x8_token_stats", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x10_quality_score(spark, texts):
    _fuzz(spark, "x10_quality_score", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x35_dedup_normalized(spark, texts):
    _fuzz(spark, "x35_dedup_normalized", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x86_novelty_ratio(spark, texts):
    _fuzz(spark, "x86_novelty_ratio", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x1_dedup_exact(spark, texts):
    _fuzz(spark, "x1_dedup_exact", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x12_fingerprint(spark, texts):
    _fuzz(spark, "x12_fingerprint", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x77_zipf_slope(spark, texts):
    _fuzz(spark, "x77_zipf_slope", documents=_documents(texts))


# r7 hygiene family: doc 0 is always in the eval slice (0 % EVAL_MOD
# == 0), so the planted-duplicate branch of corpus() regularly creates
# REAL contamination when the duplicate is >= W_SPAN tokens; short,
# empty and unicode docs probe the strict-window and regex-class
# edges on both engines.
@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x133_eval_decontam(spark, texts):
    _fuzz(spark, "x133_eval_decontam", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x134_tokenizer_fertility(spark, texts):
    _fuzz(spark, "x134_tokenizer_fertility", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x135_charclass_audit(spark, texts):
    _fuzz(spark, "x135_charclass_audit", documents=_documents(texts))


# ---------------------------------------------------------------------------
# Embedding-op fuzz: degenerate vectors (zeros, duplicates, one-class
# label distributions) against the cosine-ranking oracles.
# ---------------------------------------------------------------------------

_COMPONENT = st.sampled_from([0.0, 1.0, -1.0, 0.5, 1e-3, 2.5])


@st.composite
def embeddings(draw):
    n = draw(st.integers(min_value=2, max_value=8))
    dim = 16
    vecs = []
    for i in range(n):
        if draw(st.booleans()) and i > 0:
            vecs.append(list(vecs[0][1]))  # planted duplicate vector
        else:
            vecs.append([draw(_COMPONENT) for _ in range(dim)])
        vecs[-1] = (i, vecs[-1])
    labels = [draw(st.integers(min_value=0, max_value=2)) for _ in range(n)]
    return [(i, v, l) for (i, v), l in zip(vecs, labels)]


def _embeddings(rows) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )


@_FUZZ_SETTINGS
@given(rows=embeddings())
def test_fuzz_x75_hard_negatives(spark, rows):
    _fuzz(spark, "x75_hard_negatives", embeddings=_embeddings(rows))


@_FUZZ_SETTINGS
@given(rows=embeddings())
def test_fuzz_x84_truncation_recall(spark, rows):
    _fuzz(spark, "x84_truncation_recall", embeddings=_embeddings(rows))


def test_zero_vector_corpus_x75_x84_match_oracle(spark):
    """Deterministic probe of the nastiest embedding edge: a zero
    vector (cosine undefined -> NULL/NaN ordering differences are a
    classic cross-engine divergence)."""
    rows = [
        (0, [1.0] + [0.0] * 15, 0),
        (1, [0.0] * 16, 0),          # zero vector, same label
        (2, [0.5] * 16, 1),
        (3, [-1.0] + [0.0] * 15, 1),
    ]
    _fuzz(spark, "x75_hard_negatives", embeddings=_embeddings(rows))
    _fuzz(spark, "x84_truncation_recall", embeddings=_embeddings(rows))


# ---------------------------------------------------------------------------
# Events-op fuzz: degenerate event streams (duplicate timestamps,
# single-event users, zero-variance values) against the windowed /
# regression oracles. x28b's slope was the driver's red row for two
# rounds — this is the edge-case net under its fix.
# ---------------------------------------------------------------------------

_TS_BASE = 1_700_000_000_000_000  # microseconds
_VALUE = st.sampled_from([0.0, 1.5, -2.5, 100.25, 1e6])


@st.composite
def events(draw):
    n = draw(st.integers(min_value=1, max_value=10))
    rows = []
    for i in range(n):
        user = draw(st.integers(min_value=1, max_value=3))
        # seconds offset; small ints force duplicate timestamps often
        off = draw(st.integers(min_value=0, max_value=5))
        rows.append(
            (
                i,
                _TS_BASE + off * 1_000_000,
                user,
                draw(st.sampled_from(["click", "view", "purchase"])),
                draw(_VALUE),
                "{}",
            )
        )
    return rows


def _events(rows) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [r[1] for r in rows], pa.timestamp("us")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x28b_user_value_trend(spark, rows):
    _fuzz(spark, "x28b_user_value_trend_sql", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x28_user_value_trend_pandas(spark, rows):
    # the grouped-map twin shares TREND_ORACLE: Python-int sufficient
    # statistics must be bit-identical to the SQL sides on any corpus
    _fuzz(spark, "x28_user_value_trend", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x13_sessionize(spark, rows):
    _fuzz(spark, "x13_sessionize", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x15_tumbling_window(spark, rows):
    _fuzz(spark, "x15_tumbling_window", events=_events(rows))


def test_short_doc_corpus_minhash_family_matches_oracle(spark):
    """Deterministic probe of the SHINGLE_K=5 boundary: documents with
    0/1/4/5 tokens (the degenerate single-padded-shingle cases) plus an
    exact duplicate pair, through the minhash pair set (x2) and the
    sketch evaluation built on it (x74)."""
    texts = [
        "",                       # 0 tokens
        "one",                    # 1 token
        "a b c d",                # 4 tokens — below shingle width
        "a b c d e",              # exactly SHINGLE_K
        "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",
        "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",   # duplicate of the above
    ]
    for name in ("x2_minhash_neardup", "x74_neardup_eval"):
        _fuzz(spark, name, documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x81_budget_select(spark, texts):
    _fuzz(spark, "x81_token_budget_select", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x83_budget_cutoff(spark, texts):
    _fuzz(spark, "x83_budget_select_cutoff", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x92_calibrated_quality(spark, texts):
    _fuzz(spark, "x92_source_calibrated_quality", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x93_mean_surprisal(spark, texts):
    _fuzz(spark, "x93_mean_surprisal", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x95_vocab_coverage(spark, texts):
    _fuzz(spark, "x95_vocab_coverage", documents=_documents(texts))


@st.composite
def spread_events(draw):
    """Day-scale offsets spanning ~7 weeks — forces multi-cohort,
    multi-offset retention matrices (the second-scale ``events()``
    strategy collapses x94 to a single cell)."""
    n = draw(st.integers(min_value=1, max_value=12))
    rows = []
    for i in range(n):
        user = draw(st.integers(min_value=1, max_value=4))
        off_days = draw(st.integers(min_value=0, max_value=45))
        rows.append(
            (
                i,
                _TS_BASE + off_days * 86_400_000_000,
                user,
                draw(st.sampled_from(["click", "view"])),
                1.0,
                "{}",
            )
        )
    return rows


@_FUZZ_SETTINGS
@given(rows=spread_events())
def test_fuzz_x94_retention_cohorts(spark, rows):
    _fuzz(spark, "x94_retention_cohorts", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=spread_events())
def test_fuzz_x97_late_event_audit(spark, rows):
    # day-scale random offsets against sequential event_ids =
    # heavily out-of-order arrival: the late branch actually fires
    # (the fixture is ts-ordered and reads all-zero).
    _fuzz(spark, "x97_late_event_audit", events=_events(rows))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x98_mixture_deficiency(spark, texts):
    _fuzz(spark, "x98_mixture_deficiency", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x100_event_transitions(spark, rows):
    # duplicate timestamps stress the (ts, event_id) tiebreak
    _fuzz(spark, "x100_event_transitions", events=_events(rows))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x101_readability(spark, texts):
    _fuzz(spark, "x101_readability", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x102_journey_surprisal(spark, rows):
    _fuzz(spark, "x102_journey_surprisal", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x104_value_mad(spark, rows):
    # tiny groups + duplicate values stress the interpolated median
    # and the MAD=0 degenerate branch
    _fuzz(spark, "x104_value_mad", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x107_user_ewma(spark, rows):
    # duplicate timestamps stress the fold-order tiebreak
    _fuzz(spark, "x107_user_ewma", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x109_session_transitions(spark, rows):
    _fuzz(spark, "x109_session_transitions", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=spread_events())
def test_fuzz_x110_interarrival(spark, rows):
    # day-scale gaps: non-trivial percentile inputs
    _fuzz(spark, "x110_interarrival_percentiles", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x111_conversion_time(spark, rows):
    # tiny corpora: often zero signups or zero conversions — the
    # NULL-percentile and rate-degenerate branches
    _fuzz(spark, "x111_conversion_time", events=_events(rows))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x113_char_entropy(spark, texts):
    # unicode corpora probe split('')/string_split('') agreement
    _fuzz(spark, "x113_char_entropy", documents=_documents(texts))


# ---------------------------------------------------------------------------
# Broad-coverage fuzz batch: every cheap documents-only oracle op that
# consumes raw text (the surface where tokenizer/split/regex edge
# semantics can diverge between engines). Heavy iterative ops (x2/x29/
# x80/x96 compositions) are exercised by their own dedicated tests.
# ---------------------------------------------------------------------------


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x9_top_terms(spark, texts):
    _fuzz(spark, "x9_top_terms", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x11_lang_id(spark, texts):
    _fuzz(spark, "x11_lang_id", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x21_token_count_bpe(spark, texts):
    _fuzz(spark, "x21_token_count_bpe", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x22_tfidf_top_term(spark, texts):
    _fuzz(spark, "x22_tfidf_top_term", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x23_hash_sample(spark, texts):
    _fuzz(spark, "x23_hash_sample", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x31_clean_corpus(spark, texts):
    _fuzz(spark, "x31_clean_corpus", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x34_train_val_test_split(spark, texts):
    _fuzz(spark, "x34_train_val_test_split", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x39_repetition_ratio(spark, texts):
    _fuzz(spark, "x39_repetition_ratio", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x45_pii_redaction(spark, texts):
    _fuzz(spark, "x45_pii_redaction", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x47_chunk_documents(spark, texts):
    _fuzz(spark, "x47_chunk_documents", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x48_char_diversity(spark, texts):
    _fuzz(spark, "x48_char_diversity_filter", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x50_length_outlier(spark, texts):
    _fuzz(spark, "x50_length_outlier_filter", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x57_bigram_rarity(spark, texts):
    _fuzz(spark, "x57_bigram_rarity", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x61_gopher_rules(spark, texts):
    _fuzz(spark, "x61_gopher_quality_rules", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x64_paragraph_dedup(spark, texts):
    _fuzz(spark, "x64_paragraph_dedup", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x79_vocab_growth(spark, texts):
    _fuzz(spark, "x79_vocab_growth", documents=_documents(texts))


# ---------------------------------------------------------------------------
# Events-op broad batch: windows, sessions, funnels, as-of joins and
# the forward-fill/running-sum window surface — duplicate timestamps
# and single-event users probe tiebreaks and empty frames.
# ---------------------------------------------------------------------------


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x14_session_window(spark, rows):
    _fuzz(spark, "x14_session_window", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x16_sliding_window(spark, rows):
    _fuzz(spark, "x16_sliding_window", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x17_session_stats(spark, rows):
    _fuzz(spark, "x17_session_stats", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x26_salted_user_totals(spark, rows):
    _fuzz(spark, "x26_salted_user_totals", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x52_funnel_stages(spark, rows):
    _fuzz(spark, "x52_funnel_stages", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_j9_asof_last_purchase(spark, rows):
    _fuzz(spark, "j9_asof_last_purchase", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_w2_running_sum(spark, rows):
    _fuzz(spark, "w2_running_sum", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_w8_forward_fill(spark, rows):
    _fuzz(spark, "w8_forward_fill", events=_events(rows))


# ---------------------------------------------------------------------------
# JSON-props fuzz: the events() strategy pins props='{}'; this one
# draws varied JSON shapes (missing keys, null values, arrays, nested
# objects, literal null) through the JSON-path operators — the surface
# where ->>/get_json_object semantics can diverge.
# ---------------------------------------------------------------------------

_PROPS = st.sampled_from(
    [
        "{}",
        '{"device": "mobile", "country": "US"}',
        '{"device": "desktop", "country": "DE"}',
        '{"device": "tablet"}',
        '{"tags": ["a", "b"]}',
        '{"tags": []}',
        '{"nested": {"k": 1}}',
        '{"country": null}',
    ]
)


@st.composite
def json_events(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                _TS_BASE + draw(st.integers(min_value=0, max_value=5)) * 1_000_000,
                draw(st.integers(min_value=1, max_value=3)),
                draw(st.sampled_from(["click", "view", "purchase"])),
                draw(_VALUE),
                draw(_PROPS),
            )
        )
    return rows


@_FUZZ_SETTINGS
@given(rows=json_events())
def test_fuzz_f2_json_extract(spark, rows):
    _fuzz(spark, "f2_json_extract", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=json_events())
def test_fuzz_f3_json_exists(spark, rows):
    _fuzz(spark, "f3_json_exists", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=json_events())
def test_fuzz_f4_json_text_like(spark, rows):
    _fuzz(spark, "f4_json_text_like", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=json_events())
def test_fuzz_f5_json_array_membership(spark, rows):
    _fuzz(spark, "f5_json_array_membership", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=json_events())
def test_fuzz_x18_props_schema_on_read(spark, rows):
    _fuzz(spark, "x18_props_schema_on_read", events=_events(rows))


# ---------------------------------------------------------------------------
# Dimension-agnostic embedding-op fuzz (the banded/projected family
# needs the fixture's 64 dims — its _band_keys guard raises on these
# 16-dim corpora by design, so only the fold-based ops fuzz here).
# ---------------------------------------------------------------------------


@_FUZZ_SETTINGS
@given(rows=embeddings())
def test_fuzz_x5_cosine_topk(spark, rows):
    _fuzz(spark, "x5_cosine_topk", embeddings=_embeddings(rows))


@_FUZZ_SETTINGS
@given(rows=embeddings())
def test_fuzz_x25_batch_ann_topk(spark, rows):
    _fuzz(spark, "x25_batch_ann_topk", embeddings=_embeddings(rows))


@_FUZZ_SETTINGS
@given(rows=embeddings())
def test_fuzz_x43_quantize_error(spark, rows):
    _fuzz(spark, "x43_quantize_error", embeddings=_embeddings(rows))


@_FUZZ_SETTINGS
@given(rows=embeddings())
def test_fuzz_x105_embedding_drift(spark, rows):
    _fuzz(spark, "x105_embedding_drift", embeddings=_embeddings(rows))


@_FUZZ_SETTINGS
@given(rows=embeddings())
def test_fuzz_x112_norm_audit(spark, rows):
    _fuzz(spark, "x112_norm_audit", embeddings=_embeddings(rows))


# ---------------------------------------------------------------------------
# NULL-value fuzz: events.value is nullable but every strategy above
# draws non-null — this one mixes NULLs in, probing aggregate NULL
# semantics (regr_slope pairs, percentile skipping, EWMA folds over
# sequences containing NULLs, MAD medians, forward-fill — the op
# DESIGNED for NULL runs).
# ---------------------------------------------------------------------------

_NVALUE = st.sampled_from([0.0, 1.5, -2.5, 100.25, None])


@st.composite
def null_events(draw):
    n = draw(st.integers(min_value=1, max_value=10))
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                _TS_BASE
                + draw(st.integers(min_value=0, max_value=5)) * 1_000_000,
                draw(st.integers(min_value=1, max_value=3)),
                draw(st.sampled_from(["click", "view"])),
                draw(_NVALUE),
                "{}",
            )
        )
    return rows


@_FUZZ_SETTINGS
@given(rows=null_events())
def test_fuzz_null_values_w8_forward_fill(spark, rows):
    _fuzz(spark, "w8_forward_fill", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=null_events())
def test_fuzz_null_values_x104_mad(spark, rows):
    _fuzz(spark, "x104_value_mad", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=null_events())
def test_fuzz_null_values_x28b_slope(spark, rows):
    _fuzz(spark, "x28b_user_value_trend_sql", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=null_events())
def test_fuzz_null_values_x13_sessionize(spark, rows):
    _fuzz(spark, "x13_sessionize", events=_events(rows))


@_FUZZ_SETTINGS
@given(rows=null_events())
def test_fuzz_null_values_x107_ewma(spark, rows):
    # Spark collect_list DROPS nulls; DuckDB list() KEEPS them — if
    # the two sides disagree on null handling the fold diverges
    _fuzz(spark, "x107_user_ewma", events=_events(rows))


# ---------------------------------------------------------------------------
# Calendar-edge fuzz: the date-arithmetic surface (d1-d5) over orders
# rows whose dates are drawn from the adversarial calendar set —
# month-ends, leap day, leap-year Feb 28, year boundaries. add_months
# clamping, last_day, epoch and strftime must agree on every one.
# ---------------------------------------------------------------------------

_EDGE_DATES = st.sampled_from(
    [
        "1994-01-31", "1996-02-29", "1995-02-28", "1993-12-31",
        "1994-11-30", "1995-03-31", "1994-01-01", "1995-06-15",
        "1992-02-29", "1999-12-31",
    ]
).map(datetime.datetime.fromisoformat)


@st.composite
def calendar_orders(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                draw(st.integers(min_value=1, max_value=50)),
                draw(st.sampled_from(["O", "F", "P"])),
                draw(st.sampled_from([10.0, 2500.5, 99999.99])),
                draw(_EDGE_DATES),
                draw(st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"])),
            )
        )
    return rows


def _orders(rows) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
            "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
            "o_orderdate": pa.array([r[4] for r in rows], pa.timestamp("us")),
            "o_orderpriority": pa.array([r[5] for r in rows], pa.string()),
        }
    )


@_FUZZ_SETTINGS
@given(rows=calendar_orders())
def test_fuzz_d1_date_trunc(spark, rows):
    _fuzz(spark, "d1_date_trunc", orders=_orders(rows))


@_FUZZ_SETTINGS
@given(rows=calendar_orders())
def test_fuzz_d2_extract_parts(spark, rows):
    _fuzz(spark, "d2_extract_parts", orders=_orders(rows))


@_FUZZ_SETTINGS
@given(rows=calendar_orders())
def test_fuzz_d3_date_arith(spark, rows):
    _fuzz(spark, "d3_date_arith", orders=_orders(rows))


@_FUZZ_SETTINGS
@given(rows=calendar_orders())
def test_fuzz_d4_format_epoch(spark, rows):
    _fuzz(spark, "d4_format_epoch", orders=_orders(rows))


@_FUZZ_SETTINGS
@given(rows=calendar_orders())
def test_fuzz_d5_month_arith(spark, rows):
    # Jan 31 + 3mo, Feb 29 + 3mo, Nov 30 + 3mo: clamping semantics
    _fuzz(spark, "d5_month_arith", orders=_orders(rows))


# ---------------------------------------------------------------------------
# orders-shaped fuzz: the layout/incremental family (x115/x119/x120/x122)
# ---------------------------------------------------------------------------

_ORD_TS_BASE = 852_076_800_000_000  # 1997-01-01 UTC in micros


@st.composite
def layout_orders(draw):
    keys = draw(
        st.lists(
            st.integers(min_value=0, max_value=250),
            min_size=1,
            max_size=12,
            unique=True,
        )
    )
    rows = []
    for k in keys:
        # day offsets straddle the CDC cutoffs (D1=1997-01-01 is the
        # base; negative offsets land in snapshot A's range)
        off_days = draw(st.integers(min_value=-200, max_value=560))
        cents = draw(st.integers(min_value=100, max_value=5_000_000))
        rows.append(
            (
                k,
                draw(st.integers(min_value=0, max_value=60)),
                draw(st.sampled_from(["O", "F"])),
                cents / 100.0,
                _ORD_TS_BASE + off_days * 86_400_000_000,
                draw(st.sampled_from(["1-URGENT", "3-MEDIUM"])),
            )
        )
    return rows


@_FUZZ_SETTINGS
@given(rows=layout_orders())
def test_fuzz_x115_snapshot_cdc(spark, rows):
    # keys hitting %97/%11 residues and dates straddling both cutoffs
    # exercise all four change kinds
    _fuzz(spark, "x115_snapshot_cdc_diff", orders=_orders(rows))


@_FUZZ_SETTINGS
@given(rows=layout_orders())
def test_fuzz_x119_zone_map_pruning(spark, rows):
    _fuzz(spark, "x119_zone_map_pruning", orders=_orders(rows))


@_FUZZ_SETTINGS
@given(rows=layout_orders())
def test_fuzz_x120_partial_agg_merge(spark, rows):
    _fuzz(spark, "x120_partial_agg_merge", orders=_orders(rows))


@_FUZZ_SETTINGS
@given(rows=layout_orders())
def test_fuzz_x122_compaction_plan(spark, rows):
    # single-file months and months far over the target both occur
    _fuzz(spark, "x122_compaction_plan", orders=_orders(rows))


@_FUZZ_SETTINGS
@given(rows=events())
def test_fuzz_x121_scd2_history(spark, rows):
    # the generator forces duplicate timestamps: the (ts, event_id) tie
    # break is exactly what this pins across engines
    _fuzz(spark, "x121_scd2_history", events=_events(rows))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x123_weighted_sample(spark, texts):
    # empty docs (n_chars=0) are filtered on both sides; priorities are
    # integer so the top-k tie-break (priority, doc_id) is total
    _fuzz(spark, "x123_weighted_sample", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(rows=layout_orders())
def test_fuzz_x124_affected_partitions(spark, rows):
    _fuzz(spark, "x124_affected_partitions", orders=_orders(rows))


# --- retrieval/audit family (r6): phrase words planted in the pool so
# matches actually occur; on corpora where x131's min-count floor
# filters everything, the empty frame is still compared on BOTH sides
from ask_duckdb_spark.operators.stats_audit import PHRASE  # noqa: E402

_PHRASE_WORD = st.sampled_from([*PHRASE, "the", "a", "naïve", "🚀"])
_PHRASE_TEXT = st.lists(_PHRASE_WORD, min_size=0, max_size=12).map(" ".join)


@st.composite
def phrase_corpus(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    texts = [draw(st.one_of(_PHRASE_TEXT, _DOC_TEXT)) for _ in range(n)]
    if n >= 2 and draw(st.booleans()):
        texts[1] = texts[0]
    return texts


@_FUZZ_SETTINGS
@given(texts=phrase_corpus())
def test_fuzz_x125_phrase_match(spark, texts):
    _fuzz(spark, "x125_phrase_match", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=phrase_corpus())
def test_fuzz_x129_phrase_postings(spark, texts):
    _fuzz(spark, "x129_phrase_postings", documents=_documents(texts))


@_FUZZ_SETTINGS
@given(texts=phrase_corpus())
def test_fuzz_x131_collocations(spark, texts):
    _fuzz(spark, "x131_collocations", documents=_documents(texts))


# --- audit-family fuzz over orders (x126 FD audit, x130 Benford):
# prices drawn across first-digit space (incl. sub-1 and boundary
# values), keys drawn tiny so FD violations and holds both occur
@st.composite
def audit_orders(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    rows = []
    for i in range(n):
        rows.append(
            (
                i,  # o_orderkey unique -> the key FD must always hold
                draw(st.integers(min_value=1, max_value=3)),
                draw(st.sampled_from(["O", "F", "P"])),
                draw(
                    st.sampled_from(
                        [1.0, 9.99, 10.0, 88.8, 123.45, 2500.5,
                         99999.99, 300000.0, 7.0]
                    )
                ),
                draw(_EDGE_DATES),
                draw(st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"])),
            )
        )
    return rows


@_FUZZ_SETTINGS
@given(rows=audit_orders())
def test_fuzz_x126_fd_audit(spark, rows):
    _fuzz(spark, "x126_fd_audit", orders=_orders(rows))


@_FUZZ_SETTINGS
@given(rows=audit_orders())
def test_fuzz_x130_benford_audit(spark, rows):
    _fuzz(spark, "x130_benford_audit", orders=_orders(rows))


@_FUZZ_SETTINGS
@given(texts=corpus())
def test_fuzz_x132_ks_drift(spark, texts):
    # the shared corpus writer emits a SINGLE source ('srcF') — the
    # degenerate n_rest = 0 case that must NULL the ppm on both
    # engines instead of dividing by zero
    _fuzz(spark, "x132_ks_drift", documents=_documents(texts))
