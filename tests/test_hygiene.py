"""Semantic pins for the hygiene family (x133-x135) beyond the oracle.

The DuckDB oracles prove Spark/DuckDB agreement; these tests pin that
the agreed-on answer means what the docstrings claim: contaminated docs
really share a verbatim token window with an eval doc, fertility is
bounded the way sub-word tokenization forces, and the charclass ppm
columns decompose the total exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ask_duckdb_spark.operators import ORACLES, QUERIES
from ask_duckdb_spark.operators.dedup import W_SPAN
from ask_duckdb_spark.operators.hygiene import EVAL_MOD
from ask_duckdb_spark.sources.catalog import duckdb_conn, load_table
from tests.conftest import SF_DIR_001


def test_x133_contaminated_docs_share_a_verbatim_window(spark):
    out = QUERIES["x133_eval_decontam"](spark, SF_DIR_001).collect()
    assert out, "fixture must plant at least one contamination"
    assert all(r.doc_id % EVAL_MOD != 0 for r in out), "eval docs excluded"
    assert all(r.n_gram_hits >= r.n_shared_grams >= 1 for r in out)

    # Ground-truth re-derivation at the STRING level (no hashes): the
    # top contaminated doc must share a verbatim W_SPAN-token window
    # with some eval doc.
    docs = load_table(spark, SF_DIR_001, "documents")
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    wins = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(toks) >= W_SPAN,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (W_SPAN - 1)),
                    lambda i: F.array_join(F.slice(toks, i, W_SPAN), " "),
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        ).alias("w"),
    )
    top = out[0].doc_id
    ev_wins = wins.filter(F.col("doc_id") % EVAL_MOD == 0).select("w").distinct()
    shared = (
        wins.filter(F.col("doc_id") == top).join(ev_wins, "w").count()
    )
    assert shared >= 1


def test_x136_leak_report_is_x133s_inverse(spark):
    leaks = QUERIES["x136_eval_leak_report"](spark, SF_DIR_001).collect()
    assert leaks, "planted contamination must surface on the eval side too"
    assert all(r.eval_id % EVAL_MOD == 0 for r in leaks)
    assert all(r.n_train_docs >= 1 and r.n_leaked_grams >= 1 for r in leaks)
    # Cross-consistency: the eval side can never report more affected
    # training docs per item than the total contaminated-doc count x133
    # reports, and both views must agree that contamination exists.
    n_contaminated = QUERIES["x133_eval_decontam"](spark, SF_DIR_001).count()
    assert max(r.n_train_docs for r in leaks) <= n_contaminated


def test_x134_fertility_bounds(spark):
    rows = QUERIES["x134_tokenizer_fertility"](spark, SF_DIR_001).collect()
    assert len(rows) > 1
    for r in rows:
        # BPE pre-tokenization only ever SPLITS whitespace words, so
        # tokens >= words and fertility >= 1.0 (1e6 ppm); chars per
        # token is at least 1 for letter-bearing text.
        assert r.n_bpe_tokens >= r.n_words
        assert r.fertility_ppm >= 1_000_000
        assert r.chars_per_token_ppm >= 1_000_000


def test_x135_ppm_decomposition(spark):
    rows = QUERIES["x135_charclass_audit"](spark, SF_DIR_001).collect()
    assert len(rows) > 1
    for r in rows:
        total_ppm = (
            r.letter_ppm + r.digit_ppm + r.space_ppm + r.punct_ppm + r.other_ppm
        )
        # integer floor division loses < 1 ppm per term
        assert 1_000_000 - 5 <= total_ppm <= 1_000_000
        assert r.n_control == 0  # fixture is clean text
        assert r.letter_ppm > r.space_ppm > 0


def test_x134_nonspace_strip_is_engine_portable_on_vertical_tab(spark, tmp_path):
    """ADVICE r7: Java/Spark ``\\s`` includes \\x0B (vertical tab);
    DuckDB's RE2 ``\\s`` does not, so the old nonspace strip split
    n_chars between the engines on any document containing \\x0B. The
    explicit ``_WS_CLASS`` must strip it on BOTH — pin cross-engine
    n_chars equality on exactly such a document.

    (n_words/n_bpe_tokens still ride the shared ``\\s`` tokenizer, whose
    dialect split on \\x0B is a known, documented residual — this test
    deliberately asserts only the column ADVICE r7 fixed.)"""
    sf = str(tmp_path)
    spark.createDataFrame(
        [(0, "abc\x0bdef ghi", "en", "s1", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = QUERIES["x134_tokenizer_fertility"](spark, sf).collect()[0]
    assert got["n_chars"] == 9  # \x0B and the space both stripped

    con = duckdb_conn(sf)
    orow = con.sql(ORACLES["x134_tokenizer_fertility"]).df().iloc[0]
    con.close()
    assert int(orow.n_chars) == 9 == got["n_chars"]


def test_x133b_broadcast_twin_row_equal_with_broadcast_plan(spark):
    """VERDICT r7 item 8: the scale form of x133's contamination join —
    eval grams broadcast (benchmark-sized side ships to executors; the
    corpus gram stream is filtered where produced, zero training-gram
    shuffle). Must be row-identical to the shuffle form AND actually
    broadcast in the physical plan."""
    from ask_duckdb_spark.plans.checks import formatted_plan

    a = QUERIES["x133_eval_decontam"](spark, SF_DIR_001)
    b = QUERIES["x133b_eval_decontam_bcast"](spark, SF_DIR_001)
    assert "BroadcastHashJoin" in formatted_plan(b)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
