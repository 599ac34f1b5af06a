"""Property-based tests for the repair pipeline (SURVEY.md §5.2.2).

Hypothesis generates adversarial SQL-ish text; the pipeline must never
throw, must converge, and must never rewrite valid column references
or allowlisted keywords.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ask_duckdb_spark.nl.repair import (
    SQL_KEYWORDS,
    fix_common_mistakes,
    repair_sql,
)

COLS = {"queue", "status", "cloud", "country", "corecount", "copytools"}
SYN = {"name": "queue", "state": "status"}
META = {
    "columns": [
        {
            "name": "status",
            "canonicalization": {"case": "lower", "map_values": {"BAD": "good"}},
        }
    ]
}

ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)
sql_text = st.text(
    alphabet=st.characters(
        codec="ascii", categories=("L", "N", "P", "Z"), exclude_characters="\x00"
    ),
    max_size=120,
)


@given(sql_text)
@settings(max_examples=200, deadline=None)
def test_repair_never_throws_and_converges(raw):
    once = repair_sql(raw, COLS, meta=META, synonym_map=SYN)
    twice = repair_sql(once, COLS, meta=META, synonym_map=SYN)
    thrice = repair_sql(twice, COLS, meta=META, synonym_map=SYN)
    assert isinstance(once, str)
    assert twice == thrice  # fixpoint after at most two passes


@given(st.lists(st.sampled_from(sorted(COLS | SQL_KEYWORDS)), min_size=1, max_size=12))
@settings(max_examples=200, deadline=None)
def test_valid_tokens_never_rewritten(tokens):
    """A statement made only of real columns + keywords is untouched
    (modulo nothing: no aliases present, no literals present)."""
    sql = " ".join(tokens)
    assert fix_common_mistakes(sql, COLS, SYN) == sql


@given(st.text(alphabet=st.characters(codec="ascii", exclude_characters="'\x00"),
               max_size=100))
@settings(max_examples=200, deadline=None)
def test_canonicalize_preserves_quoteless_text(raw):
    """R5/R6 only rewrite quoted literals: SQL containing no single
    quotes passes through canonicalize_literals byte-identical."""
    from ask_duckdb_spark.nl.repair import canonicalize_literals

    assert canonicalize_literals(raw, META) == raw


question = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=60
)
columns = st.lists(
    st.fixed_dictionaries(
        {
            "name": ident,
            "importance": st.integers(min_value=0, max_value=10),
            "aliases": st.lists(ident, max_size=3),
        }
    ),
    max_size=15,
)


@given(question, columns, st.integers(min_value=1, max_value=12))
@settings(max_examples=200, deadline=None)
def test_context_selection_properties(q, cols, top_k):
    """C1 invariants: ≤ top_k columns, all from the dictionary, any
    name/alias-mentioned column outranks every unmentioned one unless
    importance closes the 100-point boost."""
    from ask_duckdb_spark.nl.context import select_relevant_context

    ctx = select_relevant_context(q, {"columns": cols}, top_k=top_k)
    chosen = ctx["columns"]
    assert len(chosen) <= top_k
    assert all(c in cols for c in chosen)

    def score(col):
        names = [col["name"]] + col["aliases"]
        boost = 100 if any(n and n.lower() in q.lower() for n in names) else 0
        return col["importance"] + boost

    if chosen:
        floor = min(score(c) for c in chosen)
        left_out = [c for c in cols if all(c is not k for k in chosen)]
        assert all(score(c) <= floor for c in left_out)


@given(ident)
@settings(max_examples=200, deadline=None)
def test_fuzzy_repair_output_tokens_are_known(tok):
    """After repair, any identifier the fuzzy pass changed must have
    become a real column (it never invents identifiers)."""
    out = fix_common_mistakes(f"SELECT {tok} FROM t", COLS, {})
    produced = out.split()[1]
    if produced != tok:
        assert produced in COLS


# --- full loop against a LIVE engine (VERDICT r2 next-6) ------------------
#
# The pure-function properties above can't prove the loop: Catalyst's
# AnalysisException is the repair trigger, so these drive
# execute_with_repair against a real session + the queuedata fixture
# with generated corruptions of valid queries.

import pytest

#: columns long enough that a one-char deletion stays above the 0.86
#: difflib cutoff the fuzzy repair uses
LONG_COLS = ("corecount", "corepower", "harvester", "country")
ALIAS_MAP = {"name": "queue", "state": "status", "ncores": "corecount"}


@st.composite
def corrupted_case(draw):
    col = draw(st.sampled_from(LONG_COLS))
    base = f"SELECT queue, {col} FROM queuedata WHERE {col} IS NOT NULL"
    kind = draw(st.sampled_from(["typo", "alias", "fence", "literal", "none"]))
    if kind == "typo":
        cut = draw(st.integers(min_value=1, max_value=len(col) - 2))
        bad = col[:cut] + col[cut + 1:]
        return kind, base.replace(col, bad), col
    if kind == "alias":
        alias = draw(st.sampled_from(sorted(ALIAS_MAP)))
        want = ALIAS_MAP[alias]
        return kind, f"SELECT {alias} FROM queuedata WHERE {alias} IS NOT NULL", want
    if kind == "fence":
        fenced = f"```sql\n{base}\n```"
        return kind, fenced, col
    if kind == "literal":
        lit = draw(st.sampled_from(["'ONLINE'", "'Online'", "'OnLiNe'"]))
        return kind, f"SELECT queue FROM queuedata WHERE status = {lit}", "status"
    return kind, base, col


@given(corrupted_case())
@settings(max_examples=40, deadline=None)
def test_execute_with_repair_full_loop(spark, queuedata, case):
    """Every generated corruption must end in a successfully analyzed,
    read-only SELECT over real columns — typos and aliases via the
    AnalysisException-triggered retry, fences and literal casing via
    the unconditional pre-pass (as nl.ask.answer_question composes
    them)."""
    from ask_duckdb_spark.nl.dictionary import build_synonym_map
    from ask_duckdb_spark.nl.repair import execute_with_repair, repair_sql

    df, meta = queuedata
    cols = set(df.columns)
    syn = build_synonym_map(meta)
    kind, sql, want_col = case

    if kind in ("fence", "literal"):
        # answer_question always runs the regex pass before execution
        sql = repair_sql(sql, cols, meta=meta, synonym_map=syn)

    out, final_sql, repaired = execute_with_repair(
        spark, sql, cols, meta=meta, synonym_map=syn
    )
    assert want_col in final_sql
    assert want_col in out.columns or kind == "literal"
    if kind in ("typo", "alias"):
        assert repaired, f"{kind} corruption analyzed clean?: {sql}"
    if kind == "none":
        assert not repaired and final_sql == sql
    if kind == "literal":
        # canonicalized literal must actually HIT fixture rows
        assert "'online'" in final_sql
        assert out.limit(1).count() == 1


@given(
    st.sampled_from(
        [
            "INSERT INTO queuedata VALUES (1)",
            "UPDATE queuedata SET status = 'x'",
            "DELETE FROM queuedata WHERE id = 1",
            "DROP TABLE queuedata",
            "CREATE TABLE sneaky AS SELECT * FROM queuedata",
            "MERGE INTO queuedata USING queuedata b ON 1=1",
            "TRUNCATE TABLE queuedata",
            "WITH c AS (SELECT 1) INSERT INTO queuedata SELECT * FROM c",
        ]
    ),
    st.sampled_from(["plain", "fenced", "upper", "padded"]),
)
@settings(max_examples=60, deadline=None)
def test_execute_with_repair_never_admits_dml(spark, queuedata, stmt, disguise):
    """ensure_readonly must reject mutation statements BEFORE any
    execution, through every disguise the pipeline could see — raw,
    fence-wrapped (post repair_sql), uppercased, whitespace-padded."""
    from ask_duckdb_spark.nl.dictionary import build_synonym_map
    from ask_duckdb_spark.nl.repair import execute_with_repair, repair_sql

    df, meta = queuedata
    cols = set(df.columns)
    syn = build_synonym_map(meta)

    if disguise == "fenced":
        stmt = repair_sql(f"```sql\n{stmt}\n```", cols, meta=meta, synonym_map=syn)
    elif disguise == "upper":
        stmt = stmt.upper()
    elif disguise == "padded":
        stmt = f"   \n\t{stmt}"

    with pytest.raises(ValueError, match="read-only violation"):
        execute_with_repair(spark, stmt, cols, meta=meta, synonym_map=syn)
