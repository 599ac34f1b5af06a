"""End-to-end NL pipeline offline (SURVEY.md §5.2.4): the three README
examples (reference: README.md:54-65) replayed through a deterministic
stub LLM that returns deliberately dirty SQL, over the synthetic
queuedata fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ask_duckdb_spark.nl.ask import answer_question
from ask_duckdb_spark.nl.llm import StubLLM
from ask_duckdb_spark.nl.repair import execute_with_repair


def _provider():
    """Canned completions, each broken the way real LLM output breaks."""
    return StubLLM(
        {
            # ex.1: fenced + alias columns + wrong-case literal
            "queues that are online that do not use": (
                "SELECT name FROM queuedata WHERE LOWER(status) = 'online' AND"
                " get_json_object(copytools, '$.rucio') IS NULL"
            ),
            "queues that are online": (
                "```sql\nSELECT name FROM queuedata WHERE"
                " LOWER(state) = 'ONLINE'\n```"
            ),
            # ex.3: colloquial country literal -> map_values
            "american queues": (
                "SELECT name FROM queuedata WHERE country = 'american'"
            ),
        }
    )


def test_readme_example_1_online_queues(spark, queuedata):
    df, meta = queuedata
    res = answer_question(
        spark, "queuedata", "list all queues that are online", _provider(), meta=meta
    )
    assert res.sql == (
        "SELECT queue FROM queuedata WHERE LOWER(status) ='online'"
    )
    got = {r.queue for r in res.df.collect()}
    want = {
        r.queue
        for r in df.filter(F.lower("status") == "online").select("queue").collect()
    }
    assert got == want and got


def test_readme_example_2_no_rucio(spark, queuedata):
    df, meta = queuedata
    res = answer_question(
        spark,
        "queuedata",
        "list all queues that are online that do not use the rucio copytool",
        _provider(),
        meta=meta,
    )
    got = {r.queue for r in res.df.collect()}
    want = {
        r.queue
        for r in df.filter(
            (F.lower("status") == "online")
            & F.get_json_object("copytools", "$.rucio").isNull()
        )
        .select("queue")
        .collect()
    }
    assert got == want and got


def test_readme_example_3_american_queues(spark, queuedata):
    df, meta = queuedata
    res = answer_question(
        spark, "queuedata", "list all american queues", _provider(), meta=meta
    )
    assert "'United States'" in res.sql
    got = {r.queue for r in res.df.collect()}
    want = {
        r.queue
        for r in df.filter(F.col("country") == "United States")
        .select("queue")
        .collect()
    }
    assert got == want and got


@pytest.mark.parametrize(
    "variant",
    ["us", "usa", "america", "american", "united states of america",
     "united state"],
)
def test_readme_example_3_full_published_map(spark, queuedata, variant):
    """R6 global literal rewrite on the EXACT published vocabulary
    (reference queuedata.schema.json:390-399): every shipped map_values
    key canonicalizes to 'United States' and the executed result equals
    the ground-truth filter — the end-to-end form of README example 3
    (reference README.md:65)."""
    df, meta = queuedata
    stub = StubLLM(
        {
            "american queues": (
                f"SELECT name FROM queuedata WHERE country = '{variant}'"
            )
        }
    )
    res = answer_question(
        spark, "queuedata", "list all american queues", stub, meta=meta
    )
    assert "'United States'" in res.sql
    assert f"'{variant}'" not in res.sql
    got = {r.queue for r in res.df.collect()}
    want = {
        r.queue
        for r in df.filter(F.col("country") == "United States")
        .select("queue")
        .collect()
    }
    assert got == want and got


def test_prompt_carries_schema_and_context(spark, queuedata):
    _, meta = queuedata
    stub = _provider()
    answer_question(
        spark, "queuedata", "list all queues that are online", stub, meta=meta
    )
    system, user = stub.calls[-1]
    assert "CREATE TABLE queuedata (" in system
    assert "status STRING" in system  # DDL from the live Spark schema
    assert "# Column reference (authoritative)" in system
    assert user.endswith("list all queues that are online")


def test_llm_error_propagates(spark, queuedata):
    _, meta = queuedata
    empty = StubLLM()  # no canned answers, no default -> RuntimeError
    with pytest.raises(RuntimeError):
        answer_question(spark, "queuedata", "anything", empty, meta=meta)


def test_execute_with_repair_retry_loop(spark, queuedata):
    """Catalyst-error-driven retry (SURVEY.md §4.2): the broken SQL only
    parses after the repair pass rewrites aliases."""
    df, meta = queuedata
    cols = set(df.columns)
    syn = {"state": "status", "name": "queue"}
    out, final_sql, repaired = execute_with_repair(
        spark,
        "SELECT name FROM queuedata WHERE state = 'ONLINE'",
        cols,
        meta=meta,
        synonym_map=syn,
    )
    assert repaired
    assert "queue" in final_sql and "status" in final_sql
    assert out.count() > 0


def test_execute_with_repair_valid_sql_untouched(spark, queuedata):
    df, _ = queuedata
    out, final_sql, repaired = execute_with_repair(
        spark, "SELECT queue FROM queuedata", set(df.columns)
    )
    assert not repaired
    assert final_sql == "SELECT queue FROM queuedata"


def test_execute_with_repair_duckdb_dialect(spark, queuedata):
    """An LLM answer in DuckDB dialect (the reference's target engine)
    is repaired by the dialect shim layer before the regex repairs."""
    df, meta = queuedata
    out, final_sql, repaired = execute_with_repair(
        spark,
        "SELECT copytools->>'rucio' AS rc, count(*) AS n FROM queuedata"
        " GROUP BY ALL ORDER BY ALL",
        set(df.columns),
        meta=meta,
    )
    assert repaired
    assert "get_json_object" in final_sql
    assert out.count() >= 0


def test_execute_with_repair_dialect_then_identifier(spark, queuedata):
    """Shim and regex repairs COMPOSE: DuckDB arrows plus a typo'd
    identifier in one statement still land on executable SQL."""
    df, meta = queuedata
    out, final_sql, repaired = execute_with_repair(
        spark,
        "SELECT quue, copytools->>'rucio' AS rc FROM queuedata",
        set(df.columns),
        meta=meta,
    )
    assert repaired
    assert "queue" in final_sql and "get_json_object" in final_sql


def test_answer_question_runs_duckdb_dialect_answer(spark, queuedata):
    """NL answers get the executor's dialect-shim retry after the
    repair pre-pass, so DuckDB-flavoured LLM output (arrow JSON access,
    GROUP BY ALL) still runs."""
    df, meta = queuedata
    stub = StubLLM(
        default="SELECT copytools->>'rucio' AS rc, count(*) AS n"
        " FROM queuedata GROUP BY ALL"
    )
    res = answer_question(spark, "queuedata", "rucio copytools", stub, meta=meta)
    assert "get_json_object" in res.sql
    got = {(r.rc, r.n) for r in res.df.collect()}
    want = {
        (r.rc, r.n)
        for r in df.groupBy(F.get_json_object("copytools", "$.rucio").alias("rc"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and got


@pytest.mark.parametrize(
    "sql, distinct",
    [
        # neither the shim nor the repairs change it: one candidate
        ("SELECT no_such_column FROM queuedata", 1),
        # the shim rewrites the arrow, the repairs change nothing more
        ("SELECT no_such_column, copytools->>'rucio' FROM queuedata", 2),
    ],
)
def test_unrepairable_sql_analyzed_once_per_candidate(
    spark, queuedata, monkeypatch, sql, distinct
):
    from pyspark.errors import AnalysisException

    df, meta = queuedata
    seen = []
    analyze = spark.sql

    def counting(stmt, *args, **kwargs):
        seen.append(stmt)
        return analyze(stmt, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", counting)
    with pytest.raises(AnalysisException) as err:
        execute_with_repair(spark, sql, set(df.columns), meta=meta)
    assert len(seen) == len(set(seen)) == distinct
    assert err.value.sql == seen[-1]
