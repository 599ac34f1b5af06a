"""CLI entry points: exit-code protocol S10 + output parity.

Run in-process (the CLIs reuse the session via getOrCreate) so the
whole suite shares one JVM. Exit codes (reference: query_llm.py:446,
455,475,489 / query_db.py:68,73,51): 1 open-fail, 2 missing table/args,
3 LLM-fail, 4 SQL-fail.
"""

from __future__ import annotations

import pytest

from ask_duckdb_spark.cli import ask as cli_ask
from ask_duckdb_spark.cli import describe as cli_describe
from ask_duckdb_spark.cli import sql as cli_sql
from tests.conftest import SF_DIR


def exit_code(func, argv) -> int:
    try:
        func(argv)
    except SystemExit as e:
        return int(e.code or 0)
    return 0


# --- open / existence protocol -------------------------------------------


def test_open_fail_is_exit_1(spark):
    assert exit_code(
        cli_sql.main,
        ["--sf-dir", "/nonexistent", "--table", "region", "--query", "SELECT 1"],
    ) == 1


def test_corrupt_source_is_exit_1(spark, tmp_path):
    """A directory with an unreadable 'parquet' file is an open failure
    (the reference's duckdb.connect failure, exit 1)."""
    bad = tmp_path / "badsf"
    bad.mkdir()
    (bad / "region.parquet").write_bytes(b"this is not parquet")
    assert exit_code(
        cli_sql.main,
        ["--sf-dir", str(bad), "--table", "region", "--query", "SELECT 1"],
    ) == 1


def test_missing_table_is_exit_2(spark):
    assert exit_code(
        cli_sql.main,
        ["--sf-dir", SF_DIR, "--table", "nope", "--query", "SELECT 1"],
    ) == 2


def test_bad_sql_is_exit_4(spark, capsys):
    code = exit_code(
        cli_sql.main,
        ["--sf-dir", SF_DIR, "--table", "region", "--query", "SELECT FROM WHERE"],
    )
    assert code == 4
    assert "[SQL execution failed]" in capsys.readouterr().err


def test_multi_statement_injection_rejected(spark):
    """'SELECT 1; DROP TABLE x' passes the prefix gate but must still
    fail: spark.sql is single-statement, so the parser rejects it."""
    assert exit_code(
        cli_sql.main,
        ["--sf-dir", SF_DIR, "--table", "region",
         "--query", "SELECT 1 AS x; DROP TABLE region"],
    ) == 4


def test_mutation_rejected_exit_4(spark):
    assert exit_code(
        cli_sql.main,
        ["--sf-dir", SF_DIR, "--table", "region", "--query", "DROP TABLE region"],
    ) == 4


def test_sql_happy_path(spark, capsys):
    code = exit_code(
        cli_sql.main,
        ["--sf-dir", SF_DIR, "--table", "region",
         "--query", "SELECT count(*) AS n FROM region"],
    )
    assert code == 0
    out = capsys.readouterr().out
    assert "=== Query result (1 rows) ===" in out


def test_sql_truncation(spark, capsys):
    code = exit_code(
        cli_sql.main,
        ["--sf-dir", SF_DIR, "--table", "nation",
         "--query", "SELECT n_name FROM nation ORDER BY n_name", "--max-rows", "5"],
    )
    assert code == 0
    assert "... truncated to first 5 rows ..." in capsys.readouterr().out


def test_sql_params_positional(spark, capsys):
    code = exit_code(
        cli_sql.main,
        ["--sf-dir", SF_DIR, "--table", "region",
         "--query", "SELECT r_name FROM region WHERE r_regionkey = ?",
         "--params", "[2]"],
    )
    assert code == 0
    assert "=== Query result (1 rows) ===" in capsys.readouterr().out


def test_describe_list_tables(spark, capsys):
    code = exit_code(cli_describe.main, ["--sf-dir", SF_DIR, "--list"])
    assert code == 0
    out = capsys.readouterr().out
    assert "lineitem" in out and "region" in out


# --- describe -------------------------------------------------------------


def test_describe_outputs_ddl(spark, capsys):
    code = exit_code(cli_describe.main, ["--sf-dir", SF_DIR, "--table", "region"])
    assert code == 0
    out = capsys.readouterr().out
    assert "=== tbl_schema (for template) ===" in out
    assert "r_regionkey INT, r_name STRING" in out


# --- ask ------------------------------------------------------------------


def test_ask_requires_question(spark):
    assert exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--with-queuedata-fixture", "--llm", "stub"],
    ) == 2


def test_ask_llm_failure_is_exit_3(spark):
    # stub with no canned answer and no default raises at the LLM boundary
    assert exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--with-queuedata-fixture", "--llm", "stub",
         "--question", "anything"],
    ) == 3


def test_ask_gemini_without_key_is_exit_3(spark, monkeypatch):
    monkeypatch.delenv("GEMINI_API_KEY", raising=False)
    assert exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--with-queuedata-fixture", "--llm", "gemini",
         "--question", "anything"],
    ) == 3


def test_ask_mistral_without_key_is_exit_3(spark, monkeypatch):
    monkeypatch.delenv("MISTRAL_API_KEY", raising=False)
    assert exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--with-queuedata-fixture", "--llm", "mistral",
         "--question", "anything"],
    ) == 3


def test_ask_stub_end_to_end(spark, capsys):
    code = exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--with-queuedata-fixture", "--llm", "stub",
         "--stub-sql", "SELECT name FROM queuedata WHERE LOWER(state) = 'ONLINE'",
         "--question", "list all queues that are online"],
    )
    assert code == 0
    out = capsys.readouterr().out
    assert "=== Cleaned SQL ===" in out
    assert "SELECT queue FROM queuedata WHERE LOWER(status) ='online'" in out
    assert "=== Query result (" in out


def test_ask_schema_meta_file_drives_repair(spark, tmp_path, capsys):
    """A dictionary loaded from --schema-meta powers R2/R5/R6: the
    stub emits an aliased, colloquial query and the on-disk dictionary
    rewrites it."""
    import json

    from ask_duckdb_spark.sources.queuedata_fixture import queuedata_dictionary

    meta_path = str(tmp_path / "queuedata.schema.json")
    json.dump(queuedata_dictionary(), open(meta_path, "w"))
    code = exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--with-queuedata-fixture", "--llm", "stub",
         "--schema-meta", meta_path,
         "--stub-sql", "SELECT name FROM queuedata WHERE country = 'usa'",
         "--question", "list all american queues"],
    )
    assert code == 0
    out = capsys.readouterr().out
    assert "SELECT queue FROM queuedata WHERE country = 'United States'" in out


def test_ask_generate_schema(spark, tmp_path, capsys):
    out_path = str(tmp_path / "skel.json")
    code = exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--with-queuedata-fixture", "--llm", "stub",
         "--generate-schema", "--schema-out", out_path],
    )
    assert code == 0
    import json

    skeleton = json.load(open(out_path))
    names = [c["name"] for c in skeleton["columns"]]
    assert "queue" in names and "copytools" in names
    assert f"Wrote schema skeleton to: {out_path}" in capsys.readouterr().out


def test_ask_duckdb_dialect_answer_is_exit_0(spark, capsys):
    """A DuckDB-dialect LLM answer runs through the dialect-shim retry;
    the SQL printed is the one that ran."""
    code = exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--with-queuedata-fixture", "--llm", "stub",
         "--stub-sql",
         "SELECT copytools->>'rucio' AS rc, count(*) AS n FROM queuedata GROUP BY ALL",
         "--question", "rucio copytools"],
    )
    assert code == 0
    out = capsys.readouterr().out
    assert "=== Cleaned SQL ===" in out and "get_json_object" in out
    assert "=== Query result (" in out


@pytest.mark.parametrize(
    "stub_sql, error",
    [
        ("SELECT no_such_column FROM queuedata", "[SQL execution failed]"),
        ("DROP TABLE queuedata", "read-only violation"),
    ],
)
def test_ask_failed_sql_is_exit_4_and_printed(spark, capsys, stub_sql, error):
    code = exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--with-queuedata-fixture", "--llm", "stub",
         "--stub-sql", stub_sql, "--question", "anything"],
    )
    assert code == 4
    captured = capsys.readouterr()
    assert f"=== Cleaned SQL ===\n{stub_sql}\n" in captured.out
    assert error in captured.err


def test_ask_questions_file_one_session(spark, tmp_path, monkeypatch, capsys):
    """--questions-file answers every question after one open_source;
    a failed question prints its error, the next one is still answered,
    and the exit code is the failure's."""
    from ask_duckdb_spark.nl.llm import StubLLM

    opened = []

    def counted_open_source(*args):
        opened.append(args)
        return open_source(*args)

    open_source = cli_ask.open_source
    monkeypatch.setattr(cli_ask, "open_source", counted_open_source)
    monkeypatch.setattr(cli_ask, "get_provider", lambda name, stub=None: StubLLM({
        "broken": "SELECT no_such_column FROM queuedata",
        "online": "SELECT name FROM queuedata WHERE LOWER(state) = 'ONLINE'",
    }))
    questions = tmp_path / "questions.txt"
    questions.write_text("list all queues that are online\n\n  \nbroken question\n")
    code = exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--with-queuedata-fixture", "--llm", "stub",
         "--questions-file", str(questions)],
    )
    assert code == 4
    assert len(opened) == 1
    captured = capsys.readouterr()
    out = captured.out
    assert out.index("=== Question 1: list all queues that are online ===") < out.index(
        "SELECT queue FROM queuedata WHERE LOWER(status) ='online'") < out.index(
        "=== Query result (") < out.index("=== Question 2: broken question ===") < out.index(
        "=== Cleaned SQL ===\nSELECT no_such_column FROM queuedata\n")
    assert "=== Question 3" not in out
    assert "[SQL execution failed]" in captured.err


def test_ask_questions_file_excludes_question(spark, tmp_path, capsys):
    questions = tmp_path / "questions.txt"
    questions.write_text("anything\n")
    assert exit_code(
        cli_ask.main,
        ["--sf-dir", SF_DIR, "--llm", "stub", "--question", "anything",
         "--questions-file", str(questions)],
    ) == 2
    assert "not allowed with argument" in capsys.readouterr().err
