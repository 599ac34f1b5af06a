"""NL → SQL → execute CLI (≈ reference query_llm.py:419-506).

Offline demo (no network, no SDKs):
    python -m ask_duckdb_spark.cli.ask --with-queuedata-fixture \
        --table queuedata --llm stub \
        --stub-sql "SELECT name FROM queuedata WHERE LOWER(state) = 'ONLINE'" \
        --question "list all queues that are online"

The stub completion above exercises the repair pipeline end to end:
``name``→``queue`` and ``state``→``status`` (R2), ``'ONLINE'`` →
``'online'`` (R3/R5).
"""

from __future__ import annotations

import argparse
import os
import sys

from ..nl.ask import answer_question
from ..nl.dictionary import load_dictionary, make_skeleton, write_dictionary
from ..nl.llm import LLMCallError, StubLLM, get_provider
from ..sources.display import display_result
from ..sources.queuedata_fixture import queuedata_df, queuedata_dictionary
from ._common import (
    DEFAULT_SF_DIR,
    EXIT_LLM_FAIL,
    EXIT_MISSING,
    EXIT_SQL_FAIL,
    fail,
    open_source,
    require_table,
)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description=(
            "Generate SQL from a question and run it on Spark; also supports"
            " schema skeleton generation."
        )
    )
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR,
                    help=f"Parquet table directory (default: {DEFAULT_SF_DIR})")
    ap.add_argument("--table", default="queuedata",
                    help="Target table name (default: queuedata)")
    asked = ap.add_mutually_exclusive_group()
    asked.add_argument("--question", help="Natural-language question to turn into SQL.")
    asked.add_argument("--questions-file", metavar="PATH",
                       help="Answer every question in PATH (one per line, blank"
                            " lines skipped) in one session.")
    ap.add_argument("--llm", choices=["gemini", "mistral", "stub"], default="gemini",
                    help="LLM provider.")
    ap.add_argument("--model", help="Model name (e.g. gemini-2.5-flash).")
    ap.add_argument("--schema-meta", default="queuedata.schema.json",
                    help="Path to JSON metadata for the table.")
    ap.add_argument("--generate-schema", action="store_true",
                    help="Generate a skeleton JSON data dictionary and exit.")
    ap.add_argument("--schema-out",
                    help="Output path for the skeleton (default: <table>.schema.json)")
    ap.add_argument("--max-rows", type=int, default=1000)
    ap.add_argument("--stub-sql",
                    help="Canned completion for --llm stub (offline demo/testing).")
    ap.add_argument("--with-queuedata-fixture", action="store_true",
                    help="Register the synthetic queuedata fixture table + dictionary.")
    args = ap.parse_args(argv)

    spark = open_source(args.sf_dir, "ask_duckdb_spark.ask")
    meta = None
    if args.with_queuedata_fixture:
        queuedata_df(spark).createOrReplaceTempView("queuedata")
        meta = queuedata_dictionary()
    require_table(spark, args.table, args.sf_dir)

    # an explicit on-disk dictionary always wins (reference semantics:
    # --schema-meta is THE dictionary, query_llm.py:429-430,458-462)
    if args.schema_meta and os.path.exists(args.schema_meta):
        meta = load_dictionary(args.schema_meta)

    if args.generate_schema:
        # C7 path (reference: query_llm.py:465-470): skeleton from the
        # live schema, write, and exit without touching the LLM flow.
        skeleton = make_skeleton(args.table, spark.table(args.table).schema)
        out_path = args.schema_out or f"{args.table}.schema.json"
        write_dictionary(out_path, skeleton)
        print(f"Wrote schema skeleton to: {out_path}")
        return

    if args.questions_file:
        try:
            with open(args.questions_file) as f:
                questions = [q.strip() for q in f if q.strip()]
        except OSError as e:
            fail(EXIT_MISSING, f"Error reading --questions-file: {e}")
        if not questions:
            fail(EXIT_MISSING, f"Error: no questions in {args.questions_file}.")
    elif args.question:
        questions = [args.question]
    else:
        fail(EXIT_MISSING, "Error: --question or --questions-file is required"
                          " unless --generate-schema is used.")

    stub = StubLLM(default=args.stub_sql or "") if args.llm == "stub" else None
    # The LLM-failure handler is scoped to the LLM boundary ONLY —
    # provider construction (missing key / SDK) and the provider call
    # itself, which answer_question surfaces as LLMCallError (reference:
    # query_llm.py:487-489 wraps just its API call). Context-selection
    # or repair bugs propagate with their own traceback instead of
    # hiding behind EXIT_LLM_FAIL (ADVICE r2).
    try:
        provider = get_provider(args.llm, stub=stub)
    except Exception as e:
        fail(EXIT_LLM_FAIL, f"[{args.llm.capitalize()} call failed] {e}")

    # One session answers every question: the JVM start and the catalog
    # set-up are paid once. A failed question prints its error and the
    # loop goes on; the exit code is the first failure's.
    first_failure = 0
    for i, question in enumerate(questions, 1):
        if args.questions_file:
            print(f"=== Question {i}: {question} ===")
        code = _answer(spark, args, provider, meta, question)
        first_failure = first_failure or code
    if first_failure:
        sys.exit(first_failure)


def _answer(spark, args, provider, meta, question: str) -> int:
    """Answer one question and print it; return its exit code (0, 3, 4),
    with any error printed to stderr."""
    try:
        res = answer_question(
            spark, args.table, question, provider, meta=meta, model=args.model
        )
    except LLMCallError as e:
        return _error(EXIT_LLM_FAIL, f"[{args.llm.capitalize()} call failed] {e}")
    except Exception as e:
        # execute_with_repair tags gate and engine errors with the SQL it
        # last tried; an untagged error is a bug and keeps its traceback
        if not hasattr(e, "sql"):
            raise
        print(f"=== Cleaned SQL ===\n{e.sql}")
        return _error(EXIT_SQL_FAIL, f"[SQL execution failed] {e}")

    print(f"=== Cleaned SQL ===\n{res.sql}")
    try:
        display_result(res.df, max_rows=args.max_rows)
    except Exception as e:  # engine boundary (reference: query_llm.py:401-403)
        return _error(EXIT_SQL_FAIL, f"[SQL execution failed] {e}")
    return 0


def _error(code: int, message: str) -> int:
    print(message, file=sys.stderr)
    return code


if __name__ == "__main__":
    main()
