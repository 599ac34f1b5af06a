"""Docs drift guards."""

from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_operators_md_in_sync_with_registry():
    """OPERATORS.md is generated; adding an operator without
    regenerating it (scripts/gen_operators_md.py) fails here."""
    import scripts.gen_operators_md as gen

    buf = io.StringIO()
    with redirect_stdout(buf):
        gen.main()
    generated = buf.getvalue()
    committed = open(os.path.join(REPO, "OPERATORS.md")).read()
    assert generated == committed


def test_survey_registry_counts_match():
    from ask_duckdb_spark.operators import ORACLES, QUERIES

    for doc, pattern in (
        ("SURVEY.md", r"\*\*(\d+) `queries\(\)` entries, (\d+) with DuckDB"),
        ("README.md", r"(\d+) registered queries, (\d+) with DuckDB"),
    ):
        m = re.search(pattern, open(os.path.join(REPO, doc)).read())
        assert m, f"{doc} registry count line missing"
        counts = (int(m.group(1)), int(m.group(2)))
        assert counts == (len(QUERIES), len(ORACLES)), doc
