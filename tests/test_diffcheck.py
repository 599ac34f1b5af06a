"""Regression tests for scripts/diffcheck.py's comparator.

The r06 blind spot: ``compare()`` coerced BOTH columns to float64 when
*either* side was float-typed, so an int64 (Spark) vs float64 (DuckDB
HUGEINT materialized by pandas) mismatch compared equal locally while
the driver's exact value hash saw ``6172`` vs ``6172.0`` and went red
(x81/x83/x90, CORRECTNESS_r06.json). These tests pin that an
int-vs-float dtype split is now a FAIL, that the fix (CAST the oracle's
windowed sum to BIGINT) makes it pass, and that legitimate float-float
columns still compare bit-exact.
"""

from __future__ import annotations

import inspect

import duckdb
import pandas as pd

import scripts.diffcheck as diffcheck


def test_int_vs_float_dtype_mismatch_fails():
    a = pd.DataFrame({"v": pd.array([1, 2, 3], dtype="int64")})
    b = pd.DataFrame({"v": pd.array([1.0, 2.0, 3.0], dtype="float64")})
    problems = diffcheck.compare(a, b)
    assert problems, "int64 vs float64 must FAIL even when values coerce equal"
    assert "dtype mismatch" in problems[0]


def test_bare_windowed_sum_oracle_fails_then_cast_passes():
    """A bare DuckDB ``sum(BIGINT) OVER`` yields HUGEINT -> float64 in
    pandas; against Spark's int64 running sum the driver hash differs.
    The comparator must reproduce that red locally, and the documented
    fix (CAST ... AS BIGINT) must turn it green."""
    con = duckdb.connect()
    spark_side = pd.DataFrame({"cum": pd.array([1, 3, 6], dtype="int64")})

    bare = con.sql(
        "SELECT sum(x) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum "
        "FROM (VALUES (1), (2), (3)) t(x)"
    ).df()
    assert pd.api.types.is_float_dtype(bare["cum"]), (
        "precondition: DuckDB windowed sum(BIGINT) materializes float64 "
        "via pandas — if this ever changes, the comparator rule still "
        "holds but this test's premise is stale"
    )
    assert diffcheck.compare(spark_side, bare), "bare windowed sum must FAIL"

    cast = con.sql(
        "SELECT CAST(sum(x) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)"
        " AS BIGINT) AS cum FROM (VALUES (1), (2), (3)) t(x)"
    ).df()
    assert diffcheck.compare(spark_side, cast) == []


def test_float_float_still_bit_exact():
    a = pd.DataFrame({"v": [0.1, 0.2]})
    assert diffcheck.compare(a, a.copy()) == []
    b = pd.DataFrame({"v": [0.1, 0.2 + 1e-16]})
    assert diffcheck.compare(a, b), "1-ulp drift must still FAIL bit-exact"


def test_int_int_unaffected():
    a = pd.DataFrame({"v": pd.array([5, 7], dtype="int64")})
    b = pd.DataFrame({"v": pd.array([5, 7], dtype="int64")})
    assert diffcheck.compare(a, b) == []


def test_bit_exact_is_the_only_mode():
    """No tolerance path is left through the registry comparator."""
    assert list(inspect.signature(diffcheck.compare).parameters) == ["spark_pdf", "duck_pdf"]
    assert "exact" not in inspect.signature(diffcheck.check).parameters
