"""Differential tests for the DuckDB -> Spark SQL dialect shim.

Each corpus query is written in DUCKDB dialect, executed (a) verbatim
on DuckDB and (b) through ``to_spark_sql`` on Spark over the same
parquet fixtures, then compared value-by-value — the sqllogictest
treatment applied to the translator itself. A second group pins the
constructs Spark accepts NATIVELY (no translation), so a Spark upgrade
that drops one of them fails loudly here.
"""

from __future__ import annotations

import math

import pytest

from ask_duckdb_spark.nl.dialect_shim import to_spark_sql
from ask_duckdb_spark.sources.catalog import duckdb_conn, register_views
from tests.conftest import SF_DIR

# DuckDB-flavored queries the shim must translate. All run against the
# standard fixture views.
TRANSLATED = {
    "int_div": "SELECT o_orderkey // 10 AS bucket, count(*) AS n"
    " FROM orders GROUP BY bucket ORDER BY bucket LIMIT 20",
    "arrow_text": "SELECT event_id, props->>'device' AS device"
    " FROM events WHERE props->>'device' = 'mobile'"
    " ORDER BY event_id LIMIT 20",
    "arrow_chain": "SELECT event_id, props->'a'->>'b' AS ab"
    " FROM events ORDER BY event_id LIMIT 5",
    "string_split": "SELECT doc_id, len(string_split(text, ' ')) AS n_words"
    " FROM documents ORDER BY doc_id LIMIT 20",
    "list_transform": "SELECT doc_id,"
    " list_transform(string_split(text, ' '), w -> upper(w))[1] AS w1"
    " FROM documents ORDER BY doc_id LIMIT 20",
    "list_filter": "SELECT doc_id,"
    " len(list_filter(string_split(text, ' '), w -> length(w) > 4)) AS n_long"
    " FROM documents ORDER BY doc_id LIMIT 20",
    "list_distinct": "SELECT doc_id,"
    " len(list_distinct(string_split(text, ' '))) AS n_uniq"
    " FROM documents ORDER BY doc_id LIMIT 20",
    "array_to_string": "SELECT doc_id,"
    " array_to_string(list_sort(string_split(substr(text, 1, 20), ' ')), '|')"
    "   AS sorted20"
    " FROM documents ORDER BY doc_id LIMIT 10",
    "quantile_cont": "SELECT quantile_cont(o_totalprice, 0.5) AS med"
    " FROM orders",
    "regexp_matches": "SELECT count(*) AS n FROM part"
    " WHERE regexp_matches(p_name, '^red')",
    "strftime": "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d"
    " FROM orders ORDER BY o_orderkey LIMIT 10",
    "exclude": "SELECT * EXCLUDE (r_regionkey) FROM region ORDER BY r_name",
    "epoch_fractional": "SELECT event_id, epoch(ts) AS es"
    " FROM events ORDER BY event_id LIMIT 10",
    "cast_varchar": "SELECT o_orderkey::VARCHAR AS k FROM orders"
    " ORDER BY o_orderkey LIMIT 5",
}

# Constructs Spark 4 accepts natively; the shim must pass them through
# functionally unchanged.
NATIVE = {
    "cast_colon": "SELECT o_orderkey::STRING AS k FROM orders"
    " ORDER BY o_orderkey LIMIT 5",
    "group_by_all": "SELECT o_orderstatus, count(*) AS n FROM orders"
    " GROUP BY ALL ORDER BY ALL",
    "ilike": "SELECT count(*) AS n FROM part WHERE p_name ILIKE 'RED%'",
    "from_first": "FROM region SELECT r_name ORDER BY r_name",
    "len_str": "SELECT doc_id, len(text) AS n FROM documents"
    " ORDER BY doc_id LIMIT 10",
}


@pytest.fixture(scope="module")
def duck():
    return duckdb_conn(SF_DIR)


@pytest.fixture(scope="module")
def sparkv(spark):
    register_views(
        spark,
        SF_DIR,
        tables=("orders", "events", "documents", "part", "region"),
    )
    return spark


def _values(rows):
    out = []
    for row in rows:
        out.append(tuple(row))
    return out


def _assert_same(duck_rows, spark_rows, name):
    assert len(duck_rows) == len(spark_rows), f"{name}: row count"
    for i, (dr, sr) in enumerate(zip(duck_rows, spark_rows)):
        assert len(dr) == len(sr), f"{name}: arity row {i}"
        for dv, sv in zip(dr, sr):
            if isinstance(dv, float) or isinstance(sv, float):
                assert math.isclose(
                    float(dv), float(sv), rel_tol=1e-9, abs_tol=1e-9
                ), f"{name}: {dv} != {sv} (row {i})"
            else:
                assert str(dv) == str(sv), f"{name}: {dv!r} != {sv!r} (row {i})"


@pytest.mark.parametrize("name", sorted(TRANSLATED))
def test_translated_matches_duckdb(name, duck, sparkv):
    q = TRANSLATED[name]
    duck_rows = _values(duck.sql(q).fetchall())
    spark_rows = _values(sparkv.sql(to_spark_sql(q)).collect())
    _assert_same(duck_rows, spark_rows, name)


@pytest.mark.parametrize("name", sorted(NATIVE))
def test_native_passthrough_matches_duckdb(name, duck, sparkv):
    q = NATIVE[name]
    translated = to_spark_sql(q)
    duck_rows = _values(duck.sql(q).fetchall())
    spark_rows = _values(sparkv.sql(translated).collect())
    _assert_same(duck_rows, spark_rows, name)


def test_literals_never_rewritten():
    q = "SELECT 'a//b->c strftime list_filter' AS s FROM region"
    assert to_spark_sql(q) == q


def test_unknown_arrow_shape_left_alone():
    # arrow with a non-literal RHS passes through for Spark to reject
    q = "SELECT a -> b FROM t"
    assert "->" in to_spark_sql(q)


def test_lambda_arrows_preserved():
    # lambda syntax shares `->` with the JSON operator; literal bodies
    # inside higher-order calls must NOT become get_json_object
    q = "SELECT transform(a, x -> 'y'), list_filter(b, v -> 5) FROM t"
    out = to_spark_sql(q)
    assert "x -> 'y'" in out
    assert "v -> 5" in out
    assert "get_json_object" not in out


def test_json_arrow_inside_non_hof_call_rewritten():
    q = "SELECT json_extract(props->'k', '$.z') FROM t"
    assert "get_json_object(props, '$.k')" in to_spark_sql(q)


def test_exclude_without_parens_gets_them():
    q = "SELECT * EXCLUDE r_regionkey FROM region"
    assert "* EXCEPT (r_regionkey)" in to_spark_sql(q)


# ---------------------------------------------------------------------------
# Property tests: the shim is idempotent and literal-preserving on a
# generated corpus of dialect constructs (no Spark session needed).
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st

_idents = st.sampled_from(["props", "text", "col_a", "tbl.col", "x9"])
_keys = st.sampled_from(["k", "device", "a_b", "UPPER"])
_lits = st.sampled_from(["'abc'", "'a//b'", "'x -> y'", "'%Y strftime'"])


@st.composite
def _fragments(draw):
    kind = draw(st.integers(0, 6))
    ident = draw(_idents)
    key = draw(_keys)
    lit = draw(_lits)
    return [
        f"{ident}->>'{key}'",
        f"{ident}->'{key}'->>'{key}'",
        f"{ident} // 7",
        f"list_transform({ident}, v -> upper(v))",
        f"string_split({ident}, ' ')",
        f"strftime({ident}, '%Y-%m-%d')",
        lit,
    ][kind]


@given(st.lists(_fragments(), min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_shim_idempotent(frags):
    q = "SELECT " + ", ".join(frags) + " FROM t"
    once = to_spark_sql(q)
    assert to_spark_sql(once) == once


@given(st.lists(_lits, min_size=1, max_size=4))
@settings(max_examples=100, deadline=None)
def test_shim_preserves_every_literal(lits):
    q = "SELECT " + ", ".join(lits) + " FROM t"
    out = to_spark_sql(q)
    for lit in lits:
        assert lit in out


def test_strftime_only_format_literal_translated():
    q = "SELECT strftime(CASE WHEN name LIKE '%min%' THEN ts END, '%Y')"
    out = to_spark_sql(q)
    assert "'%min%'" in out and "'yyyy'" in out


def test_json_arrow_on_lambda_variable_rewritten():
    q = "SELECT list_transform(a, j -> j->'k') FROM t"
    assert "j -> get_json_object(j, '$.k')" in to_spark_sql(q)


def test_arrow_after_keyword_left_alone():
    out = to_spark_sql("SELECT ->'k' FROM t")
    assert "get_json_object" not in out
