"""Unit pins for operators/_util helpers."""

from __future__ import annotations

import gc

from pyspark.sql import functions as F

from ask_duckdb_spark.operators._util import (
    floor_round,
    icents,
    money,
    rev_units,
    unpersist_with,
)


def test_unpersist_with_drops_cache_on_release(spark):
    """The cached frame must leave the cache manager once the caller
    releases the returned result (ADVICE r5: x74/x91 leak class)."""
    cached = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("y"))
    cached = cached.persist()
    result = cached.groupBy().sum("y")
    result = unpersist_with(result, cached)
    result.collect()
    assert cached.storageLevel.useMemory  # still cached while referenced
    del result
    gc.collect()
    # finalizer fired: the frame's storage level is reset to NONE
    assert not cached.storageLevel.useMemory
    cached.unpersist()  # idempotent no-op


def test_exact_money_helpers_roundtrip(spark):
    df = spark.createDataFrame(
        [(19.99, 0.05), (0.01, 0.0), (123.45, 0.08)],
        "l_extendedprice double, l_discount double",
    )
    row = df.select(
        icents("l_extendedprice").alias("pc"),
        rev_units().alias("u"),
        money(rev_units(), 10_000).alias("rev"),
        floor_round(F.col("l_extendedprice") * 3, 2).alias("fr"),
    ).collect()
    assert [r.pc for r in row] == [1999, 1, 12345]
    # 1999 * (100 - 5) = 189905 units = 18.9905 dollars
    assert row[0].u == 189905 and row[0].rev == 18.9905
    assert row[0].fr == 59.97


def test_tokenizer_whitespace_class_is_engine_portable(spark):
    """r8 sweep gate: the shared tokenizer must split on \\x0B (vertical
    tab) IDENTICALLY on both engines. Before the explicit WS_CLASS
    sweep, Java's \\s split it and DuckDB's RE2 \\s did not — a latent
    data-dependent hash split across every text-operator oracle pair."""
    import duckdb

    from ask_duckdb_spark.functions.text import WS_CLASS, WS_RX_SPARKSQL, tokens
    from ask_duckdb_spark.operators.dedup import _TOKENS_SQL

    text = "Alpha\x0bbeta\tGAMMA \x0b delta"
    got_spark = (
        spark.createDataFrame([(text,)], "text string")
        .select(tokens("text").alias("t"))
        .first()
        .t
    )
    got_duck = duckdb.sql(
        f"SELECT {_TOKENS_SQL} AS t FROM (SELECT ? AS text)",
        params=[text],
    ).fetchone()[0]
    assert got_spark == got_duck == ["alpha", "beta", "gamma", "delta"]
    # the Spark-SQL-embedded flavor (selectExpr fragments) agrees too
    got_sqlfrag = (
        spark.createDataFrame([(text,)], "text string")
        .selectExpr(
            f"filter(split(lower(text), '{WS_RX_SPARKSQL}'), t -> t != '') AS t"
        )
        .first()
        .t
    )
    assert got_sqlfrag == got_spark
    # and WS_CLASS is exactly Java's \s, so Spark-side swaps are no-ops
    assert sorted(WS_CLASS[1:-1].replace("\\t", "\t").replace("\\n", "\n")
                  .replace("\\r", "\r").replace("\\x0B", "\x0b")
                  .replace("\\f", "\f")) == sorted(" \t\n\x0b\f\r")


def test_no_inlined_whitespace_class_diverges_from_ws_class():
    """Repo-wide drift alarm (ADVICE r8): ~30 oracle/selectExpr sites
    inline the explicit whitespace class as a literal rather than
    interpolating WS_CLASS (most predate the constant). A future edit
    to the canonical class in functions/text.py must not silently
    diverge from those inlined copies — this scans every package
    source file, normalizes escape depth (SQL-literal embedding
    doubles backslashes), and asserts every character class that
    mentions both \\t and \\x0B embeds the canonical member run of
    WS_CLASS verbatim (order included). The x135 census classes and
    the control-char scrub class mention at most one of the two
    markers, so only true tokenizer-class copies are matched."""
    import glob
    import os
    import re

    from ask_duckdb_spark.functions.text import WS_CLASS

    root = os.path.join(os.path.dirname(__file__), "..")
    canonical = re.sub(r"\\+", r"\\", WS_CLASS)[1:-1]  # ' \t\n\r\x0B\f'
    files = glob.glob(
        os.path.join(root, "ask_duckdb_spark", "**", "*.py"), recursive=True
    ) + glob.glob(os.path.join(root, "scripts", "*.py"))
    assert files
    checked = 0
    for path in files:
        with open(path) as fh:
            # comment lines may legitimately QUOTE the engine-dialect
            # classes (text.py documents Java's member order); only
            # code/string copies are drift hazards.
            src = "\n".join(
                ln for ln in fh.read().splitlines()
                if not ln.lstrip().startswith("#")
            )
        norm = re.sub(r"\\+", r"\\", src)
        for m in re.finditer(r"\[\^?[^\]\n]*\]", norm):
            cls = m.group(0)
            if "\\t" in cls and "\\x0B" in cls:
                checked += 1
                assert canonical in cls, (
                    f"{os.path.relpath(path, root)}: inlined whitespace "
                    f"class {cls!r} diverges from WS_CLASS {canonical!r}"
                )
    assert checked >= 25  # the sweep's site count; shrinkage = sites lost
