"""Registry-wide output-schema gate.

The driver's correctness harness canonicalizes each result with a
pandas sort + value hash; array/map/struct cells arrive as numpy
ndarrays / dicts and are unhashable, so the row errors out regardless
of whether the values match (VERDICT r4 §wrong-2/3: f20/f21). The
contract is therefore: every registered query returns only ATOMIC
columns — serialize collections to strings at the query edge
(``array_join(sort_array(...))`` / DuckDB ``array_to_string``).

This test builds every registry DataFrame lazily (no execution — just
analysis) and fails on any non-atomic output column, so a new operator
can never reintroduce the f20/f21 failure class.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from ask_duckdb_spark.operators import QUERIES

SF_DIR = "/root/testdata/sf0.001"

NON_ATOMIC = (T.ArrayType, T.MapType, T.StructType)


def test_all_registry_outputs_atomic(spark):
    offenders: list[tuple[str, str, str]] = []
    build_errors: list[tuple[str, str]] = []
    for name, fn in sorted(QUERIES.items()):
        try:
            df = fn(spark, SF_DIR)
        except Exception as e:  # pragma: no cover - analysis must succeed
            build_errors.append((name, str(e)[:200]))
            continue
        for f in df.schema.fields:
            if isinstance(f.dataType, NON_ATOMIC):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not build_errors, f"registry entries failed analysis: {build_errors}"
    assert not offenders, (
        "registry entries return non-atomic columns (driver canonicalizer "
        f"cannot hash them): {offenders}"
    )


def test_every_entry_takes_spark_and_sf_dir_only():
    """The driver contract is ``queries()[name](spark, sf_dir)``. An
    entry with a further parameter could be called with a value its
    registered oracle was not generated from, and a wrapper around an
    entry hides what the registry actually calls."""
    import inspect

    bad = {
        name: list(inspect.signature(fn).parameters)
        for name, fn in QUERIES.items()
        if len(inspect.signature(fn).parameters) != 2
        or hasattr(fn, "__wrapped__")
    }
    assert not bad, bad
