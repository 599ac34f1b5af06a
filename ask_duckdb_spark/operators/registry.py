"""Operator registry: name -> Spark callable (+ optional DuckDB oracle SQL).

The driver contract (``__spark_entry__``) wants two dicts:
``queries()[name](spark, sf_dir) -> DataFrame`` and
``oracle_sql()[name] -> str`` (ANSI/DuckDB SQL over the same Parquet
views). The registry keeps them adjacent so every operator lands with
its differential test, sqllogictest-style (SURVEY.md §5.2).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

QUERIES: dict[str, Callable[..., Any]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    ``oracle`` is the equivalent DuckDB SQL (omit for ops that are not
    SQL-expressible — the driver then records a weaker rows-only check).
    The callable takes exactly (spark, sf_dir): the oracle is generated
    from the same module constants the builder reads, so there is no
    parameter through which a call could diverge from it.

    Registered callables build a FRESH plan per call, deliberately: a
    returned DataFrame carries mutable queryExecution state (AQE
    finalization, the codegen-count caveat in plans/checks.py), so
    sharing one object across callers would make plan inspection
    order-sensitive. Callers that re-execute one plan many times
    (bench.py's reps) hoist the build themselves — prepared-statement
    reuse belongs at the call site that owns the lifecycle.
    """

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"duplicate operator name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
