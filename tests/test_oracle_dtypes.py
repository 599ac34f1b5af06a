"""Gate: no registered oracle may materialize a HUGEINT column.

DuckDB types a windowed / un-GROUPed ``sum(BIGINT)`` as HUGEINT, which
pandas materializes as float64; the driver then hashes Spark's ``6172``
against the oracle's ``6172.0`` and reports hash_match=false with
rows/schema green (the CORRECTNESS_r06 x81/x83/x90 signature). The fix
is always ``CAST(... AS BIGINT)`` in the oracle SQL. This sweep binds
every registered oracle against the sf0.001 views (bind only — no
execution, so the whole registry checks in seconds) and fails on any
HUGEINT/UHUGEINT output column, naming the query and column.
"""

from __future__ import annotations

import os

import pytest

from ask_duckdb_spark.operators import ORACLES
from ask_duckdb_spark.sources.catalog import duckdb_conn

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")

_BANNED = {"HUGEINT", "UHUGEINT"}


@pytest.fixture(scope="module")
def con():
    return duckdb_conn(SF_DIR)


def test_no_oracle_materializes_hugeint(con):
    offenders: list[str] = []
    for name, sql in ORACLES.items():
        rel = con.sql(sql)  # bind only; .types needs no execution
        for col, typ in zip(rel.columns, rel.types):
            if str(typ).upper() in _BANNED:
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle columns typed HUGEINT will hash red at the driver "
        "(pandas materializes them as float64 vs Spark's int64); wrap "
        "in CAST(... AS BIGINT): " + "; ".join(offenders)
    )
