"""Package-level smoke: everything imports, the registry is populated,
and the driver contract exposes it (the round-1 failure mode)."""


def test_operators_import_and_register():
    from ask_duckdb_spark.operators import ORACLES, QUERIES

    assert len(QUERIES) >= 80
    # every oracle refers to a registered query
    assert not set(ORACLES) - set(QUERIES)


def test_driver_contract_wired():
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert qs and oracles
    assert not set(oracles) - set(qs)
    assert "q1_pricing_summary" in qs


def test_nl_and_cli_import():
    import ask_duckdb_spark.cli.ask  # noqa: F401
    import ask_duckdb_spark.cli.describe  # noqa: F401
    import ask_duckdb_spark.cli.sql  # noqa: F401
    import ask_duckdb_spark.nl  # noqa: F401
