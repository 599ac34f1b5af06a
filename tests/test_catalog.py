"""The fixture catalog: footer-pinned schemas, the inference fallback,
and one-partition views.

``load_table`` reads a fixture file with the schema its parquet footer
pins, so registering a catalog runs no Spark job; any file outside the
footer map (or a directory-form table) goes through Spark's inference,
and both paths must give the same schema and rows. ``register_views``
registers a table Spark reads in one task as a one-partition view, so
an answer over the ask catalog runs as one job; any larger table keeps
today's plan.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ask_duckdb_spark.plans import checks
from ask_duckdb_spark.sources.catalog import (
    TABLES,
    footer_schema,
    load_table,
    local_frame,
    register_views,
)
from ask_duckdb_spark.sources.display import result_preview
from ask_duckdb_spark.sources.queuedata_fixture import (
    _SCHEMA,
    queuedata_df,
    queuedata_rows,
)
from tests.conftest import SF_DIR, spark_jobs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*"))) + sorted(
    glob.glob(os.path.join(REPO, "perfbench", "data", "sf*"))
)
NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"
ONE_TASK_CONF = "spark.sql.files.openCostInBytes"


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _ask_catalog(spark):
    """The views ``cli.ask`` and perfbench's ask session query."""
    register_views(spark, SF_DIR)
    queuedata_df(spark).createOrReplaceTempView("queuedata")


@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS, ids=os.path.basename)
def test_register_views_runs_no_job(spark, monkeypatch, sf_dir):
    """Every fixture table resolves from its footer: registering the
    catalog runs 0 Spark jobs, and each view's schema is the one
    Spark's inference gives."""
    monkeypatch.setitem(spark.__dict__, "_adbs_table_cache", {})  # no memo hits
    try:
        with spark_jobs(spark, "register_views") as jobs:
            views = register_views(spark, sf_dir)
        assert jobs == []
        for name in TABLES:
            inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
            assert spark.table(name).schema == views[name].schema == inferred.schema
    finally:
        register_views(spark, SF_DIR)  # the views the rest of the suite reads


def test_register_views_reads_each_footer_once(spark, monkeypatch):
    """One footer read per table: the schema and the row-group sizes
    the one-task rule reads come from the same ``ParquetFile``."""
    monkeypatch.setitem(spark.__dict__, "_adbs_table_cache", {})
    opened = []
    real = pq.ParquetFile

    def counting(path, *args, **kwargs):
        opened.append(os.path.basename(path))
        return real(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    try:
        register_views(spark, SF_DIR)
        register_views(spark, SF_DIR)  # memo hits open nothing
        assert sorted(opened) == sorted(f"{name}.parquet" for name in TABLES)
    finally:
        monkeypatch.undo()
        register_views(spark, SF_DIR)


#: Answer shapes of the ask session; each runs as exactly one job over
#: the one-partition views.
ONE_JOB_ANSWERS = {
    "global_aggregate": "SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue"
    " FROM lineitem WHERE l_returnflag = 'R'",
    "group_by_order_by": "SELECT c_mktsegment, count(*) AS n, avg(c_acctbal) AS avg_bal"
    " FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment",
    "order_by_limit": "SELECT c_name, c_acctbal FROM customer"
    " ORDER BY c_acctbal DESC, c_name LIMIT 10",
    "queuedata_filter": "SELECT queue, country FROM queuedata"
    " WHERE country = 'United States'",
    "queuedata_aggregate": "SELECT count(*) AS n, sum(corecount) AS cores,"
    " max(corepower) AS top FROM queuedata WHERE lower(status) = 'online'",
    "sql_clouds": "SELECT cloud, count(*) AS n,"
    " sum(CASE WHEN corecount > 50 THEN 1 ELSE 0 END) AS n_big"
    " FROM queuedata GROUP BY cloud ORDER BY cloud",
}


@pytest.mark.parametrize("shape", sorted(ONE_JOB_ANSWERS))
def test_ask_answer_runs_one_job(spark, shape):
    """An answer over the ask catalog plans no exchange and runs one
    job, with the rows the same SQL gives over the uncoalesced frames.
    The test registers the views itself: operator tests re-register
    fixture views from ``load_table`` in the shared session."""
    sql = ONE_JOB_ANSWERS[shape]
    try:
        for name in TABLES:
            load_table(spark, SF_DIR, name).createOrReplaceTempView(name)
        local_frame(spark, queuedata_rows(), _SCHEMA).createOrReplaceTempView("queuedata")
        _, want = result_preview(spark.sql(sql))
        _ask_catalog(spark)
        with spark_jobs(spark, f"ask_answer_{shape}") as jobs:
            total, got = result_preview(spark.sql(sql))
    finally:
        _ask_catalog(spark)
    assert len(jobs) == 1, jobs
    assert total == len(want) > 0
    assert list(got.columns) == list(want.columns)
    assert got.values.tolist() == want.values.tolist()


def _group_by(spark, sf_dir: str):
    register_views(spark, sf_dir, tables=("region",))
    return spark.sql("SELECT r_name, count(*) AS n FROM region GROUP BY r_name")


def _keeps_todays_plan(df) -> bool:
    return "Coalesce" not in checks.formatted_plan(df) and checks.num_shuffles(df) == 1


def test_one_task_rule_keeps_larger_tables_partitioned(spark, tmp_path):
    """The scale guard: a file of several row groups, a directory-form
    table and a row group past ``spark.sql.files.openCostInBytes`` each
    register with today's plan (an exchange under the GROUP BY, no
    coalesce), while the one-row-group fixture file registers as one
    partition. The sf0.1 ``lineitem`` (13.6 MB uncompressed, where one
    task measured slower) stays partitioned under the default bound."""
    region = pq.read_table(os.path.join(SF_DIR, "region.parquet"))
    assert region.num_rows > 2
    groups, parts = tmp_path / "groups", tmp_path / "parts" / "region.parquet"
    groups.mkdir()
    parts.mkdir(parents=True)
    pq.write_table(region, str(groups / "region.parquet"), row_group_size=2)
    assert pq.ParquetFile(str(groups / "region.parquet")).num_row_groups > 1
    pq.write_table(region.slice(0, 2), str(parts / "part-0.parquet"))
    pq.write_table(region.slice(2), str(parts / "part-1.parquet"))
    prev = spark.conf.get(ONE_TASK_CONF)
    try:
        one_task = _group_by(spark, SF_DIR)
        assert "Coalesce" in checks.formatted_plan(one_task)
        assert checks.num_shuffles(one_task) == 0
        for sf_dir in (str(groups), str(tmp_path / "parts")):
            df = _group_by(spark, sf_dir)
            assert _keeps_todays_plan(df), checks.formatted_plan(df)
        big = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
        register_views(spark, big, tables=("lineitem",))
        df = spark.sql("SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1")
        assert _keeps_todays_plan(df), checks.formatted_plan(df)
        footer = pq.ParquetFile(os.path.join(SF_DIR, "region.parquet")).metadata
        spark.conf.set(ONE_TASK_CONF, str(footer.row_group(0).total_byte_size - 1))
        df = _group_by(spark, SF_DIR)
        assert _keeps_todays_plan(df), checks.formatted_plan(df)
    finally:
        spark.conf.set(ONE_TASK_CONF, prev)
        register_views(spark, SF_DIR)


_FALLBACK_TABLES = {
    "ticks": pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, None, 5], pa.timestamp("ns")),
    }),
    "prices": pa.table({
        "id": pa.array([1, 2], pa.int32()),
        "price": pa.array([decimal.Decimal("12.34"), None], pa.decimal128(9, 2)),
    }),
    "props": pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "kv": pa.array([[("a", 1)], None], pa.map_(pa.string(), pa.int32())),
    }),
}


@pytest.mark.parametrize("name", sorted(_FALLBACK_TABLES))
def test_unmapped_footer_types_fall_back_to_inference(spark, tmp_path, name):
    """Nanosecond timestamps, decimals and maps are outside the footer
    map: load_table infers, with inference's schema and rows."""
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(_FALLBACK_TABLES[name], path)
    assert footer_schema(spark, pq.read_schema(path)) is None
    df = load_table(spark, str(tmp_path), name)
    inferred = spark.read.parquet(path)
    assert df.schema == inferred.schema
    assert _rows(df) == _rows(inferred)


def test_directory_form_table_loads(spark, tmp_path):
    """A ``region.parquet/`` directory of part files loads by inference."""
    src = os.path.join(SF_DIR, "region.parquet")
    part_dir = tmp_path / "region.parquet"
    part_dir.mkdir()
    table = pq.read_table(src)
    pq.write_table(table.slice(0, 2), str(part_dir / "part-0.parquet"))
    pq.write_table(table.slice(2), str(part_dir / "part-1.parquet"))
    df = load_table(spark, str(tmp_path), "region")
    expected = load_table(spark, SF_DIR, "region")
    assert df.schema == expected.schema
    assert _rows(df) == _rows(expected)


def test_micros_map_to_timestamp_without_ntz_inference(spark, tmp_path):
    """With NTZ inference off, a tz-less micros column is ``timestamp``,
    as inference reads it; a micros column with a tz always is."""
    path = str(tmp_path / "stamps.parquet")
    pq.write_table(pa.table({
        "naive": pa.array([dt.datetime(2024, 1, 2, 3, 4, 5, 6)], pa.timestamp("us")),
        "utc": pa.array([dt.datetime(2024, 1, 2)], pa.timestamp("us", tz="UTC")),
    }), path)
    assert footer_schema(spark, pq.read_schema(path)).simpleString() == (
        "struct<naive:timestamp_ntz,utc:timestamp>")
    prev = spark.conf.get(NTZ_CONF)
    spark.conf.set(NTZ_CONF, "false")
    try:
        df = load_table(spark, str(tmp_path), "stamps")
        inferred = spark.read.parquet(path)
        assert df.schema.simpleString() == "struct<naive:timestamp,utc:timestamp>"
        assert df.schema == inferred.schema
        assert _rows(df) == _rows(inferred)
    finally:
        spark.conf.set(NTZ_CONF, prev)
