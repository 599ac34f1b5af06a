"""The fixture catalog: footer-pinned schemas and the inference fallback.

``load_table`` reads a fixture file with the schema its parquet footer
pins, so registering a catalog runs no Spark job; any file outside the
footer map (or a directory-form table) goes through Spark's inference,
and both paths must give the same schema and rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ask_duckdb_spark.sources.catalog import (
    TABLES,
    footer_schema,
    load_table,
    register_views,
)
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*"))) + sorted(
    glob.glob(os.path.join(REPO, "perfbench", "data", "sf*"))
)
NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("sf_dir", FIXTURE_DIRS, ids=os.path.basename)
def test_register_views_runs_no_job(spark, monkeypatch, sf_dir):
    """Every fixture table resolves from its footer: registering the
    catalog runs 0 Spark jobs, and each view's schema is the one
    Spark's inference gives."""
    monkeypatch.setitem(spark.__dict__, "_adbs_table_cache", {})  # no memo hits
    sc = spark.sparkContext
    try:
        sc.setJobGroup("register_views", "register_views")
        try:
            views = register_views(spark, sf_dir)
        finally:
            sc._jsc.clearJobGroup()
        assert sc.statusTracker().getJobIdsForGroup("register_views") == []
        for name in TABLES:
            inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
            assert spark.table(name).schema == views[name].schema == inferred.schema
    finally:
        register_views(spark, SF_DIR)  # the views the rest of the suite reads


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
    assert footer_schema(spark, path) is None
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
    assert footer_schema(spark, path).simpleString() == (
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
