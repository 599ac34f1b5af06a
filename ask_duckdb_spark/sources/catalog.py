"""Table catalog over the Parquet fixture directories.

The reference's data model is "one relational table in a database file,
read-only" (reference: query_llm.py:441-446, query_db.py:63-68). Ours is
"N Parquet tables under a directory, registered as temp views" — same
observable model, columnar at rest, immutable by construction.

Scale notes (100 TB posture):
- ``spark.read.parquet`` gives vectorized scans, predicate pushdown and
  column pruning for free; at cluster scale the same loader works on a
  partitioned directory tree (``dt=.../part-*.parquet``) unchanged.
- A fixture file is read with the schema its footer pins (pyarrow
  reads the footer in-process): registering the catalog runs no Spark
  job, as opening a DuckDB database scans no data.
- The only per-table fixup (a user's nanosecond events.ts -> micros)
  is a zero-shuffle projection, fused into the scan stage by
  whole-stage codegen.
- Small tables built in Python (the queuedata fixture, ring and
  merge lists) go through :func:`local_frame`: an Arrow LocalRelation
  the JVM scans itself, never a Python RDD.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..session import apply_runtime_conf

#: All driver-materialized fixture tables (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing physical quirks.

    A ``{name}.parquet`` file is read with the schema its footer pins
    (:func:`footer_schema`): pyarrow reads the footer in-process, so
    the load runs no Spark job. Spark's own inference runs one schema job
    per table; it stays the fallback for a directory-form table and a
    footer type outside the fixture map.
    Every fixture stores ``events.ts`` as TIMESTAMP(MICROS,
    isAdjustedToUTC=false), which both paths read as TIMESTAMP_NTZ.

    The resolved reader DataFrame is memoized per (session, dir, table):
    the data model is read-only/immutable (the reference opens its
    database read-only — query_llm.py:441-446 — and the fixtures never
    change), so the file listing + footer schema resolution need not be
    repeated on every query. This is catalog metadata caching — the
    same thing a warehouse catalog (or DuckDB's attached database) does
    — NOT data caching: no rows are persisted, every query still scans.
    The memo lives on the session object, so it dies with the session.
    """
    apply_runtime_conf(spark)
    cache: dict = spark.__dict__.setdefault("_adbs_table_cache", {})
    key = (os.path.abspath(sf_dir), name)
    hit = cache.get(key)
    if hit is not None:
        return hit
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = footer_schema(spark, path) if os.path.isfile(path) else None
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = _events_fixup(reader.parquet(path), name)
    cache[key] = df
    return df


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The Spark schema of one parquet file, mapped from its footer.

    Gives what Spark's file-source inference gives (every field
    nullable) for the types the fixtures hold, and ``None`` for any
    other type (nanosecond timestamps, decimals, maps, structs, ...):
    the caller then infers. A file that is not parquet raises here.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow = pq.read_schema(path)
    infer_ntz = spark.conf.get(_INFER_NTZ).lower() == "true"
    fields = []
    for field in arrow:
        t = field.type
        spark_type: DataType | None
        if pa.types.is_timestamp(t) and t.unit == "us":
            naive = t.tz is None and infer_ntz
            spark_type = TimestampNTZType() if naive else TimestampType()
        elif pa.types.is_list(t) and pa.types.is_float32(t.value_type):
            spark_type = ArrayType(FloatType(), containsNull=True)
        else:
            spark_type = _FOOTER_TYPES.get(str(t))
        if spark_type is None:
            return None
        fields.append(StructField(field.name, spark_type, nullable=True))
    return StructType(fields)


#: Footer (pyarrow) types mapped to Spark's; any other type infers.
_FOOTER_TYPES: dict[str, DataType] = {
    "int32": IntegerType(),
    "int64": LongType(),
    "double": DoubleType(),
    "float": FloatType(),
    "string": StringType(),
}
_INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _events_fixup(df: DataFrame, name: str) -> DataFrame:
    """A user's ``events.ts`` stored as INT64 TIMESTAMP(NANOS) is read
    as long under ``nanosAsLong``: convert it to microsecond
    TIMESTAMP_NTZ by integer division, for the file and the
    directory form alike. The fixtures store micros and never take
    this branch."""
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view; return the frames."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def duckdb_conn(sf_dir: str):
    """A DuckDB connection with a view per table under ``sf_dir``: the
    oracle side of :func:`register_views`. A directory-form table (what
    Spark writes) is read through a ``*.parquet`` glob, since DuckDB
    finds no file at the bare directory path; a missing table is
    skipped."""
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def local_frame(
    spark: SparkSession,
    rows: Iterable[Mapping[str, Any] | Sequence[Any]],
    schema: str,
) -> DataFrame:
    """A frame over rows built in Python, as an Arrow LocalRelation.

    ``spark.createDataFrame(python_list, schema)`` is a Python RDD
    (``parallelize`` + ``applySchemaToPythonRDD``): every scan of it
    re-runs Python workers to unpickle the rows, one per partition, on
    every query. An Arrow table instead becomes a LocalRelation: the
    rows live in the plan, Catalyst folds filters and projections into
    it, and the scan is a JVM ``LocalTableScan`` with no Python worker,
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says.

    ``rows`` are dicts keyed by column name or tuples in schema order;
    the DDL ``schema`` is the frame's schema exactly, nullability
    included. An empty ``rows`` gives an empty frame of that schema.
    """
    # imported here: sessions that never build a local frame skip pyarrow
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [r if isinstance(r, Mapping) else dict(zip(struct.names, r)) for r in rows],
        schema=to_arrow_schema(struct),
    )
    return spark.createDataFrame(table, schema=struct)
