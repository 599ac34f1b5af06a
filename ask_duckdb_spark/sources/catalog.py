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
- One-task rule: a table small enough to answer in one task (one
  file of one row group, at most ``spark.sql.files.openCostInBytes``
  uncompressed, 4 MB by default) is registered by
  :func:`register_views` as a one-partition view, so an aggregate, a
  sort or a window over it runs as one job with no exchange. All its
  work after the scan then runs in that task, where AQE would have
  split a shuffle into up to one partition per core; the bound keeps
  the rule to sizes where aggregates, sorts and windows measured no
  slower in one task (a join that returns every row is slower, see
  :func:`register_views`). It cannot fire at scale: a table past 4 MB
  keeps the scan's partitions and today's plans.
  :func:`load_table` frames (the operators' input) are never coalesced.
- Small tables built in Python (the queuedata fixture, ring and
  merge lists) go through :func:`local_frame`: an Arrow LocalRelation
  the JVM scans itself, never a Python RDD.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping, Sequence
from typing import TYPE_CHECKING, Any

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

if TYPE_CHECKING:
    import pyarrow as pa

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
    Beside the frame it keeps the uncompressed size of the file's row
    group when the file holds exactly one (else ``None``), read from
    the same footer, for :func:`register_views`.
    """
    apply_runtime_conf(spark)
    cache: dict = spark.__dict__.setdefault(_MEMO, {})
    key = (os.path.abspath(sf_dir), name)
    if key not in cache:
        path = os.path.join(sf_dir, f"{name}.parquet")
        schema = one_group = None
        if os.path.isfile(path):
            import pyarrow.parquet as pq

            with pq.ParquetFile(path) as footer:  # a non-parquet file raises here
                schema = footer_schema(spark, footer.schema_arrow)
                if footer.metadata.num_row_groups == 1:
                    one_group = footer.metadata.row_group(0).total_byte_size
        reader = spark.read if schema is None else spark.read.schema(schema)
        cache[key] = (_events_fixup(reader.parquet(path), name), one_group)
    return cache[key][0]


def footer_schema(spark: SparkSession, arrow: pa.Schema) -> StructType | None:
    """The Spark schema a parquet footer's Arrow schema maps to.

    Gives what Spark's file-source inference gives (every field
    nullable) for the types the fixtures hold, and ``None`` for any
    other type (nanosecond timestamps, decimals, maps, structs, ...):
    the caller then infers.
    """
    import pyarrow as pa

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
_MEMO = "_adbs_table_cache"  # load_table's memo on the session
_ONE_TASK_BYTES = "spark.sql.files.openCostInBytes"


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
    """Register every fixture table as a temp view; return the views' frames.

    A table small enough to answer in one task — one ``{name}.parquet``
    file of one row group, whose uncompressed size is at most
    ``spark.sql.files.openCostInBytes`` (4 MB by default, the smallest
    split Spark's file scan makes) — is registered as one partition.
    ``coalesce(1)`` adds no shuffle, and its single partition satisfies
    the distribution an aggregate, a sort or a window asks for, so such
    a question plans no shuffle and runs as one job (a broadcast join
    still runs its broadcast as a job of its own). What that gives up
    is the parallelism after the scan: AQE
    (``coalescePartitions.parallelismFirst``, on by default) splits a
    shuffle into up to one partition per core, each at least
    ``coalescePartitions.minPartitionSize`` (1 MB), while the
    one-partition plan runs the whole question in one task. Up to the
    bound, aggregates, sorts and windows measured no slower in one
    task; at 13.6 MB (sf0.1 ``lineitem``) a window took 36% longer. A
    join that returns every row is slower at any size (the ``Coalesce``
    ends the scan's code-generated stage), which a preview's limit
    hides. Any other table keeps the scan's partitions.
    """
    java_utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    bound = java_utils.byteStringAsBytes(spark.conf.get(_ONE_TASK_BYTES))
    memo, root = spark.__dict__.setdefault(_MEMO, {}), os.path.abspath(sf_dir)
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        one_group = memo[(root, name)][1]
        if one_group is not None and one_group <= bound:
            df = df.coalesce(1)
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
