"""Local differential harness mimicking the driver's correctness gate.

Runs each registered query on Spark and its DuckDB oracle twin on the
same parquet fixtures, then compares row-count + (sorted) schema +
values (rows sorted). Float columns are compared BIT-EXACT, the only
mode (uint64 view of the float64 payload, so +0.0 vs -0.0 and last-ulp
divergences FAIL, exactly like the driver's exact value hash — the r5
x28b lesson: a tolerance compare here passed three rounds of queries the
driver hashed red).

``check`` is the per-entry check and ``compare`` the repo's one
Spark-vs-DuckDB comparator: tier-1 runs ``check`` over the whole
registry (tests/test_oracle_parity.py) and the fuzz suite over
generated fixtures (tests/test_fuzz_differential.py).

Usage: python scripts/diffcheck.py [--sf SF_DIR] [names...]   (SF_DIR defaults to the sf0.01 fixtures)
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ask_duckdb_spark.operators import ORACLES, QUERIES  # noqa: E402
from ask_duckdb_spark.session import get_spark  # noqa: E402
from ask_duckdb_spark.sources.catalog import duckdb_conn  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    sort_cols = list(df.columns)
    return df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if list(a.columns) != list(b.columns):
        problems.append(f"columns spark={list(a.columns)} duck={list(b.columns)}")
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            # int64-vs-float64 is a FAIL, not a coercion: the driver's
            # value hash distinguishes 6172 from 6172.0, so an oracle
            # that materializes float64 (e.g. DuckDB HUGEINT from a
            # bare windowed sum(BIGINT)) against Spark's int64 ships a
            # hash-red even though the coerced values compare equal —
            # the r06 x81/x83/x90 signature.
            if pd.api.types.is_integer_dtype(av) != pd.api.types.is_integer_dtype(bv):
                problems.append(
                    f"col {c}: dtype mismatch spark={av.dtype} duck={bv.dtype}"
                    " (int-vs-float — driver hash WILL differ; cast the"
                    " oracle, e.g. CAST(sum(...) OVER (...) AS BIGINT))"
                )
                continue
            av = pd.to_numeric(av, errors="coerce").astype(float)
            bv = pd.to_numeric(bv, errors="coerce").astype(float)
            # Bit-exact: the driver hashes values exactly, so -0.0 vs
            # +0.0 and 1-ulp drift must FAIL here too. NaN==NaN is
            # allowed regardless of payload bits (both sides surface
            # NULL/NaN as quiet NaN through pandas).
            ab = av.to_numpy(dtype=np.float64).view(np.uint64)
            bb = bv.to_numpy(dtype=np.float64).view(np.uint64)
            close = (ab == bb) | (av.isna() & bv.isna()).to_numpy()
            if not close.all():
                i = int(np.argmin(close))
                problems.append(f"col {c}: row {i} spark={av[i]!r} duck={bv[i]!r}")
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                i = int(np.argmin(eq.values))
                problems.append(f"col {c}: row {i} spark={av[i]!r} duck={bv[i]!r}")
    return problems


def check(spark, con, name: str, sf_dir: str) -> tuple[str, list[str], int]:
    """Run one registry entry on Spark, then its DuckDB oracle on
    ``con`` (views over the same ``sf_dir``), and compare.

    Returns ``(status, problems, n_rows)``: status is ``PASS``,
    ``VACUOUS`` (a pass on 0 rows, which proves nothing), ``FAIL`` or,
    for an entry without an oracle, ``ROWS-ONLY``; ``n_rows`` is the
    Spark side's row count.
    """
    try:
        sdf = QUERIES[name](spark, sf_dir).toPandas()
    except Exception as e:
        return "FAIL", [f"spark raised {type(e).__name__}: {e}"], 0
    finally:
        # Operators that persist() intermediates feeding multiple
        # consumers (x2's signatures, x27's centroids, x29's labels,
        # x38's sketch) cannot unpersist before their result is
        # consumed; the long-lived caller is the owner of cleanup.
        spark.catalog.clearCache()
    if name not in ORACLES:
        return "ROWS-ONLY", [], len(sdf)
    try:
        ddf = con.sql(ORACLES[name]).df()
    except Exception as e:
        return "FAIL", [f"oracle raised {type(e).__name__}: {e}"], len(sdf)
    problems = compare(sdf, ddf)
    if problems:
        return "FAIL", problems, len(sdf)
    return ("PASS" if len(sdf) else "VACUOUS"), [], len(sdf)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = args.names or sorted(QUERIES)
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # Driver-simulation mode: a bare session with NONE of our tuned
        # confs, exactly what the correctness harness might hand us.
        # Operators must survive via apply_runtime_conf in load_table.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("diffcheck-vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark("diffcheck")
    con = duckdb_conn(args.sf)
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        status, problems, n_rows = check(spark, con, name, args.sf)
        dt = time.time() - t0
        if status == "FAIL":
            print(f"FAIL {name}: {problems[:3]}")
            n_fail += 1
        elif status == "ROWS-ONLY":
            tag = "ROWS-ONLY" if n_rows else "ROWS-ONLY(EMPTY!)"
            print(f"{tag} {name}: {n_rows} rows [{dt:.1f}s]")
            n_rows_only += 1
        else:
            empty = " (0 rows — vacuous)" if status == "VACUOUS" else ""
            print(f"PASS {name}: {n_rows} rows [{dt:.1f}s]{empty}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
