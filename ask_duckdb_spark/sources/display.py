"""Result display sinks — parity with the reference's output protocol.

The reference prints ``=== Query result (N rows) ===`` then a pandas
head capped at ``max_rows`` with a truncation notice (reference:
query_db.py:20-51, query_llm.py:397-412).

Scale posture: we never ``collect()`` an unbounded result. The row
count is computed engine-side (``df.count()``), and only ``limit(max_rows)``
rows cross the Arrow boundary to pandas — the exact analogue of the
reference's ``df.head(max_rows)`` display cap, but without materializing
the full result on the driver first.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame


def result_preview(df: DataFrame, max_rows: int = 1000, count: bool = True):
    """Return (total_rows or None, pandas preview of at most max_rows).

    Fetches ``max_rows + 1`` rows in one fetch; when the result fits the
    cap the exact count is free. Only a truncated result (+``count=True``)
    pays a second, count-only fetch — and that one is cheap because
    Catalyst prunes every column out of a ``count()`` scan.

    A fetch is one Spark job only when its plan has no exchange, as over
    one-partition inputs (``register_views``' one-task views, the
    queuedata fixture). Otherwise AQE runs each exchange's stage as a
    job of its own before the final one.
    """
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) <= max_rows:
        return len(pdf), pdf
    total = df.count() if count else None
    return total, pdf.iloc[:max_rows]


def display_rows(df: DataFrame, max_rows: int = 1000, file=None) -> int:
    """S7: row-iterator fallback sink (no pandas/Arrow dependency).

    Parity with the reference's ``fetchall`` path (query_db.py:33-48):
    manual header, ``|``-joined values, truncation notice. Uses
    ``take(max_rows + 1)`` — never collects the full result.
    """
    file = file or sys.stdout
    rows = df.take(max_rows + 1)
    truncated = len(rows) > max_rows
    rows = rows[:max_rows]
    label = f">{max_rows}" if truncated else f"{len(rows)}"
    print(f"=== Query result ({label} rows) ===", file=file)
    if not rows:
        print("(no rows)", file=file)
        return 0
    cols = df.columns
    print(" | ".join(cols), file=file)
    print("-" * (sum(len(c) for c in cols) + 3 * (len(cols) - 1)), file=file)
    for r in rows:
        print(" | ".join(str(v) for v in r), file=file)
    if truncated:
        print(f"... truncated to first {max_rows} rows ...", file=file)
    return len(rows)


def display_result(
    df: DataFrame, max_rows: int = 1000, count: bool = True, file=None
) -> int:
    """Print a result the way the reference does; return total rows."""
    file = file or sys.stdout
    total, pdf = result_preview(df, max_rows=max_rows, count=count)
    shown = len(pdf)
    label = f"{total}" if total is not None else f">{shown}"
    print(f"=== Query result ({label} rows) ===", file=file)
    if shown == 0:
        print("Empty DataFrame", file=file)
        return 0
    print(pdf.to_string(index=False), file=file)
    if total is None or total > shown:
        print(f"\n... truncated to first {shown} rows ...", file=file)
    return total if total is not None else shown
