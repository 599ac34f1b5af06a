"""Shared operator helpers."""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Exact-money / portable-float arithmetic (VERDICT r5 §next-2)
#
# Hashed FLOAT AGGREGATES are the one construct that can diverge between
# engines (and between runs of the same engine at different partition
# counts): float addition is not associative, so an accumulation's last
# ulp depends on summation order, and engine-level ROUND semantics split
# on representation (Spark rounds the shortest decimal repr, DuckDB the
# binary value). The x28b entry was driver-red three rounds running on
# exactly this class while passing every local check. The portable
# discipline, applied to every oracle-paired aggregate over doubles:
#
#  1. quantize each input to an exact integer grid per ROW (fixture
#     money columns carry exactly 2 decimals, so cents are lossless);
#  2. aggregate INTEGERS — order-independent, bit-exact on any
#     partitioning, any host (DuckDB sums BIGINT into HUGEINT; Spark
#     sums into BIGINT — both exact; widen to decimal(38,0)/HUGEINT
#     where squares exceed ~9.2e18);
#  3. finish with ONE identical scalar float sequence on both engines
#     (cast -> divide [-> floor-round]) — deterministic IEEE ops on
#     identical inputs produce identical bits.
# ---------------------------------------------------------------------------


def icents(col: Column | str) -> Column:
    """2-decimal double -> exact integer cents (portable on both engines:
    ``floor(x*100 + 0.5)`` has no ties and no sign-split, unlike ROUND)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(100) + F.lit(0.5)).cast("long")


def icents_sql(expr: str) -> str:
    """DuckDB twin of :func:`icents`."""
    return f"CAST(floor(({expr}) * 100 + 0.5) AS BIGINT)"


def rev_units(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """``price * (1 - discount)`` as exact integer 1e-4 dollar units."""
    return icents(price) * (F.lit(100) - icents(disc))


def rev_units_sql(price: str = "l_extendedprice", disc: str = "l_discount") -> str:
    """DuckDB twin of :func:`rev_units`."""
    return f"({icents_sql(price)} * (100 - {icents_sql(disc)}))"


def money(sum_units: Column, scale: int) -> Column:
    """Exact integer units -> dollars double (single deterministic div)."""
    return sum_units.cast("double") / F.lit(float(scale))


def money_sql(sum_units_expr: str, scale: int) -> str:
    """DuckDB twin of :func:`money` (HUGEINT sums cast identically)."""
    return f"(CAST({sum_units_expr} AS DOUBLE) / {float(scale)!r})"


def floor_round(col: Column, digits: int) -> Column:
    """Portable ROUND replacement: floor(x*10^d + 0.5)/10^d — identical
    single-op IEEE sequence on both engines, collapses -0.0, no
    shortest-repr/HALF_UP split. Use ONLY on deterministic doubles."""
    p = float(10**digits)
    return F.floor(col * F.lit(p) + F.lit(0.5)) / F.lit(p)


def floor_round_sql(expr: str, digits: int) -> str:
    """DuckDB twin of :func:`floor_round`."""
    p = float(10**digits)
    return f"(floor(({expr}) * {p!r} + 0.5) / {p!r})"


def unpersist_with(result: DataFrame, cached: DataFrame) -> DataFrame:
    """Tie a cached intermediate's lifetime to the RESULT frame.

    Operators that persist() an intermediate feeding several branches
    of the plan they return cannot unpersist before the caller consumes
    the result — and a long-lived session that never calls clearCache
    accumulates dead cache blocks per invocation (ADVICE r5: x74/x91).
    This registers a finalizer on the returned DataFrame: the moment
    the caller releases it (typically right after collect/toPandas),
    the cache is dropped. Unpersist is always SAFE — a still-referenced
    plan silently recomputes — so the worst case of an early finalize
    is lost caching, never wrong results.

    COMPOSITION CONTRACT (r14, VERDICT r13 item 7): an operator that
    builds on another operator's returned frame must either keep that
    frame's PYTHON handle alive in its own result chain (chain another
    unpersist_with — the finalizer closure holds the reference) or
    persist at its own level; deriving a plan and dropping the handle
    fires the inner finalizer at build time, silently degrading every
    execution. All current compositions hold the chain; the r13 sweep's
    x74/x91 "rerun 15-40x slower" readings were instead an artifact of
    re-executing a RELEASED plan after clearCache (join strategies
    re-planned without cached-relation stats) — the driver never does
    that, so the r14 sweep rebuilt per rep (OPTIMIZATION_r14.md item 6;
    scripts/measure.py keeps that protocol).
    """

    def _drop(c=cached):
        try:
            c.unpersist()
        except Exception:
            pass  # session already stopped — nothing to clean

    weakref.finalize(result, _drop)
    return result


def release(df: DataFrame) -> None:
    """Free a frame's blocks now, whether it was persisted or checkpointed.

    A ``localCheckpoint`` frame's plan is a ``LogicalRDD`` whose RDD
    holds the blocks; ``DataFrame.unpersist()`` and ``clearCache()``
    do not see them, so without this they wait for ContextCleaner GC.
    Release only a frame nothing reads any more: a released checkpoint
    fails on read (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), it does not
    recompute.
    """
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    else:
        df.unpersist()


def widen(df: DataFrame) -> DataFrame:
    """Repartition to the core count when the scan under-partitions.

    CPU-heavy per-row stages (hashing, media decode) serialize when a
    small input arrives as 1-2 parquet footers (the fixtures have one
    row group per file); at 100 TB the scan already has >> cores
    partitions and this no-ops.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
