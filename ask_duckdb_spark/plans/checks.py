"""Physical-plan assertions — the ".explain and iterate" loop as code.

The reference never inspects plans (SURVEY.md §4.1: no EXPLAIN
anywhere); at 100 TB we must. These helpers parse
``df.explain("formatted")`` output so tests can PIN the physical
properties that make an operator scale — filter pushdown reached the
parquet scan, the dim join broadcast, the top-k compiled to
TakeOrderedAndProject, aggregation has a map-side partial phase —
instead of trusting that they happened once during development.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "formatted_plan",
    "pushed_filters",
    "scan_read_schema",
    "num_shuffles",
    "has_broadcast_join",
    "has_take_ordered",
    "has_partial_aggregate",
    "wholestage_codegen_count",
    "has_rdd_scan",
]


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Raw PushedFilters bodies, one string per scan with pushed filters."""
    return [
        m.group(1).strip()
        for m in re.finditer(r"PushedFilters: \[(.*?)\]", formatted_plan(df))
        if m.group(1).strip()
    ]


def scan_read_schema(df: DataFrame, table_hint: str = "") -> list[str]:
    """Column names in the (first matching) scan's ReadSchema.

    A scan whose ReadSchema lists columns the query never uses means
    column pruning failed — the 100 TB version reads dead bytes.
    """
    plan = formatted_plan(df)
    for m in re.finditer(r"Location:.*?(\S*parquet\S*).*?ReadSchema: struct<(.*?)>",
                         plan, re.DOTALL):
        if table_hint and table_hint not in m.group(0):
            continue
        body = m.group(2)
        return [f.split(":")[0].strip() for f in body.split(",") if f.strip()]
    # fallback: first ReadSchema anywhere
    m = re.search(r"ReadSchema: struct<(.*?)>", plan)
    if not m:
        return []
    return [f.split(":")[0].strip() for f in m.group(1).split(",") if f.strip()]


def num_shuffles(df: DataFrame) -> int:
    """Count of distinct Exchange operators (each is a shuffle stage).

    Formatted explain prints every operator twice (tree + detail
    section); dedupe on the operator id.
    """
    return len(set(re.findall(r"\((\d+)\) Exchange", formatted_plan(df))))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in (
        formatted_plan(df)
    )


def has_take_ordered(df: DataFrame) -> bool:
    """True when ORDER BY + LIMIT compiled to TakeOrderedAndProject —
    the plan that never globally sorts."""
    return "TakeOrderedAndProject" in formatted_plan(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """True when aggregation has a map-side partial phase before the
    shuffle (HashAggregate with partial mode)."""
    plan = formatted_plan(df)
    return bool(re.search(r"partial_|Partial", plan)) and "Aggregate" in plan


def wholestage_codegen_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees (wider is better: more of
    the plan fused into generated JVM loops).

    AQE wraps the plan in AdaptiveSparkPlan and defers codegen until
    runtime, so the subtree count reads 0 pre-execution; toggle AQE off
    for this one compilation (physical planning is lazy and re-reads
    the conf), then restore.

    Caveat: the DataFrame must be freshly built — a query execution
    whose physical plan was already materialized (e.g. by another check
    on the same object) keeps its AQE plan.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", text)
    return int(m.group(1)) if m else 0


def has_rdd_scan(df: DataFrame) -> bool:
    """True when the executed plan scans an RDD (``ExistingRDD``).

    A frame built from a Python list is one: each scan of it runs
    Python workers to unpickle the rows. Rows built in Python belong in a
    LocalRelation (``sources.catalog.local_frame``), scanned in the JVM.
    """
    return "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
