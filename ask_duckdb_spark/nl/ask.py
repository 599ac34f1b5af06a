"""End-to-end NL→SQL→execute pipeline (the reference's §3.1 lifecycle).

question → dictionary + schema context → prompts → LLM (or stub) →
repair pre-pass → :func:`~.repair.execute_with_repair` (read-only gate,
``spark.sql``, dialect-shim and repair retries) → DataFrame. The engine
boundary (reference: db.sql at query_llm.py:400-406) is Catalyst —
parse/analyze/optimize/AQE all happen inside ``spark.sql``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..introspect import build_tbl_schema, list_columns
from .context import build_prompts, render_context, select_relevant_context
from .dictionary import build_synonym_map
from .llm import LLMCallError, Provider
# ensure_readonly stays importable from here: the benchmark traces it by this name
from .repair import ensure_readonly, execute_with_repair, repair_sql  # noqa: F401

__all__ = ["AskResult", "answer_question"]


@dataclass
class AskResult:
    """Everything the CLI prints: raw completion, executed SQL, result."""

    question: str
    raw: str
    sql: str
    df: DataFrame


def answer_question(
    spark: SparkSession,
    table: str,
    question: str,
    provider: Provider,
    meta: dict[str, Any] | None = None,
    model: str | None = None,
    top_k: int = 12,
) -> AskResult:
    """Full lifecycle; the returned DataFrame is lazy (display decides
    how much to materialize, reference: query_llm.py:397-412).

    Mirrors query_llm.py:477-506: schema DDL → top-k context → prompts
    → provider call → fence strip → literal canonicalization → schema-
    aware repairs → execute. The repair pass runs unconditionally, as
    in the reference (valid SQL passes through the regexes unchanged),
    so the first statement Catalyst sees is already repaired. The table
    frame, its columns and the synonym map are looked up once and serve
    both the pre-pass and the execution retries.
    """
    df = spark.table(table)
    cols = set(list_columns(df))
    synonyms = build_synonym_map(meta)
    context_str = render_context(
        select_relevant_context(question, meta or {}, top_k=top_k)
    )
    system, user = build_prompts(question, table, build_tbl_schema(df), context_str)
    try:
        raw = provider(system, user, model=model)
    except Exception as e:  # ONLY the provider call is the LLM boundary
        raise LLMCallError(str(e)) from e
    sql = repair_sql(raw, actual_cols=cols, meta=meta, synonym_map=synonyms)
    out, sql, _ = execute_with_repair(spark, sql, cols, meta=meta, synonym_map=synonyms)
    return AskResult(question=question, raw=raw, sql=sql, df=out)
