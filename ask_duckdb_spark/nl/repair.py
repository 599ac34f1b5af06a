"""SQL-text auto-repair pipeline (R1–R7) + engine-driven retry loop.

These are the reference's genuinely original operators (SURVEY.md §2.7)
— pure string→string functions applied to LLM-generated SQL *before*
the engine parses it. Behavioral parity targets (reference file:line):

- R1 fence extraction        query_llm.py:46-54
- R2 alias→canonical rewrite query_llm.py:242-246 (map: :269-286)
- R3 'ONLINE' normalization  query_llm.py:248-249
- R4 fuzzy identifier repair query_llm.py:251-263 (allowlist :253-257)
- R5 literal canonicalization query_llm.py:289-332
- R6 map_values rewrite      query_llm.py:334-341 (deliberately global)
- R7 identifier quoting      query_llm.py:41-43 (Spark: backticks)

Pipeline order is fixed (query_llm.py:491-501): fences → strip →
canonicalize literals (R5+R6, metadata-driven) → schema-aware repairs
(R2+R3+R4). :func:`execute_with_repair` is the one place generated or
typed SQL is gated and run: NL answers reach it after the
:func:`repair_sql` pre-pass (``nl.ask.answer_question``), typed SQL
directly. A Catalyst parse/analysis failure moves it to the next
distinct candidate: the DuckDB→Spark dialect shim, then the repairs.
"""

from __future__ import annotations

import contextlib
import difflib
import logging
import re
import threading
from typing import Any

__all__ = [
    "is_fenced",
    "extract_fenced_code",
    "quote_ident",
    "canonicalize_literals",
    "fix_common_mistakes",
    "repair_sql",
    "execute_with_repair",
    "ensure_readonly",
    "SQL_KEYWORDS",
]

#: The repair allowlist: tokens the fuzzy pass must never rewrite.
#: Same 31-token vocabulary as the reference (query_llm.py:253-257) —
#: it defines the SQL dialect surface the tool expects — plus Spark's
#: JSON accessor so R4 never "repairs" it into a column name.
SQL_KEYWORDS: frozenset[str] = frozenset(
    {
        "select", "from", "where", "and", "or", "not", "in", "as", "on",
        "join", "left", "right", "inner", "outer", "group", "by", "order",
        "limit", "offset", "having", "distinct", "like", "ilike", "lower",
        "upper", "count", "sum", "avg", "min", "max", "json", "json_extract",
        "get_json_object",
    }
)

_FENCE_EXTRACT_RE = re.compile(r"```(.*?)\n(?P<code>.*?)\n```", re.DOTALL)
_IDENT_RE = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\b")

#: ONE left-to-right scan over string literals and comments. A single
#: alternation is essential: separate literal/comment passes compose
#: wrongly in either order (a ``--`` INSIDE a quoted literal would eat
#: the rest of the statement, or a quote inside a comment would open a
#: phantom literal).
_LITERAL_OR_COMMENT_RE = re.compile(
    r"'[^']*'|--[^\n]*|/\*.*?\*/", re.DOTALL
)


def _blank_literals_and_comments(sql: str) -> str:
    """SQL with literals emptied ('') and comments removed (space)."""
    return _LITERAL_OR_COMMENT_RE.sub(
        lambda m: "''" if m.group(0).startswith("'") else " ", sql
    )


# --------------------------------------------------------------------------
# R1 — markdown fence handling (query_llm.py:46-54)
# --------------------------------------------------------------------------


def is_fenced(text: str) -> bool:
    """True when the text contains an extractable fenced code block.

    Detection uses the same regex as extraction, so the two can never
    disagree (a ``[^`]*``-style detector would miss fences whose body
    contains backtick-quoted identifiers — which R7 itself produces).
    """
    return bool(_FENCE_EXTRACT_RE.search(text))


def extract_fenced_code(text: str) -> str | None:
    """Code body of the FIRST fenced block (language tag dropped)."""
    m = _FENCE_EXTRACT_RE.search(text)
    return m.group("code") if m else None


# --------------------------------------------------------------------------
# R7 — identifier quoting (query_llm.py:41-43; Spark dialect: backticks)
# --------------------------------------------------------------------------


def quote_ident(name: str) -> str:
    """Quote an identifier for Spark SQL (backticks, doubled to escape)."""
    return "`" + name.replace("`", "``") + "`"


# --------------------------------------------------------------------------
# R5 + R6 — metadata-driven literal canonicalization (query_llm.py:289-342)
# --------------------------------------------------------------------------


def canonicalize_literals(sql: str, meta: dict[str, Any] | None) -> str:
    """Normalize quoted literals per column canonicalization rules.

    R5: for columns with a ``case`` rule of lower/upper, rewrites
    ``col = 'VALUE'`` and ``LOWER(col) = 'VALUE'`` matches (whitespace-
    and case-insensitive) into the canonical compact form
    ``col='value'`` / ``LOWER(col)='value'``.

    R6: every ``map_values`` source literal is replaced globally and
    case-insensitively wherever it appears quoted in the statement — a
    deliberate behavior of the reference (query_llm.py:334-341): the
    rewrite is NOT scoped to predicates on that column. A ``null``
    target becomes SQL ``NULL`` (unquoted).
    """
    if not meta:
        return sql
    fixed = sql
    for col in meta.get("columns", []):
        name = col.get("name")
        if not name:
            continue
        canon = col.get("canonicalization") or {}
        case_rule = (canon.get("case") or "none").lower()

        if case_rule in ("lower", "upper"):

            def recase(lit: str) -> str:
                return lit.lower() if case_rule == "lower" else lit.upper()

            fixed = re.sub(
                rf"(?i)\b{re.escape(name)}\b\s*=\s*'([^']*)'",
                lambda m: f"{name}='{recase(m.group(1))}'",
                fixed,
            )
            fixed = re.sub(
                rf"(?i)LOWER\s*\(\s*{re.escape(name)}\s*\)\s*=\s*'([^']*)'",
                lambda m: f"LOWER({name})='{recase(m.group(1))}'",
                fixed,
            )

        for src, dst in (canon.get("map_values") or {}).items():
            replacement = "NULL" if dst is None else f"'{dst}'"
            fixed = re.sub(
                rf"(?i)'{re.escape(src)}'", lambda _m: replacement, fixed
            )
    return fixed


# --------------------------------------------------------------------------
# R2 + R3 + R4 — schema-aware repairs (query_llm.py:225-265)
# --------------------------------------------------------------------------


def fix_common_mistakes(
    sql: str,
    actual_cols: set[str],
    synonym_map: dict[str, str] | None = None,
) -> str:
    """Repair alias usage, literal case slip, and identifier typos.

    R2: each synonym alias is rewritten (word-bounded, case-insensitive)
    to its canonical column — but ONLY when the alias is not itself a
    real column and the canonical is (query_llm.py:242-246).

    R3: ``= 'ONLINE'`` (any case) → ``='online'`` — kept for parity even
    though R5 subsumes it when the dictionary is loaded
    (query_llm.py:248-249).

    R4: every identifier token that is neither an allowlisted keyword
    nor a real column is fuzzy-matched against the real columns
    (``difflib.get_close_matches``, n=1, cutoff 0.86) and, on a hit,
    replaced word-bounded and case-SENSITIVELY (query_llm.py:251-263).

    Two deliberate hardenings over the reference's regexes:
    - string literals are masked first, so R2/R3/R4 can never rewrite
      words INSIDE a quoted value (``LIKE '%state%'`` stays intact);
    - candidate/token iteration is sorted, so difflib ratio ties break
      identically on every run (a raw set order would make repaired
      SQL vary across interpreter processes).
    """
    # mask string literals: placeholders use \x01<digits>\x01, which the
    # identifier regexes cannot match, then restore at the end. Any
    # pre-existing \x01 in the input is dropped first (never legitimate
    # SQL) so a crafted payload can't address the placeholder table.
    literals: list[str] = []

    def _mask(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x01{len(literals) - 1}\x01"

    fixed = re.sub(r"'[^']*'", _mask, sql.replace("\x01", ""))

    for alias_lc in sorted(synonym_map or {}):
        canonical = synonym_map[alias_lc]
        if alias_lc not in actual_cols and canonical in actual_cols:
            fixed = re.sub(
                rf"\b{re.escape(alias_lc)}\b",
                canonical,
                fixed,
                flags=re.IGNORECASE,
            )

    tokens = set(_IDENT_RE.findall(fixed))
    unknowns = [
        tok
        for tok in sorted(tokens)
        if tok.lower() not in SQL_KEYWORDS and tok not in actual_cols
    ]
    candidates = sorted(actual_cols)
    for tok in unknowns:
        best = difflib.get_close_matches(tok, candidates, n=1, cutoff=0.86)
        if best:
            fixed = re.sub(rf"\b{re.escape(tok)}\b", best[0], fixed)

    fixed = re.sub(r"\x01(\d+)\x01", lambda m: literals[int(m.group(1))], fixed)
    # R3 runs on the restored text: its target IS a quoted literal
    fixed = re.sub(r"=\s*'ONLINE'", "='online'", fixed, flags=re.IGNORECASE)
    return fixed


# --------------------------------------------------------------------------
# Full pipeline (order fixed by reference query_llm.py:491-501)
# --------------------------------------------------------------------------


def repair_sql(
    raw: str,
    actual_cols: set[str],
    meta: dict[str, Any] | None = None,
    synonym_map: dict[str, str] | None = None,
) -> str:
    """R1 → strip → R5+R6 → R2+R3+R4, exactly the reference's order."""
    sql = extract_fenced_code(raw) if is_fenced(raw) else raw
    sql = (sql or raw or "").strip()
    if meta:
        sql = canonicalize_literals(sql, meta)
    return fix_common_mistakes(sql, actual_cols, synonym_map=synonym_map)


#: Leading keywords allowed by the read-only gate (matched by EXACT
#: equality on the first word after any opening parens). The reference
#: gets read-only for free from duckdb.connect(read_only=True)
#: (query_llm.py:443); Spark sessions are not read-only, so we gate at
#: the statement level (SURVEY.md §4.2).
_READONLY_KEYWORDS = frozenset(
    {"select", "with", "values", "explain", "describe", "show"}
)

#: Tokens that mutate data/metadata — rejected anywhere in the
#: statement (outside string literals), so a ``WITH cte AS (...)
#: INSERT INTO ...`` can't slip past the prefix check.
#: ``set`` and ``replace`` are deliberately absent: bare SET is already
#: stopped by the prefix gate, ``replace()`` is a legitimate SELECT
#: string function, and CREATE OR REPLACE trips on ``create``.
_MUTATION_RE = re.compile(
    r"\b(insert|update|delete|merge|drop|create|alter|truncate"
    r"|grant|revoke|copy|call|vacuum|refresh|uncache)\b",
    re.IGNORECASE,
)

#: Prefixes whose statements may legitimately CONTAIN mutation words
#: without executing them (SHOW CREATE TABLE, EXPLAIN INSERT analyzes
#: but never runs the write).
_INTROSPECTION_PREFIXES = ("show", "describe", "explain")


def ensure_readonly(sql: str) -> None:
    """Raise ValueError unless the statement is a read-only query.

    Two layers over ONE literal/comment-aware scan: (1) the first real
    token must be a query prefix; (2) for executable query prefixes, no
    mutation keyword may appear anywhere outside string literals and
    comments — catching WITH-prefixed DML. Biased toward safety: a
    SELECT whose *identifier* is literally named ``update`` is rejected
    (rename it); data values and comments never trip the gate.
    """
    cleaned = _blank_literals_and_comments(sql)
    # First KEYWORD, not first whitespace token: skip opening parens
    # (``(SELECT ...) UNION ...``) and compare by EQUALITY — a prefix
    # match would wave through any token merely *beginning* with an
    # allowed word (``selectivity_foo``) and let ``explain``-prefixed
    # identifiers skip the mutation scan (ADVICE r2).
    # the token pattern must consume trailing digits/underscores so
    # 'show1'/'explain2' capture whole (and fail the equality check)
    # instead of capturing the bare keyword and skipping the scan
    m = re.match(r"[\s(]*([A-Za-z_][A-Za-z0-9_]*)", cleaned)
    first = m.group(1).lower() if m else ""
    if first not in _READONLY_KEYWORDS:
        raise ValueError(
            f"read-only violation: statement starts with {first!r}; "
            "only SELECT/WITH/VALUES/EXPLAIN/DESCRIBE/SHOW are allowed"
        )
    if first in _INTROSPECTION_PREFIXES:
        return  # SHOW CREATE TABLE etc: mutation words are display-only
    m = _MUTATION_RE.search(cleaned)
    if m:
        raise ValueError(
            f"read-only violation: statement contains {m.group(0)!r}"
        )


#: PySpark's loggers that write a JSON record of every failed analysis
#: to stderr (``PySparkException._log_exception``); formatting it prints
#: the JVM stack trace a second time, over Py4J.
QUERY_CONTEXT_LOGGERS = ("SQLQueryContextLogger", "DataFrameQueryContextLogger")
_quiet_lock = threading.Lock()
_quiet: dict[str, Any] = {"depth": 0, "levels": [], "loggers": None}


@contextlib.contextmanager
def _quiet_query_context_loggers():
    """Set :data:`QUERY_CONTEXT_LOGGERS` above ERROR for the block, and
    restore their levels when the last of any overlapping blocks ends.

    The levels are process-wide: while any block is open, a failed
    analysis on any thread writes no query-context record. The loggers
    are fetched once, on first use (``PySparkLogger.getLogger`` swaps
    the global logger class while it runs)."""
    with _quiet_lock:
        if _quiet["loggers"] is None:
            from pyspark.logger import PySparkLogger

            _quiet["loggers"] = [PySparkLogger.getLogger(name)
                                 for name in QUERY_CONTEXT_LOGGERS]
        loggers = _quiet["loggers"]
        if _quiet["depth"] == 0:
            _quiet["levels"] = [lg.level for lg in loggers]
            for lg in loggers:
                lg.setLevel(logging.CRITICAL + 1)
        _quiet["depth"] += 1
    try:
        yield
    finally:
        with _quiet_lock:
            _quiet["depth"] -= 1
            if _quiet["depth"] == 0:
                for lg, level in zip(loggers, _quiet["levels"]):
                    lg.setLevel(level)


def execute_with_repair(
    spark,
    sql: str,
    actual_cols: set[str],
    meta: dict[str, Any] | None = None,
    synonym_map: dict[str, str] | None = None,
):
    """Gate and run SQL; on a parse/analysis failure try the next candidate.

    Returns ``(DataFrame, final_sql, repaired: bool)``. The candidates,
    in order: the statement as given; the dialect shim's translation
    (LLMs prompted for this tool family routinely emit DuckDB SQL, the
    reference's engine); the regex repairs of that translation
    (aliases, literal case, identifier typos). Each is built only when
    the one before it failed, and each DISTINCT candidate is gated and
    analyzed at most once: on a warm 4-core host a failed analysis costs
    about 75 ms through ``spark.sql`` against about 12 ms for a good one
    (PySpark's conversion of the Py4J error fetches the JVM stack
    trace), so an unchanged statement is never re-run. While the
    candidates run, PySpark's query-context loggers are quiet, process-
    wide (:data:`QUERY_CONTEXT_LOGGERS`): their record of each failure would
    print the stack trace a second time, about 50 ms more. The
    read-only gate raises at once; when every candidate fails analysis,
    the last error is re-raised. An error raised here carries the
    statement it was raised for as ``.sql``.
    """
    from pyspark.errors import AnalysisException, ParseException

    from .dialect_shim import to_spark_sql

    def candidates():
        yield sql
        shimmed = to_spark_sql(sql)
        yield shimmed
        yield repair_sql(shimmed, actual_cols, meta=meta, synonym_map=synonym_map)

    tried: list[str] = []
    with _quiet_query_context_loggers():
        for candidate in candidates():
            if candidate in tried:
                continue
            tried.append(candidate)
            try:
                ensure_readonly(candidate)
                return spark.sql(candidate), candidate, candidate != sql
            except (AnalysisException, ParseException) as e:
                e.sql, error = candidate, e
            except Exception as e:  # the read-only gate, or an engine fault
                e.sql = candidate
                raise
    raise error
