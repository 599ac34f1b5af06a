"""Natural-language → SQL intelligence layer (SURVEY.md §2.7–§2.8).

The reference's second pillar: a data dictionary, relevance-ranked
prompt context, LLM provider clients, and a five-stage SQL auto-repair
pipeline, all running *before* the engine parses anything. Here the
engine is Catalyst (``spark.sql``), so the repair layer targets Spark's
SQL dialect and the dictionary emits ``spark_access`` hints.

Module map (reference parity targets in parentheses):

- :mod:`.dictionary` — load/write/validate the JSON data dictionary,
  synonym map, skeleton generation from a Spark schema (S11, C7, R2's
  alias map; reference: query_llm.py:79-82, 164-218, 269-286)
- :mod:`.repair`     — the R1–R7 SQL-text repair pipeline, the read-
  only gate, and ``execute_with_repair``: the one executor of generated
  or typed SQL, retrying on Catalyst errors (reference:
  query_llm.py:46-54, 225-342)
- :mod:`.dialect_shim` — DuckDB→Spark SQL translation, the executor's
  first retry
- :mod:`.context`    — relevance scoring, context rendering, prompt
  assembly (C1–C3; reference: query_llm.py:20-35, 85-158)
- :mod:`.llm`        — provider clients with a deterministic offline
  stub (C4–C6; reference: query_llm.py:348-390)
- :mod:`.ask`        — ``answer_question``, the one NL pipeline:
  context → prompts → provider → repair pre-pass → execute_with_repair
  (reference: query_llm.py:477-506)
"""

from . import ask, context, dictionary, llm, repair  # noqa: F401
