"""Corpus hygiene & decontamination operators (x133-x136).

Round-7 additions to the training-data-pipeline surface (SURVEY.md
§2.9), closing checks every large corpus build runs before
training and the registry did not yet express:

* x133 — eval-set n-gram DECONTAMINATION: which training documents
  share a token 8-gram with the held-out evaluation slice (the GPT-3
  appendix-C / Brown et al. 2020 procedure that keeps benchmark answers
  out of the training set). Distinct from x96 (leakage-safe SPLIT of
  near-dup clusters) and x91 (pairwise containment): x133 screens the
  full training partition against a designated eval set at n-gram
  granularity, the form labs actually publish.
* x134 — tokenizer FERTILITY per source: BPE-ish tokens per word and
  characters per token — the "how expensive is this source to train
  on" economics check, and the signal that a source's text is
  tokenizer-hostile (code, URLs, non-Latin scripts inflate fertility).
* x135 — character-class composition audit per source: ppm of
  letters / digits / whitespace / punctuation / other, plus control
  characters — the ingest QA screen that catches binary-as-text,
  mojibake floods, and markup-heavy sources before they hit the
  tokenizer (x113's per-document entropy is the information-theoretic
  sibling; this is the per-source composition ledger).
* x136 — the eval-side LEAK REPORT: x133's inverse view (which
  benchmark items are compromised, and how broadly), off the same
  gram frame.

Float discipline: everything here is exact integer counting closed by
integer ppm division (``(a * 1000000) // b``) — no float appears in
any hashed column, so the oracles are hash-exact by construction
(tests/test_float_portability.py's bans hold vacuously).

The ingest-time streaming twin of x133 lives in
``streaming/decontam.py`` (drop contaminated docs as they arrive,
against a static eval-gram frame), parity-pinned by
tests/test_streaming_decontam.py.

Reference parity note: the reference (PalNilsson/ask-duckdb) has no
corpus surface; these extend §2.9 alongside x1-x132.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.porthash import PH_B, PH_P, token_hash60_sql, token_hash60_sparksql
from ..functions.text import WS_CLASS
from ..sources.catalog import load_table
from .dedup import W_SPAN, _TOKENS_SQL
from .registry import query
from .textstats import BPE_PATTERN, _TOKENS_ORACLE

# ---------------------------------------------------------------------------
# x133 — eval-set n-gram decontamination
# ---------------------------------------------------------------------------

#: Every doc_id divisible by this is the held-out EVAL slice (a
#: deterministic 10% fixture split; a real pipeline feeds its actual
#: benchmark corpus here — the plan is identical).
EVAL_MOD = 10


def _gram_hashes_spark() -> tuple[str, str]:
    """Spark-SQL fragments ``(wins_sql, th_sql)``: strict
    W_SPAN-token-window polynomial gram hashes of ``text`` (x68's
    shingle construction, but STRICT — a doc shorter than the window
    emits no grams, since a partial gram cannot equal a full one).
    ``th_sql`` builds the per-token hash array ``_th``; ``wins_sql``
    folds it into the window hashes."""
    token_h = f"{token_hash60_sparksql('t')} % {PH_P}L"
    th = (
        "transform(filter(split(lower(text), '[ \\\\t\\\\n\\\\r\\\\x0B\\\\f]+'), t -> t != ''), "
        f"t -> {token_h})"
    )
    return (
        f"transform(sequence(1, size(_th) - {W_SPAN - 1}), "
        f"i -> aggregate(slice(_th, i, {W_SPAN}), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * {PH_B}L + x) % {PH_P}L))"
    ), th


def _doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, h) strict-window gram hashes of a document frame."""
    wins_sql, th_sql = _gram_hashes_spark()
    return (
        docs.selectExpr("doc_id", f"{th_sql} AS _th")
        .filter(F.size("_th") >= W_SPAN)
        .selectExpr("doc_id", f"explode({wins_sql}) AS h")
    )


_X133_ORACLE = f"""
WITH th AS (
  SELECT doc_id,
         list_transform({_TOKENS_SQL},
                        t -> {token_hash60_sql('t')} % {PH_P}) AS th
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(th) - {W_SPAN - 2}),
           i -> list_reduce(list_slice(th, i, i + {W_SPAN - 1}),
                            (a, b) -> (a * {PH_B} + b) % {PH_P}))) AS h
  FROM th WHERE len(th) >= {W_SPAN}
), ev AS (
  SELECT DISTINCT h FROM grams WHERE doc_id % {EVAL_MOD} = 0
)
SELECT g.doc_id,
       CAST(count(DISTINCT g.h) AS BIGINT) AS n_shared_grams,
       CAST(count(*) AS BIGINT) AS n_gram_hits
FROM grams g JOIN ev USING (h)
WHERE g.doc_id % {EVAL_MOD} <> 0
GROUP BY g.doc_id
ORDER BY n_shared_grams DESC, g.doc_id
"""


@query("x133_eval_decontam", oracle=_X133_ORACLE)
def x133_eval_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training documents contaminated by the eval slice's n-grams.

    The benchmark-decontamination screen (GPT-3 appendix C; repeated by
    every serious corpus build since): hash every overlapping
    W_SPAN-token window (x68's portable polynomial fold over the shared
    md5 token hash — engine-portable, so the full procedure is
    oracle-checkable), take the DISTINCT gram set of the eval slice
    (doc_id % {EVAL_MOD} == 0 here; the real benchmark corpus in
    production), and report every TRAINING document sharing at least
    one gram: how many distinct eval grams it hits and how many of its
    windows are contaminated. The pipeline action is to drop or trim
    those documents before training (the streaming twin in
    streaming/decontam.py does exactly that at ingest time).

    Scale (100 TB): gram hashing is a narrow map (8 bytes/window leave
    the scan, never the gram text); the eval gram set is
    benchmark-sized — millions of grams, not corpus-sized — so the
    contamination join is a broadcast semi-join against the corpus's
    gram stream at real scale (here it is a gram-keyed shuffle join so
    the oracle can mirror it; x117's bloom pre-filter composes in front
    of either form to cut the shuffle to near-zero on the clean
    majority). The per-doc rollup is map-side combinable. Nothing in
    the plan holds corpus-sized state.
    """
    return _contaminated_docs(spark, sf_dir, broadcast=False)


@query("x133b_eval_decontam_bcast", oracle=_X133_ORACLE)
def x133b_eval_decontam_bcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x133's contamination join in its SCALE form: eval grams BROADCAST.

    Same contract and oracle as x133 (pytest pins row equality and
    plan-asserts the BroadcastHashJoin). The registered x133 keeps the
    gram-keyed shuffle join so the oracle mirrors the plan shape; this
    twin is the plan you actually run at 100 TB — the eval gram set is
    benchmark-sized (millions of 8-byte hashes, bounded by the
    benchmark suite, NOT by the corpus), so it ships to every executor
    once and the corpus's gram stream is filtered WHERE IT IS PRODUCED:
    zero shuffle of training grams, no exchange that grows with the
    corpus. The per-doc rollup that follows is map-side combinable on
    the (already doc_id-clustered) surviving grams. x117's bloom filter
    composes in FRONT of this broadcast probe when even hashing the
    clean majority's grams is worth skipping.
    """
    return _contaminated_docs(spark, sf_dir, broadcast=True)


def _contaminated_docs(spark: SparkSession, sf_dir: str, broadcast: bool) -> DataFrame:
    """x133's per-training-doc contamination rollup; ``broadcast``
    ships the eval gram set to the join (x133b) instead of shuffling
    both sides on the gram (x133)."""
    d = load_table(spark, sf_dir, "documents")
    # Filter each slice BEFORE gram construction so the cheap modulo
    # predicate sits ahead of the expensive tokenize+hash conjunct in
    # the fused scan Filter (Catalyst keeps conjunct order; the
    # single-grams-frame formulation tokenized 90% of docs on the eval
    # side only to drop them — plan-audited r7).
    ev = _doc_grams(d.filter(F.col("doc_id") % EVAL_MOD == 0)).select("h").distinct()
    return (
        _doc_grams(d.filter(F.col("doc_id") % EVAL_MOD != 0))
        .join(F.broadcast(ev) if broadcast else ev, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").cast("bigint").alias("n_shared_grams"),
            F.count(F.lit(1)).cast("bigint").alias("n_gram_hits"),
        )
        .orderBy(F.desc("n_shared_grams"), "doc_id")
    )


# ---------------------------------------------------------------------------
# x134 — tokenizer fertility per source
# ---------------------------------------------------------------------------

#: Explicit whitespace class for the nonspace strip (ADVICE r7,
#: generalized to every tokenizer site in r8 — functions/text.py):
#: Java's whitespace escape includes vertical tab \\x0B while DuckDB's
#: RE2 one does not, so a \\x0B-bearing document would split n_chars
#: between the engines. Both dialects parse these explicit escapes
#: identically; x135 already uses explicit classes throughout.
_WS_CLASS = WS_CLASS

_X134_ORACLE = f"""
WITH per_doc AS (
  SELECT source,
         len({_TOKENS_ORACLE}) AS words,
         len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe,
         length(regexp_replace(text, '{_WS_CLASS}+', '', 'g')) AS nonspace
  FROM documents
), s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(words) AS BIGINT) AS n_words,
         CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
         CAST(sum(nonspace) AS BIGINT) AS n_chars
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, n_words, n_bpe_tokens, n_chars,
       CAST((n_bpe_tokens * 1000000) // greatest(n_words, 1) AS BIGINT)
         AS fertility_ppm,
       CAST((n_chars * 1000000) // greatest(n_bpe_tokens, 1) AS BIGINT)
         AS chars_per_token_ppm
FROM s ORDER BY source
"""


@query("x134_tokenizer_fertility", oracle=_X134_ORACLE)
def x134_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility and compression per source.

    fertility = BPE-ish tokens per whitespace word (x21's pre-tokenizer
    over the shared word tokenizer); chars_per_token = non-whitespace
    characters per BPE token. Both are the standard tokenizer-economics
    metrics: fertility >> 1e6 ppm flags sources the tokenizer fragments
    (code, URLs, unsupported scripts) — they cost more sequence length
    per byte of signal, which changes mixture economics (x60/x98) and
    packing density (x30/x54).

    Exactness: per-row integer counts, BIGINT sums (map-side
    combinable, order-independent), integer ppm division at the edge —
    no float anywhere, hash-exact by construction.

    Scale (100 TB): ONE scan, one |sources|-row combinable aggregate;
    the same shape as x82's source cards. The two regexes pipeline into
    the parquet read inside WholeStageCodegen.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.size(F.filter(F.split(F.lower("text"), r"[ \t\n\r\x0B\f]+"), lambda t: t != ""))
    bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0))
    nonspace = F.length(F.regexp_replace("text", f"{_WS_CLASS}+", ""))
    s = (
        d.select(
            "source",
            words.alias("words"),
            bpe.alias("bpe"),
            nonspace.alias("nonspace"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("words").cast("bigint").alias("n_words"),
            F.sum("bpe").cast("bigint").alias("n_bpe_tokens"),
            F.sum("nonspace").cast("bigint").alias("n_chars"),
        )
    )
    return s.select(
        "source",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        F.expr("CAST((n_bpe_tokens * 1000000) DIV greatest(n_words, 1) AS BIGINT)")
        .alias("fertility_ppm"),
        F.expr(
            "CAST((n_chars * 1000000) DIV greatest(n_bpe_tokens, 1) AS BIGINT)"
        ).alias("chars_per_token_ppm"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# x135 — character-class composition audit per source
# ---------------------------------------------------------------------------

#: (output column, regex of characters NOT in the class — the count is
#: length(text) - length(regexp_replace(text, keep, ''))), expressed as
#: "strip everything outside the class, count what remains".
_CLASSES: tuple[tuple[str, str], ...] = (
    ("letter", "[^A-Za-z]"),
    ("digit", "[^0-9]"),
    ("space", "[^ \\t\\n\\r]"),
    ("punct", "[^!-/:-@\\[-`{-~]"),
)


def _x135_oracle() -> str:
    per = [
        f"length(regexp_replace(text, '{rx}', '', 'g')) AS c_{name}"
        for name, rx in _CLASSES
    ]
    sums = [f"CAST(sum(c_{name}) AS BIGINT) AS s_{name}" for name, _ in _CLASSES]
    ppms = [
        f"CAST((s_{name} * 1000000) // greatest(total_chars, 1) AS BIGINT)"
        f" AS {name}_ppm"
        for name, _ in _CLASSES
    ]
    return f"""
    WITH per_doc AS (
      SELECT source, length(text) AS n, {", ".join(per)},
             length(regexp_replace(text,
               '[^\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) AS c_ctrl
      FROM documents
    ), s AS (
      SELECT source,
             CAST(sum(n) AS BIGINT) AS total_chars,
             {", ".join(sums)},
             CAST(sum(c_ctrl) AS BIGINT) AS n_control
      FROM per_doc GROUP BY source
    )
    SELECT source, total_chars, {", ".join(ppms)},
           CAST((total_chars - s_letter - s_digit - s_space - s_punct)
                * 1000000 // greatest(total_chars, 1) AS BIGINT) AS other_ppm,
           n_control
    FROM s ORDER BY source
    """


@query("x135_charclass_audit", oracle=_x135_oracle())
def x135_charclass_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class composition (ppm) + control-char count.

    The ingest QA screen that catches binary-as-text (other_ppm spikes),
    markup floods (punct_ppm), number dumps (digit_ppm), and embedded
    control characters before tokenization. Complements x113 (per-doc
    entropy: statistical) with an interpretable per-source ledger —
    what a dataset card's "composition" section reports (x82's sibling).

    Exactness: class counts are per-row integers via strip-and-measure
    (length after removing everything outside the class — one regex per
    class, identical on both engines), BIGINT sums, integer ppm
    division. ``other_ppm`` is derived by subtraction so the five ppm
    columns decompose total_chars exactly.

    Scale (100 TB): ONE scan, |sources|-row combinable aggregate; the
    regexes pipeline into the read. At real scale this runs fused with
    x134 in the same pass (both are per-source ledgers off one scan).
    """
    d = load_table(spark, sf_dir, "documents")
    cols = [F.col("source"), F.length("text").alias("n")]
    for name, rx in _CLASSES:
        cols.append(
            F.length(F.regexp_replace("text", rx, "")).alias(f"c_{name}")
        )
    cols.append(
        F.length(
            F.regexp_replace(
                "text", "[^\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""
            )
        ).alias("c_ctrl")
    )
    s = (
        d.select(*cols)
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("total_chars"),
            *[
                F.sum(f"c_{name}").cast("bigint").alias(f"s_{name}")
                for name, _ in _CLASSES
            ],
            F.sum("c_ctrl").cast("bigint").alias("n_control"),
        )
    )
    ppm = [
        F.expr(
            f"CAST((s_{name} * 1000000) DIV greatest(total_chars, 1) AS BIGINT)"
        ).alias(f"{name}_ppm")
        for name, _ in _CLASSES
    ]
    other = F.expr(
        "CAST((total_chars - s_letter - s_digit - s_space - s_punct)"
        " * 1000000 DIV greatest(total_chars, 1) AS BIGINT)"
    ).alias("other_ppm")
    return s.select("source", "total_chars", *ppm, other, "n_control").orderBy(
        "source"
    )


# ---------------------------------------------------------------------------
# x136 — eval-side leak report (x133's inverse view)
# ---------------------------------------------------------------------------

_X136_ORACLE = f"""
WITH th AS (
  SELECT doc_id,
         list_transform({_TOKENS_SQL},
                        t -> {token_hash60_sql('t')} % {PH_P}) AS th
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(th) - {W_SPAN - 2}),
           i -> list_reduce(list_slice(th, i, i + {W_SPAN - 1}),
                            (a, b) -> (a * {PH_B} + b) % {PH_P}))) AS h
  FROM th WHERE len(th) >= {W_SPAN}
), ev AS (
  SELECT doc_id AS eval_id, h FROM grams WHERE doc_id % {EVAL_MOD} = 0
), tr AS (
  SELECT DISTINCT doc_id AS train_id, h FROM grams
  WHERE doc_id % {EVAL_MOD} <> 0
)
SELECT ev.eval_id,
       CAST(count(DISTINCT tr.train_id) AS BIGINT) AS n_train_docs,
       CAST(count(DISTINCT ev.h) AS BIGINT) AS n_leaked_grams
FROM ev JOIN tr USING (h)
GROUP BY ev.eval_id
ORDER BY n_train_docs DESC, ev.eval_id
"""


@query("x136_eval_leak_report", oracle=_X136_ORACLE)
def x136_eval_leak_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which EVAL documents are leaked into the training partition.

    x133's inverse view, for the benchmark owner: per compromised eval
    document, how many training documents carry at least one of its
    grams and how many of its distinct grams appear in training. The
    two remediations differ by which side you read — x133 says "drop
    these training docs", this says "these benchmark items are
    compromised; exclude them from scoring (or re-draw them)". Both
    run off the SAME gram frame, so at scale they are one pass with
    two rollups.

    Scale (100 TB): x133b's posture applied to this view (r13 rewrite).
    The EVAL side is the benchmark-sized one, so it is the broadcast
    side — (eval_id, h) ships to every executor once and the TRAINING
    gram stream is probed where it is produced: zero shuffle of corpus
    grams. The pre-join ``tr.distinct()`` of the old shape — a full
    shuffle of the 90% training gram stream — is GONE: both output
    measures are COUNT(DISTINCT ...), so duplicate train grams
    multiplying join rows cannot change any count (the r13 diffcheck
    re-proved hash-equality against the unchanged oracle, which keeps
    its SELECT DISTINCT). What still shuffles is the per-eval-doc
    distinct-count rollup over HIT pairs only — bounded by
    contamination volume, not the corpus. The hot-gram pathology (a
    boilerplate gram in millions of training docs) is what x51's
    domain-cap / x2's MAX_BUCKET guard bounds if it appears.
    """
    d = load_table(spark, sf_dir, "documents")
    # modulo-before-grams, as in x133 (plan-audited r7)
    ev = _doc_grams(d.filter(F.col("doc_id") % EVAL_MOD == 0)).select(
        F.col("doc_id").alias("eval_id"), "h"
    )
    tr = _doc_grams(d.filter(F.col("doc_id") % EVAL_MOD != 0)).select(
        F.col("doc_id").alias("train_id"), "h"
    )
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("eval_id")
        .agg(
            F.countDistinct("train_id").cast("bigint").alias("n_train_docs"),
            F.countDistinct("h").cast("bigint").alias("n_leaked_grams"),
        )
        .orderBy(F.desc("n_train_docs"), "eval_id")
    )
