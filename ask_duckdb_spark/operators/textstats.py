"""Text-analysis operators (X4) over the ``documents`` table.

The reference has no text analytics (its engine runs arbitrary SQL,
reference: query_llm.py:400); these are the north-star training-data
operators (SURVEY.md §2.9): tokenization/word stats, corpus term
frequencies, quality scoring, n-gram language-ID, and document
fingerprinting (rolling hash).

Everything is JVM-side expression code — ``F.split`` / ``explode`` /
``aggregate`` — no Python UDFs in any hot path. Scale posture (100 TB):

- per-doc stats are a narrow map (no shuffle at all);
- corpus term frequency is one map-side-combinable keyed shuffle of
  (token, 1) pairs — the canonical word-count shape;
- the rolling-hash fingerprint folds characters inside the row
  (``F.aggregate``), shuffling only a single BIGINT per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table, local_frame
from ._util import floor_round, floor_round_sql
from .registry import query

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately deterministic and engine-portable (the same
#: arithmetic is expressible in the DuckDB oracle).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}

FP_MOD = 1_000_000_007  # rolling-hash modulus (fits BIGINT at 31x steps)


from ..functions.porthash import (  # noqa: E402
    PH_P,
    perm_constants,
    token_hash60,
    token_hash60_sparksql,
    token_hash60_sql,
)
from ..functions.text import char_ngrams, tokens  # noqa: E402


@query(
    "x8_token_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT)                        AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT)         AS n_unique,
           CAST(length(text) AS BIGINT)                     AS n_chars
    FROM (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                         t -> t <> '') AS toks
      FROM documents
    )
    """,
)
def x8_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts — pure narrow map, zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


@query(
    "x9_top_terms",
    oracle=r"""
    SELECT tok, CAST(count(*) AS BIGINT) AS freq
    FROM (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                                t -> t <> '')) AS tok
      FROM documents
    )
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 20
    """,
)
def x9_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 term frequency (word-count with a total order).

    explode → groupBy is map-side combinable; the orderBy+limit compiles
    to TakeOrderedAndProject so only 20 rows reach the driver.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(20)
    )


@query(
    "x10_quality_score",
    oracle=rf"""
    SELECT doc_id,
           CAST(n_tokens AS BIGINT)                     AS n_tokens,
           {floor_round_sql("avg_tok_len", 6)}          AS avg_tok_len,
           {floor_round_sql("stopword_ratio", 6)}       AS stopword_ratio,
           {floor_round_sql("unique_ratio", 6)}         AS unique_ratio,
           CASE WHEN n_tokens >= 20
                 AND stopword_ratio BETWEEN 0.01 AND 0.5
                 AND unique_ratio >= 0.2
                THEN 1 ELSE 0 END                       AS quality_ok
    FROM (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is')))
                  AS DOUBLE) / greatest(len(toks), 1)   AS stopword_ratio,
             CAST(len(list_distinct(toks)) AS DOUBLE)
                  / greatest(len(toks), 1)              AS unique_ratio,
             -- coalesce: list_aggregate over an EMPTY token list is
             -- NULL in DuckDB while Spark's array_join gives '' — a
             -- zero-token doc must read 0.0 on both engines (found by
             -- tests/test_fuzz_differential.py)
             CAST(coalesce(length(list_aggregate(toks, 'string_agg', '')), 0)
                  AS DOUBLE) / greatest(len(toks), 1)   AS avg_tok_len
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                           t -> t <> '') AS toks
        FROM documents
      )
    )
    """,
)
def x10_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality gate (length / stopword / diversity).

    The three ratios are the standard cheap pre-filters of an LLM data
    pipeline. Ratios are floor-rounded to 6 dp on both sides (the
    portable ROUND replacement — identical IEEE sequence on both
    engines) so the value hash is float-stable. Narrow map — no shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1))
    stop = F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"])))
    uniq = F.size(F.array_distinct(toks))
    tok_chars = F.length(F.array_join(toks, ""))
    stopword_ratio = stop.cast("double") / safe_n
    unique_ratio = uniq.cast("double") / safe_n
    avg_tok_len = tok_chars.cast("double") / safe_n
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        floor_round(avg_tok_len, 6).alias("avg_tok_len"),
        floor_round(stopword_ratio, 6).alias("stopword_ratio"),
        floor_round(unique_ratio, 6).alias("unique_ratio"),
        F.when(
            (n >= 20)
            & stopword_ratio.between(0.01, 0.5)
            & (unique_ratio >= 0.2),
            1,
        )
        .otherwise(0)
        .alias("quality_ok"),
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter(toks, t -> t IN ({words})))"


@query(
    "x11_lang_id",
    oracle=rf"""
    SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT lang,
             CASE greatest(s_en, s_de, s_fr, s_es)
               WHEN s_en THEN 'en'
               WHEN s_de THEN 'de'
               WHEN s_fr THEN 'fr'
               ELSE 'es' END AS pred_lang
      FROM (
        SELECT lang,
               {_lang_score_sql('en')} AS s_en,
               {_lang_score_sql('de')} AS s_de,
               {_lang_score_sql('fr')} AS s_fr,
               {_lang_score_sql('es')} AS s_es
        FROM (
          SELECT lang,
                 list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                             t -> t <> '') AS toks
          FROM documents
        )
      )
    )
    GROUP BY lang, pred_lang
    ORDER BY lang, pred_lang
    """,
)
def x11_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID, confusion-matrix output.

    Ties break in fixed order en>de>fr>es (mirrored by the CASE chain in
    the oracle). On the synthetic fixture every language shares one
    vocabulary, so predictions collapse to the tie-break — the operator
    still exercises the full scoring plumbing a real corpus would use.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    def score(words: tuple[str, ...]):
        # one-arg lambda (a two-arg lambda would be read as (elem, idx))
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {lang: score(words) for lang, words in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = (
        F.when(scores["en"] == best, "en")
        .when(scores["de"] == best, "de")
        .when(scores["fr"] == best, "fr")
        .otherwise("es")
    )
    return (
        d.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


#: BPE-ish pre-tokenizer: letter runs, single digits, punctuation marks.
#: Simplified from the GPT-2 pattern to the RE2/Java-common subset so
#: Spark and DuckDB segment identically.
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r\x0B\f]"


@query(
    "x21_token_count_bpe",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{BPE_PATTERN}')))
             AS BIGINT) AS n_unique_bpe
    FROM documents
    """,
)
def x21_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style token counting (pre-tokenizer segmentation).

    The standard "how many tokens will this cost" estimator of an LLM
    data pipeline: a regex pre-tokenization pass (letter runs / digits /
    punctuation), counted per document. Narrow map, zero shuffle; the
    regex runs inside codegen via ``regexp_extract_all``.
    """
    d = load_table(spark, sf_dir, "documents")
    # pattern passed as a Column literal — routing it through a SQL
    # string literal would eat the class escapes (Spark SQL escaping)
    toks = F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_bpe"),
    )


@query(
    "x22_tfidf_top_term",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                                t -> t <> '')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             {floor_round_sql(
                 "tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)", 6)} AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok AS top_term, tfidf FROM (
      SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def x22_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring; most characteristic term per document.

    The scalable TF-IDF shape, tuned for exchange reuse: df is derived
    from the ALREADY-AGGREGATED tf frame (one row per (doc, tok), so
    ``count(*)`` == distinct docs per token) — the tf branch appears
    identically under both consumers, so Spark's ReuseExchange runs the
    big (doc, tok) shuffle ONCE, and df's follow-up shuffle moves only
    the aggregated frame (vs re-tokenizing the corpus into a second
    countDistinct exchange). n_docs rides in as a lazy broadcast scalar
    aggregate (no eager count at build time), and the per-doc top term
    is a partial-aggregable min(struct) — map-side combinable — instead
    of a row_number sort window. floor-round(…, 6) keeps the ln()
    values hash-stable across engines.

    The tf↔df join is deliberately NOT broadcast (VERDICT r3 §wrong-3):
    on a web-scale corpus the distinct-token frame (typos, URLs, IDs)
    is billions of rows and would blow any broadcast limit. The
    tok-keyed sort-merge join costs one tok-exchange of the already-
    aggregated tf frame, and the df side arrives pre-partitioned by tok
    from its own groupBy — the shape that survives 100 TB. Only the
    single-row n_docs scalar is broadcast.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # count(when(tf > 0, 1)) not count(*): tf = count(*) ≥ 1 for every
    # group, so the value is identical — but count(*) let the optimizer
    # PRUNE the count from the df branch's copy of the (doc_id, tok)
    # aggregate (down to a bare distinct), making the two subtrees
    # non-canonical so the (doc_id, tok) exchange could not be shared
    # and the corpus tokenized twice (r13 plan audit; a plain count(tf)
    # gets rewritten to count(1) and re-pruned). The guarded form keeps
    # tf referenced, so both branches build the IDENTICAL canonical
    # partial-count exchange — eligible for exchange/stage reuse.
    df = tf.groupBy("tok").agg(F.count(F.when(F.col("tf") > 0, 1)).alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = tf.join(df, "tok").join(F.broadcast(n)).select(
        "doc_id",
        "tok",
        floor_round(
            F.col("tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df")),
            6,
        ).alias("tfidf"),
    )
    # min over (-tfidf, tok) == highest tfidf, smallest tok on ties —
    # the same total order the oracle's row_number window uses.
    best = scored.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("tfidf")).alias("neg"),
                F.col("tok").alias("tok"),
                F.col("tfidf").alias("tfidf"),
            )
        ).alias("b")
    )
    return best.select(
        "doc_id",
        F.col("b.tok").alias("top_term"),
        F.col("b.tfidf").alias("tfidf"),
    )


#: Knuth multiplicative hash constant (2654435761 = 2^32 * golden ratio).
_SAMPLE_MULT = 2654435761
_SAMPLE_MOD = 4294967296  # 2^32
_SAMPLE_KEEP = 429496729  # ~10%


@query(
    "x23_hash_sample",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE (doc_id * {_SAMPLE_MULT}) % {_SAMPLE_MOD} < {_SAMPLE_KEEP}
    ORDER BY doc_id
    """,
)
def x23_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via multiplicative hashing.

    ``TABLESAMPLE``/``rand()`` are engine- and partitioning-dependent;
    keyed multiplicative hashing gives the reproducible, resumable
    sample a 100 TB pipeline needs (same rows selected on every engine,
    every run, any partitioning). Pure integer arithmetic — hashes
    identically on the oracle.
    """
    d = load_table(spark, sf_dir, "documents")
    keep = (F.col("doc_id") * _SAMPLE_MULT) % _SAMPLE_MOD < _SAMPLE_KEEP
    return d.filter(keep).select("doc_id", "lang").orderBy("doc_id")


SHARD_TOKEN_BUDGET = 4096


@query(
    "x30_pack_shards",
    oracle=rf"""
    WITH sized AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                             t -> t <> '')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / {SHARD_TOKEN_BUDGET}) AS BIGINT) AS shard_no
    FROM sized
    ORDER BY lang, doc_id
    """,
)
def x30_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous packing of documents into token-budget shards.

    The training-data step after cleaning: assign documents to output
    shards of ~SHARD_TOKEN_BUDGET tokens each. ``shard_no`` is the
    running token count BEFORE the doc, integer-divided by the budget —
    a single partitioned window. Packing is per language so the cumsum
    window is partitioned (parallel), never global: at 100 TB the
    partition key would be (lang, date) or a hash bucket, same plan.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text")))
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sized = d.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return sized.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor(cum_before / SHARD_TOKEN_BUDGET).cast("bigint").alias("shard_no"),
    ).orderBy("lang", "doc_id")


#: The quality-gate CTE pair shared by x31 and x55 (the composed
#: pipeline must apply EXACTLY the standalone stage's rules — one
#: definition, imported into both oracles).
QUALITY_CTE_SQL = r"""toks AS (
      SELECT doc_id, lang, text,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                         t -> t <> '') AS tk
      FROM documents
    ), quality AS (
      SELECT doc_id, lang, text, tk FROM toks
      WHERE len(tk) >= 20
        AND CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','is')))
                 AS DOUBLE) / greatest(len(tk), 1) BETWEEN 0.01 AND 0.5
        AND CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1) >= 0.2
    )"""


def quality_filter(d: DataFrame) -> DataFrame:
    """x10's quality rules as a reusable filter (Spark twin of the
    ``quality`` CTE above): >= 20 tokens, en-stopword ratio in
    [0.01, 0.5], unique-token ratio >= 0.2."""
    tk = tokens(F.col("text"))
    n = F.size(tk)
    safe_n = F.greatest(n, F.lit(1))
    stop_ratio = (
        F.size(F.filter(tk, lambda t: t.isin(*LANG_STOPWORDS["en"]))).cast(
            "double"
        )
        / safe_n
    )
    uniq_ratio = F.size(F.array_distinct(tk)).cast("double") / safe_n
    return d.filter(
        (n >= 20) & stop_ratio.between(0.01, 0.5) & (uniq_ratio >= 0.2)
    )


@query(
    "x31_clean_corpus",
    # the composed prep pipeline: quality gate -> exact dedup by
    # content hash -> deterministic sample -> per-lang counts
    oracle=f"""
    WITH {QUALITY_CTE_SQL}, deduped AS (
      SELECT min(doc_id) AS doc_id, min(lang) AS lang
      FROM quality GROUP BY md5(text)
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM deduped
    WHERE (doc_id * 2654435761) % 4294967296 < 3865470566
    GROUP BY lang ORDER BY lang
    """,
)
def x31_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-data prep pipeline in one plan.

    quality gate (x10's rules) → exact dedup on content hash keeping
    the lowest doc_id (x1's rule, one digest-keyed shuffle) →
    deterministic 90% hash sample (x23's construction) → per-language
    counts. Every stage is the scale-safe form of its standalone
    operator; Catalyst fuses the narrow stages into the scan.
    """
    d = load_table(spark, sf_dir, "documents")
    quality = quality_filter(d)
    deduped = quality.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang")
    )
    sampled = deduped.filter(
        (F.col("doc_id") * 2654435761) % 4294967296 < 3865470566
    )
    return (
        sampled.groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("lang")
    )


#: Per-language keep FRACTIONS for corpus rebalancing. Both the Spark
#: operator and its oracle derive their hash thresholds from this one
#: dict, so editing a rate here changes both sides in lockstep.
REBALANCE_RATES: dict[str, float] = {
    "en": 0.5,   # downsample the dominant language
    "zh": 1.0,   # keep all of the under-represented ones
    "de": 1.0,
    "fr": 1.0,
    "es": 1.0,
}

_HASH_MOD = 4294967296  # 2^32


def _rate_threshold(rate: float) -> int:
    return int(rate * _HASH_MOD)


_RATES_SQL_CASE = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN {_rate_threshold(rate)}"
    for lang, rate in REBALANCE_RATES.items()
) + " ELSE 0 END"  # unknown language: drop (explicit policy)


@query(
    "x32_rebalance_sample",
    oracle=f"""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
    FROM documents
    WHERE (doc_id * 2654435761) % {_HASH_MOD} < {_RATES_SQL_CASE}
    GROUP BY lang ORDER BY lang
    """,
)
def x32_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language rebalancing: per-stratum deterministic downsampling.

    The corpus-mixing step of LLM data prep — each language keeps its
    REBALANCE_RATES fraction, selected by the same multiplicative hash
    as x23 so the choice is reproducible across engines, runs, and
    partitionings (``sampleBy`` would not be). Narrow map + one
    combinable count shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * 2654435761) % _HASH_MOD
    threshold = F.lit(0)
    for lang, rate in REBALANCE_RATES.items():
        threshold = F.when(
            F.col("lang") == lang, F.lit(_rate_threshold(rate))
        ).otherwise(threshold)
    return (
        d.filter(h < threshold)
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_kept"))
        .orderBy("lang")
    )


@query(
    "x33_decontamination",
    # benchmark set = src0 docs; training set = the rest; a training doc
    # is CONTAMINATED when it shares any 8-gram with a benchmark doc
    oracle="""
    WITH bench AS (
      SELECT DISTINCT g FROM (
        SELECT unnest(list_transform(
                 range(1, greatest(length(text) - 7, 1) + 1),
                 i -> substr(text, CAST(i AS INTEGER), 8))) AS g
        FROM documents WHERE source = 'src0'
      )
    ), train_grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(length(text) - 7, 1) + 1),
                 i -> substr(text, CAST(i AS INTEGER), 8))) AS g
        FROM documents WHERE source <> 'src0'
      )
    )
    SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contaminated,
           (SELECT CAST(count(*) AS BIGINT) FROM documents
            WHERE source <> 'src0') AS n_train
    FROM train_grams WHERE g IN (SELECT g FROM bench)
    """,
)
def x33_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing an 8-gram with
    the held-out set.

    The eval-leakage check every training pipeline needs: benchmark
    grams (the small side) broadcast against the training corpus's
    gram stream; contaminated docs counted distinct. At 100 TB the
    benchmark gram set is millions of rows — still broadcastable — and
    the training side is a narrow scan + semi-join, no self-join.
    """
    d = load_table(spark, sf_dir, "documents")
    bench_grams = (
        d.filter(F.col("source") == "src0")
        .select(F.explode(char_ngrams(F.col("text"), 8)).alias("g"))
        .distinct()
    )
    train = d.filter(F.col("source") != "src0")
    train_grams = train.select(
        "doc_id", F.explode(char_ngrams(F.col("text"), 8)).alias("g")
    )
    contaminated = (
        train_grams.join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # n_train rides in as a lazy broadcast scalar (x22's n_docs trick)
    # — an eager train.count() here would re-scan the corpus on every
    # plan BUILD (the regression class tests/test_plans.py's
    # no-materialize gate pins).
    n_train = train.agg(F.count("*").cast("bigint").alias("n_train"))
    return contaminated.agg(
        F.count("*").cast("bigint").alias("n_contaminated")
    ).crossJoin(F.broadcast(n_train))


@query(
    "x34_train_val_test_split",
    # hash ranges: [0, .8) train, [.8, .9) val, [.9, 1) test
    oracle=f"""
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT CASE
               WHEN (doc_id * 2654435761) % 4294967296
                    < {int(0.8 * 4294967296)} THEN 'train'
               WHEN (doc_id * 2654435761) % 4294967296
                    < {int(0.9 * 4294967296)} THEN 'val'
               ELSE 'test' END AS split
      FROM documents
    )
    GROUP BY split ORDER BY split
    """,
)
def x34_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by key hash.

    The canonical ML split: hash RANGES (not modulo classes) so the
    split survives corpus growth — a doc's assignment never changes
    when new docs arrive, and the same doc lands in the same split on
    every engine (``randomSplit`` guarantees neither).
    """
    d = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * 2654435761) % 4294967296
    split = (
        F.when(h < int(0.8 * 4294967296), "train")
        .when(h < int(0.9 * 4294967296), "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("split")
    )


def _rank_pick_sql(k: int, alias: str) -> str:
    # ceil(n*k/100) in EXACT integer arithmetic — `ceil(n * 0.55)` is a
    # cross-engine trap (Spark doubles vs DuckDB decimals split at
    # n=100/180/200/...; see the x128 comment in stats_audit.py)
    return (
        f"max(CASE WHEN rn = greatest(1, (n * {k} + 99) // 100) "
        f"THEN v END) AS {alias}"
    )


@query(
    "x37_quantile_sketch",
    oracle=f"""
    WITH r AS (
      SELECT lang, n_chars AS v,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
             count(*)    OVER (PARTITION BY lang) AS n
      FROM documents
    ), b AS (
      SELECT lang,
             {_rank_pick_sql(50, "p50_exact")},
             {_rank_pick_sql(90, "p90_exact")},
             {_rank_pick_sql(45, "lo50")},
             {_rank_pick_sql(55, "hi50")},
             {_rank_pick_sql(85, "lo90")},
             {_rank_pick_sql(95, "hi90")},
             max(n) AS n
      FROM r GROUP BY lang
    ), e AS (
      SELECT lang,
             approx_quantile(n_chars, 0.5) AS q50,
             approx_quantile(n_chars, 0.9) AS q90
      FROM documents GROUP BY lang
    )
    SELECT b.lang, CAST(b.n AS BIGINT) AS n,
           CAST(p50_exact AS BIGINT) AS p50_exact,
           CAST(p90_exact AS BIGINT) AS p90_exact,
           (e.q50 BETWEEN b.lo50 AND b.hi50) AS p50_in_bound,
           (e.q90 BETWEEN b.lo90 AND b.hi90) AS p90_in_bound
    FROM b JOIN e USING (lang) ORDER BY lang
    """,
)
def x37_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile sketch, ORACLE-PAIRED the g10 way.

    The sketch (``approx_percentile`` accuracy 100 — Greenwald-Khanna,
    mergeable O(accuracy) state, the shape that computes quantiles over
    100 TB in one combinable pass) produces engine-specific estimates
    that can never hash-match DuckDB's t-digest. Instead of hashing the
    estimate (the r2 g10 mistake) or going rows-only (the r2-r5 state),
    the hashed contract is: the EXACT rank-selected p50/p90 (the value
    at sorted rank ceil(q*n) within each group — deterministic integers
    on both engines, the x128 discipline) plus a boolean per quantile
    checking each ENGINE'S OWN sketch against ITS OWN exact ±5%-rank
    window [ceil(0.45n), ceil(0.55n)] / [ceil(0.85n), ceil(0.95n)].
    GK at accuracy 100 guarantees ≤1% rank error (merge-order-
    independent), t-digest is far tighter at these quantiles, so the
    booleans are robustly TRUE under any partitioning — the sketch path
    is exercised on both engines without its estimate entering the
    hash. tests/test_sketches.py keeps the tighter value-level bracket
    on the Spark estimate.
    """
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang")
    r = d.select(
        "lang",
        F.col("n_chars").alias("v"),
        F.row_number().over(w.orderBy("n_chars")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )

    def pick(k: int):
        rank = F.greatest(
            F.lit(1).cast("bigint"), F.expr(f"(n * {k} + 99) DIV 100")
        )
        return F.max(F.when(F.col("rn") == rank, F.col("v")))

    b = r.groupBy("lang").agg(
        pick(50).alias("p50_exact"),
        pick(90).alias("p90_exact"),
        pick(45).alias("lo50"),
        pick(55).alias("hi50"),
        pick(85).alias("lo90"),
        pick(95).alias("hi90"),
        F.max("n").alias("n"),
    )
    e = d.groupBy("lang").agg(
        F.expr("approx_percentile(n_chars, 0.5, 100)").alias("q50"),
        F.expr("approx_percentile(n_chars, 0.9, 100)").alias("q90"),
    )
    return (
        b.join(e, "lang")
        .select(
            "lang",
            F.col("n").cast("bigint").alias("n"),
            F.col("p50_exact").cast("bigint").alias("p50_exact"),
            F.col("p90_exact").cast("bigint").alias("p90_exact"),
            (
                (F.col("q50") >= F.col("lo50")) & (F.col("q50") <= F.col("hi50"))
            ).alias("p50_in_bound"),
            (
                (F.col("q90") >= F.col("lo90")) & (F.col("q90") <= F.col("hi90"))
            ).alias("p90_in_bound"),
        )
        .orderBy("lang")
    )


CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 1024  # counters per row
#: Per-depth (multiplier, offset) pairs — engine-portable bucket hash
#: shared with the x38 oracle SQL.
_CMS_PERMS = perm_constants(CMS_DEPTH)


def _cms_bucket(token_col, d: int):
    """Portable CMS bucket for hash row ``d``: the porthash permutation
    of the md5-derived token hash, folded into [0, CMS_WIDTH)."""
    a, b = _CMS_PERMS[d]
    h = token_hash60(F.col(token_col)) % PH_P
    return ((h * F.lit(a) + F.lit(b)) % PH_P) % CMS_WIDTH


def _cms_bucket_sql(expr: str, d: int) -> str:
    a, b = _CMS_PERMS[d]
    return (
        f"((({token_hash60_sql(expr)} % {PH_P}) * {a} + {b})"
        f" % {PH_P}) % {CMS_WIDTH}"
    )


def cms_sketch(tokens_df: DataFrame, token_col: str = "tok") -> DataFrame:
    """Count-min sketch of a token stream as a (depth, bucket, cnt) table.

    The classic streaming frequency sketch composed from DataFrame ops:
    each token increments one counter per hash row; the sketch is
    DEPTH×WIDTH counters regardless of stream size, and the groupBy is
    map-side combinable — O(sketch) shuffle for any corpus. Buckets
    are engine-portable (functions/porthash.py), so the sketch — and
    every estimate read from it — is DuckDB-oracle-checkable.
    """
    rows = [
        tokens_df.select(
            F.lit(d).alias("depth"),
            _cms_bucket(token_col, d).alias("bucket"),
        )
        for d in range(CMS_DEPTH)
    ]
    stream = rows[0]
    for r in rows[1:]:
        stream = stream.unionAll(r)
    return stream.groupBy("depth", "bucket").agg(
        F.count("*").cast("bigint").alias("cnt")
    )


def _x38_oracle() -> str:
    """x38's DuckDB oracle: rebuild the CMS from the same portable
    bucket hashes (exact integer counts), read the same top-20 probes
    back through it."""
    streams = "\n      UNION ALL\n      ".join(
        f"SELECT {d} AS depth, {_cms_bucket_sql('tok', d)} AS bucket,"
        f" c FROM tf"
        for d in range(CMS_DEPTH)
    )
    probe_rows = ", ".join(
        f"({d}, {_cms_bucket_sql('tok', d)})" for d in range(CMS_DEPTH)
    )
    return f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\x0B\\f]+'),
                                t -> t <> '')) AS tok
      FROM documents
    ), tf AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ), stream AS (
      {streams}
    ), sketch AS (
      SELECT depth, bucket, CAST(sum(c) AS BIGINT) AS cnt
      FROM stream GROUP BY depth, bucket
    ), top AS (
      SELECT tok, c AS true_freq FROM tf
      ORDER BY c DESC, tok LIMIT 20
    ), probes AS (
      SELECT tok, true_freq, p.depth, p.bucket
      FROM top, LATERAL (VALUES {probe_rows}) p(depth, bucket)
    )
    SELECT tok, true_freq, min(cnt) AS est_freq
    FROM probes JOIN sketch USING (depth, bucket)
    GROUP BY tok, true_freq
    ORDER BY true_freq DESC, tok
    """


@query("x38_cms_heavy_hitters", oracle=_x38_oracle())
def x38_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequencies estimated from a count-min sketch.

    Builds the CMS over the whole token stream, then reads the top-20
    true terms back through it: estimate = min over hash rows of the
    addressed counters. CMS guarantees est >= true (one-sided error);
    tests/test_sketches.py asserts that bound and the error ceiling.
    Portable buckets make the sketch itself oracle-checked — the
    estimates are exact integer sums, so the value hash pins them.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    sketch = cms_sketch(toks).persist()
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("true_freq"))
        .orderBy(F.col("true_freq").desc(), "tok")
        .limit(20)
    )
    probes = top.select(
        "tok",
        "true_freq",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dd).alias("depth"),
                        _cms_bucket("tok", dd).alias("bucket"),
                    )
                    for dd in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("tok", "true_freq", "p.depth", "p.bucket")
    return (
        probes.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("tok", "true_freq")
        .agg(F.min("cnt").alias("est_freq"))
        .orderBy(F.col("true_freq").desc(), "tok")
    )


@query(
    "x12_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_transform(string_split(text, ''), c -> ascii(c)::BIGINT),
             (acc, x) -> (acc * 31 + x) % {FP_MOD}
           ) AS fp
    FROM documents
    """,
)
def x12_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint per document.

    ``h = fold(chars, h*31 + ascii(c) mod p)`` — the Karp-Rabin shape.
    A zero-init fold equals DuckDB's ``list_reduce`` first-element init
    because ``0*31 + c0 = c0``. Only an 8-byte fingerprint leaves the
    scan stage, which is exactly what you want when fingerprinting
    100 TB for shard-level dedup manifests.
    """
    d = load_table(spark, sf_dir, "documents")
    chars = F.filter(F.split(F.col("text"), ""), lambda c: c != "")
    fp = F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: F.pmod(acc * 31 + x, F.lit(FP_MOD)),
    )
    return d.select("doc_id", fp.alias("fp"))


@query(
    "x39_repetition_ratio",
    oracle=rf"""
    SELECT doc_id,
           {floor_round_sql(
               "1e0 - CAST(len(list_distinct(toks)) AS DOUBLE)"
               " / len(toks)", 6)} AS rep_ratio,
           CAST(len(toks) - len(list_distinct(toks)) AS BIGINT)
               AS n_repeated
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                         t -> t <> '') AS toks
      FROM documents
    )
    WHERE len(toks) > 0
    ORDER BY doc_id
    """,
)
def x39_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document token repetition ratio (C4/Gopher quality signal).

    ``1 - distinct_tokens/total_tokens`` per document — high values
    flag boilerplate/spam for corpus filtering. Pure narrow map over
    the shared tokenizer (``functions/text.py``): zero shuffles, the
    ratio is exact integer arithmetic divided once at the end so the
    oracle comparison has no float-accumulation hazard.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    return (
        d.select("doc_id", n.alias("n"), uniq.alias("u"))
        .filter(F.col("n") > 0)
        .select(
            "doc_id",
            floor_round(
                F.lit(1.0) - F.col("u").cast("double") / F.col("n"), 6
            ).alias("rep_ratio"),
            (F.col("n") - F.col("u")).cast("bigint").alias("n_repeated"),
        )
        .orderBy("doc_id")
    )


BIN_TOKEN_BUDGET = 256  # x54 bin capacity (docs avg ~54 tokens)


@query("x54_pack_bins_ffd")  # sequential algorithm: rows-only check
def x54_pack_bins_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing per language (grouped-map).

    x30 packs CONTIGUOUSLY (cumsum // budget — one window, pure SQL);
    FFD packs tighter by placing each doc, largest first, into the
    first bin with room. That inherently sequential loop is the
    grouped-map pattern: ``applyInPandas`` per language, Arrow-batched,
    deterministic (sort by tokens desc then doc_id). State is one
    int per open bin — bounded by group size / budget. At 100 TB the
    group key widens to (lang, date-bucket) so no group outgrows an
    executor; the invariant tests (bins respect the budget, bin count
    is >= the volume lower bound and <= x30's contiguous count) pin
    correctness without an oracle — DuckDB has no FFD to compare.
    """
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tokens")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bins: list[int] = []  # remaining capacity per bin
        assign: list[int] = []
        for tok in pdf["n_tokens"]:
            t = int(tok)
            for i, rem in enumerate(bins):
                if rem >= t:
                    bins[i] = rem - t
                    assign.append(i)
                    break
            else:
                # oversized docs get their own (overfull) bin
                bins.append(max(BIN_TOKEN_BUDGET - t, 0))
                assign.append(len(bins) - 1)
        pdf["bin_id"] = pd.Series(assign, dtype="int64")
        return pdf[["doc_id", "lang", "n_tokens", "bin_id"]]

    out_schema = "doc_id bigint, lang string, n_tokens int, bin_id bigint"
    return (
        sized.groupBy("lang")
        .applyInPandas(pack, schema=out_schema)
        .orderBy("lang", "bin_id", "doc_id")
    )


@query(
    "x55_full_prep_pipeline",
    # the composed oracle chains the exact stage formulations of
    # x31 (quality + dedup), x47 (chunk windows), and x34 (hash split)
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, lang, text,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                         t -> t <> '') AS tk
      FROM documents
    ), quality AS (
      SELECT doc_id, lang, text, tk FROM toks
      WHERE len(tk) >= 20
        AND CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','is')))
                 AS DOUBLE) / greatest(len(tk), 1) BETWEEN 0.01 AND 0.5
        AND CAST(len(list_distinct(tk)) AS DOUBLE)
            / greatest(len(tk), 1) >= 0.2
    ), dedup AS (
      SELECT min(doc_id) AS doc_id, min(lang) AS lang,
             min(len(range(0, len(tk), 50))) AS n_chunks
      FROM quality GROUP BY md5(text)
    )
    SELECT CASE WHEN (doc_id * 2654435761) % 4294967296
                     < {int(0.8 * 4294967296)} THEN 'train'
                WHEN (doc_id * 2654435761) % 4294967296
                     < {int(0.9 * 4294967296)} THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chunks) AS BIGINT) AS n_chunks
    FROM dedup
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def x55_full_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end prep pipeline as ONE lazy plan (capstone).

    quality gate -> exact dedup keeping the lowest doc_id -> chunk-count
    per kept doc (x47's windows; identical text means identical chunk
    count, so the count rides through the dedup group-by with no join
    back) -> deterministic hash split -> per-(split, lang) totals. The
    whole pipeline is a single DataFrame expression: Catalyst fuses the
    narrow stages into the scan and the only shuffles are the dedup
    group-by and the final 15-group aggregation — composition adds NO
    materialization boundaries, which is the property that lets the
    same code run unchanged over 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    n = F.size(tk)
    safe_n = F.greatest(n, F.lit(1))
    stop_ratio = (
        F.size(F.filter(tk, lambda t: t.isin(*LANG_STOPWORDS["en"]))).cast(
            "double"
        )
        / safe_n
    )
    uniq_ratio = F.size(F.array_distinct(tk)).cast("double") / safe_n
    n_chunks = F.size(F.sequence(F.lit(0), n - 1, F.lit(50)))
    quality = d.filter(
        (n >= 20) & stop_ratio.between(0.01, 0.5) & (uniq_ratio >= 0.2)
    ).select("doc_id", "lang", "text", n_chunks.alias("n_chunks"))
    dedup = quality.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
        F.min("n_chunks").alias("n_chunks"),
    )
    h = (F.col("doc_id") * 2654435761) % 4294967296
    split = (
        F.when(h < int(0.8 * 4294967296), "train")
        .when(h < int(0.9 * 4294967296), "val")
        .otherwise("test")
    )
    return (
        dedup.select(split.alias("split"), "lang", "n_chunks")
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chunks").cast("bigint").alias("n_chunks"),
        )
        .orderBy("split", "lang")
    )


@query(
    "x57_bigram_rarity",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                         t -> t <> '') AS ts
      FROM documents
    ), bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ts)),
                                   i -> ts[i] || ' ' || ts[i + 1])) AS bg
      FROM toks WHERE len(ts) >= 2
    ), cnt AS (
      SELECT bg, count(*) AS c FROM bi GROUP BY 1
    )
    SELECT bi.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN cnt.c <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS rare_cnt,
           CAST(sum(CASE WHEN cnt.c <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS rare_ratio
    FROM bi JOIN cnt USING (bg)
    GROUP BY 1
    """,
)
def x57_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rare-bigram ratio — a corpus-LM perplexity proxy.

    The integer-only twin of a KenLM quality filter: pass 1 counts
    every token bigram over the corpus; pass 2 scores each document by
    the fraction of its bigrams that are corpus-rare (frequency <= 2).
    High rare_ratio = text unlike the rest of the corpus (OCR noise,
    boilerplate mangling, wrong language) — the standard train-data
    quality signal, minus the float log-prob sum (whose addition order
    is engine-dependent; a count ratio is one exact division, so the
    oracle matches bit-for-bit).

    Scale (100 TB): two map-side-combinable shuffles keyed on the
    bigram (the word-count shape) + the doc_id re-aggregation. The
    bigram-keyed join deliberately does NOT broadcast: the model side
    is O(corpus vocab^2-ish) and belongs on the exchange. At 100 TB,
    key the shuffle on xxhash64(bigram) instead of the string to move
    16 bytes per bigram; counts are unaffected (collisions only merge
    hash-equal grams).
    """
    d = load_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", tokens(F.col("text")).alias("ts")).filter(
        F.size("ts") >= 2
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 1),
        lambda i: F.concat(
            F.element_at("ts", i), F.lit(" "), F.element_at("ts", i + 1)
        ),
    )
    bi = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    cnt = bi.groupBy("bg").agg(F.count("*").alias("c"))
    rare = F.when(F.col("c") <= 2, 1).otherwise(0)
    return (
        bi.join(cnt, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(rare).cast("bigint").alias("rare_cnt"),
        )
        .withColumn(
            "rare_ratio",
            F.col("rare_cnt").cast("double") / F.col("n_bigrams"),
        )
    )


@query(
    "x59_source_overlap",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                         t -> t <> '') AS ts
      FROM documents
    ), g AS (
      SELECT DISTINCT source,
             unnest(list_transform(
                 range(1, len(ts) - 6),
                 i -> array_to_string(list_slice(ts, i, i + 7), ' ')
             )) AS gram
      FROM toks WHERE len(ts) >= 8
    ), sz AS (
      SELECT source, count(*) AS n_grams FROM g GROUP BY 1
    ), ov AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS shared_grams
      FROM g a JOIN g b USING (gram)
      WHERE a.source <> b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, shared_grams,
           CAST(shared_grams AS DOUBLE) / sz.n_grams AS containment
    FROM ov JOIN sz ON sz.source = ov.src_a
    """,
)
def x59_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source 8-gram containment matrix (dataset-mixing audit).

    For every ordered source pair (A, B): |grams(A) & grams(B)| /
    |grams(A)| over distinct token 8-grams — "how much of A also
    appears in B". The number a mixing recipe needs before weighting
    sources (a mirror crawl shows up as containment ~1.0 and should be
    dropped, not down-weighted). Same inverted-index join shape as
    x33's decontamination, aggregated to source granularity.

    Scale (100 TB): DISTINCT (source, gram) prunes the join inputs
    before the exchange; the join output is bounded by true cross-source
    collisions, and the final matrix is |sources|^2 rows — tiny. At
    scale, join on xxhash64(gram) (16 bytes) rather than the gram text,
    and pre-aggregate count per (gram, source) if sources repeat a gram
    (DISTINCT already guarantees one row per pair here).
    """
    d = load_table(spark, sf_dir, "documents")
    docs = d.select("source", tokens(F.col("text")).alias("ts")).filter(
        F.size("ts") >= 8
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 7),
        lambda i: F.array_join(F.slice("ts", i, 8), " "),
    )
    g = docs.select("source", F.explode(grams).alias("gram")).distinct()
    sz = g.groupBy("source").agg(F.count("*").alias("n_grams"))
    a = g.select(F.col("source").alias("src_a"), "gram")
    b = g.select(F.col("source").alias("src_b"), "gram")
    ov = (
        a.join(b, "gram")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("shared_grams"))
    )
    return ov.join(
        F.broadcast(sz.withColumnRenamed("source", "src_a")), "src_a"
    ).select(
        "src_a",
        "src_b",
        "shared_grams",
        (F.col("shared_grams").cast("double") / F.col("n_grams")).alias(
            "containment"
        ),
    )


@query(
    "x60_mixture_weights",
    oracle="""
    WITH n AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY 1
    ), p AS (
      SELECT source, n_docs,
             CAST(floor(pow(CAST(n_docs AS DOUBLE), 0.7) * 1000000.0 + 0.5)
                  AS BIGINT) AS rawq
      FROM n
    )
    SELECT source, n_docs,
           floor(CAST(rawq AS DOUBLE) / CAST((SELECT sum(rawq) FROM p)
                                             AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS weight
    FROM p
    """,
)
def x60_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights (alpha = 0.7).

    The standard multilingual/multi-source mixing rule (w_s proportional
    to n_s^alpha): alpha < 1 up-weights small sources so the sampler
    doesn't collapse onto the head. Emits per-source document counts
    and the normalized sampling weight a downstream weighted sampler
    (x32's shape) would consume.

    Scale (100 TB): one map-side-combinable count per source; the
    normalization constant is a broadcast of |sources| values. The
    pow() weights quantize to an integer 1e-6 grid before the
    normalizing sum (exact, order-independent — a raw double sum is
    the x28b class), closing with the portable floor-round.
    """
    d = load_table(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    p = n.withColumn(
        "rawq",
        F.floor(
            F.pow(F.col("n_docs").cast("double"), F.lit(0.7))
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    total = p.agg(F.sum("rawq").alias("t"))
    return p.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        (
            F.floor(
                F.col("rawq").cast("double")
                / F.col("t").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("weight"),
    )


@query(
    "x61_gopher_quality_rules",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'),
                         t -> t <> '') AS toks
      FROM documents
    ), base AS (
      SELECT doc_id, toks, len(toks) AS n_words
      FROM t WHERE len(toks) >= 2
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS b
      FROM base
    ), mode_cnt AS (
      SELECT doc_id, max(c) AS top_bigram_n FROM (
        SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2
      ) GROUP BY 1
    ), scored AS (
      SELECT base.doc_id,
             CAST(n_words AS BIGINT) AS n_words,
             floor(CAST(list_sum(list_transform(toks, t -> len(t)))
                        AS DOUBLE) / CAST(n_words AS DOUBLE)
                   * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len,
             floor(CAST(len(list_filter(toks,
                        t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
                   / CAST(n_words AS DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS alpha_frac,
             floor(CAST(top_bigram_n AS DOUBLE)
                   / CAST(n_words - 1 AS DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS top_bigram_frac
      FROM base JOIN mode_cnt USING (doc_id)
    )
    SELECT *,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3 AND 10
            AND alpha_frac > 0.8
            AND top_bigram_frac < 0.2) AS passes_gopher
    FROM scored ORDER BY doc_id
    """,
)
def x61_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1).

    Per document: word count, mean word length, alphabetic-word
    fraction, and the OCCURRENCE fraction of the single most common
    bigram — top_bigram_n / (n_words - 1), the boilerplate detector —
    combined into one ``passes_gopher`` gate (50-100k words, mean word
    length 3-10, >80% alphabetic words, top-bigram occurrence fraction
    < 0.2). Note: Gopher's published 2-gram rule measures the fraction
    of CHARACTERS contained in the top bigram's occurrences; the
    occurrence-count fraction here is a deliberate simplification (same
    boilerplate signal, no second pass over characters) and both the
    Spark op and the oracle implement it identically.

    Scale (100 TB): ZERO shuffles — unlike the obvious
    explode-bigrams + groupBy formulation (one O(corpus-tokens)
    shuffle), the per-doc bigram mode is computed inside the row via
    array_sort + a run-length ``aggregate`` scan, so every rule is a
    narrow map and the filter composes into any ingest scan for free.
    The oracle SQL uses the explode+groupBy formulation precisely so
    the two different physical strategies check each other.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    d = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    n = F.size(F.col("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(
            F.element_at(F.col("toks"), i),
            F.lit(" "),
            F.element_at(F.col("toks"), i + 1),
        ),
    )
    # Mode count of a sorted array == longest run of equal neighbors:
    # one pass with (prev, run, best) state, no explode, no shuffle.
    top_bigram_n = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("int").alias("run"),
            F.lit(0).cast("int").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    char_sum = F.aggregate(
        F.transform(F.col("toks"), lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    alpha_n = F.size(F.filter(F.col("toks"), lambda t: t.rlike("[a-z]")))
    fr6 = lambda c: (  # noqa: E731 — portable floor-round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    scored = d.select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        fr6(char_sum.cast("double") / n.cast("double")).alias("mean_word_len"),
        fr6(alpha_n.cast("double") / n.cast("double")).alias("alpha_frac"),
        fr6(top_bigram_n.cast("double") / (n - 1).cast("double")).alias(
            "top_bigram_frac"
        ),
    )
    return scored.select(
        "*",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_frac") > 0.8)
            & (F.col("top_bigram_frac") < 0.2)
        ).alias("passes_gopher"),
    )


# ---------------------------------------------------------------------------
# X66 DSIR-style importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

#: Hashed n-gram feature buckets. DSIR uses 10k; 64 keeps the fixture
#: bucket table humanly auditable and the construction is identical —
#: the bucket count is one shared constant on both engines.
NB_DSIR = 64


def _x66_oracle() -> str:
    """x66's DuckDB twin, generated from the same constants
    (NB_DSIR + the shared token-hash primitive)."""
    h = token_hash60_sql("toks[i] || ' ' || toks[i + 1]")
    return f"""
    WITH tk AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\x0B\\f]+'),
                         t -> t <> '') AS toks
      FROM documents
    ), feats AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(toks)),
                                   i -> {h} % {NB_DSIR})) AS b
      FROM tk WHERE len(toks) >= 2
    ), counts AS (
      SELECT b,
             SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
      FROM feats GROUP BY b
    ), tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM counts),
    lw AS (
      SELECT b,
             CAST(floor((ln((ct + 1) / CAST(tt + {NB_DSIR} AS DOUBLE))
                         - ln((cr + 1) / CAST(tr + {NB_DSIR} AS DOUBLE)))
                        * 1000000000.0 + 0.5) AS BIGINT) AS wq
      FROM counts CROSS JOIN tot
    )
    SELECT f.doc_id,
           floor(CAST(SUM(lw.wq) AS DOUBLE) / 1000000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS dsir_logweight
    FROM feats f JOIN lw USING (b)
    WHERE f.source <> 'src0'
    GROUP BY f.doc_id
    ORDER BY dsir_logweight DESC, f.doc_id
    LIMIT 20
    """


@query("x66_dsir_importance", oracle=_x66_oracle())
def x66_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: raw documents ranked by how much
    they look like the target domain (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling").

    src0 plays the target domain (the quality corpus you want more
    of); every other source is the raw pool. Features are hashed word
    bigrams into NB_DSIR buckets (the portable token-hash primitive,
    so the oracle regenerates identical features); each side's bucket
    distribution is estimated with add-one smoothing, and a raw doc's
    log importance weight is the sum over its bigram occurrences of
    ``ln p_target(b) - ln p_raw(b)``. Top-20 by (rounded weight,
    doc_id) — the resampling step then keeps documents with
    probability proportional to the weight; the deterministic top-k
    IS that step's test-stable twin.

    Scale shape: feature hashing is a narrow map; the bucket table is
    NB_DSIR rows built by ONE map-side-combinable shuffle and
    broadcast back; scoring is the broadcast join + one doc-keyed
    partial-aggregable sum. The corpus is scanned twice (estimate,
    then score) — at 100 TB both passes are embarrassingly parallel
    and nothing quadratic or driver-bound exists anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    hh = token_hash60_sparksql(
        "concat(element_at(_tk, i), ' ', element_at(_tk, i + 1))"
    )
    bg_sql = (
        "CASE WHEN size(_tk) >= 2 THEN "
        f"transform(sequence(1, size(_tk) - 1), i -> {hh} % {NB_DSIR}) "
        "ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    feats = d.selectExpr(
        "doc_id",
        "source",
        "filter(split(lower(text), '[ \\\\t\\\\n\\\\r\\\\x0B\\\\f]+'), t -> t != '') AS _tk",
    ).selectExpr("doc_id", "source", f"explode({bg_sql}) AS b")
    is_tgt = F.col("source") == "src0"
    counts = feats.groupBy("b").agg(
        F.sum(F.when(is_tgt, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~is_tgt, 1).otherwise(0)).alias("cr"),
    )
    tot = counts.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    # Per-bucket log weight quantized to an integer 1e-9 grid so the
    # per-doc aggregation is an exact order-independent BIGINT sum (the
    # x28b hashed-float-aggregate class); the ln inputs are exact
    # integer ratios, so wq is deterministic per bucket.
    w = F.log((F.col("ct") + 1) / (F.col("tt") + NB_DSIR).cast("double")) - F.log(
        (F.col("cr") + 1) / (F.col("tr") + NB_DSIR).cast("double")
    )
    lw = counts.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(w * F.lit(1000000000.0) + F.lit(0.5)).cast("long").alias("wq"),
    )
    scored = (
        feats.filter(~is_tgt)
        .join(F.broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(
            (
                F.floor(
                    F.sum("wq").cast("double")
                    / F.lit(1000000000.0)
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("dsir_logweight")
        )
    )
    return scored.orderBy(
        F.col("dsir_logweight").desc(), "doc_id"
    ).limit(20)


# ---------------------------------------------------------------------------
# X67 BPE merge learning (Sennrich et al. 2016)
# ---------------------------------------------------------------------------

#: Merge rounds to learn. Real tokenizers learn 30-50k; the loop is
#: identical per round, so a small K keeps the fixture check fast while
#: exercising the full iterative machinery.
BPE_MERGES = 8


def _bpe_merge_expr(l: str, r: str):
    """Greedy left-to-right merge of adjacent (l, r) into l+r over the
    ``syms`` array — a JVM-side fold, no UDF. Greedy-left semantics
    match the classic BPE scan (on 'aaa' with (a,a): [aa, a])."""
    lr = l + r
    return F.aggregate(
        F.col("syms"),
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(l))
            & (x == F.lit(r)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(lr))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


@query("x67_bpe_learn")
def x67_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the corpus's first BPE_MERGES byte-pair-encoding merges
    (Sennrich et al. 2016) — the tokenizer-training step of an LLM
    data pipeline, as an iterative distributed algorithm.

    Each round counts adjacent symbol pairs across the WEIGHTED
    vocabulary (pair frequency = sum of word frequencies), picks the
    global argmax with a deterministic tie-break (freq DESC, l, r —
    binary string order, identical in the JVM and the pytest
    reference for ASCII corpora), merges it everywhere, and repeats.

    No SQL oracle: the K-round argmax-then-rewrite loop is genuinely
    iterative (each round's input depends on the previous round's
    winner), the registry's non-SQL-expressible category alongside
    x54. The correctness gate is tests/test_bpe.py: merges must EQUAL
    a pure-Python reference BPE on the same corpus.

    Scale shape: the corpus is touched ONCE (word-count shuffle into a
    frequency-weighted vocabulary — the classic BPE trick: all
    iteration happens on the vocab, whose size is distinct WORDS, not
    corpus tokens). Each round costs exactly ONE job: the argmax
    collect's pair-count shuffle pulls the (persisted but lazy) merged
    vocab through, fusing the previous round's rewrite with this
    round's count — there is no separate materialization action. The
    predecessor's cache is released one round late (after the job that
    consumed it). O(K) single-row driver round-trips are inherent to
    the sequential argmax; at 100 TB you would checkpoint every ~10
    rounds to truncate lineage — nothing else changes. Measured in
    SCALE.md: near-flat wall at 10x corpus (vocab-bound, not
    corpus-bound).
    """
    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wf"))
    )
    vocab = wf.selectExpr(
        "wf", "filter(split(w, ''), c -> c != '') AS syms"
    ).persist()
    prev = None
    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(1, BPE_MERGES + 1):
            pairs = (
                vocab.selectExpr(
                    "wf",
                    "CASE WHEN size(syms) >= 2 THEN "
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) AS l, "
                    "element_at(syms, i + 1) AS r)) "
                    "ELSE CAST(array() AS ARRAY<STRUCT<l: STRING, "
                    "r: STRING>>) END AS ps",
                )
                .selectExpr("wf", "explode(ps) AS p")
                .groupBy("p.l", "p.r")
                .agg(F.sum("wf").alias("freq"))
            )
            # The ONE job per round: TakeOrdered over the pair counts.
            # Running it fills vocab's cache (the lazy rewrite from last
            # round), after which the predecessor's blocks are dead.
            top = pairs.orderBy(
                F.col("freq").desc(), "l", "r"
            ).limit(1).collect()
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top:
                break
            l, r, freq = top[0]["l"], top[0]["r"], int(top[0]["freq"])
            merges.append((rank, l, r, freq))
            nxt = vocab.select(
                "wf", _bpe_merge_expr(l, r).alias("syms")
            ).persist()
            prev, vocab = vocab, nxt
    finally:
        vocab.unpersist()
        if prev is not None:
            prev.unpersist()
    return local_frame(
        spark, merges, "merge_rank INT, lhs STRING, rhs STRING, freq BIGINT"
    )


# ---------------------------------------------------------------------------
# X71 mixture application: x60's weights materialized as a sample
# ---------------------------------------------------------------------------

SAMPLE_BUDGET = 200  # total docs in the mixed sample (binds at fixture size)


@query(
    "x71_mixture_sample",
    oracle=f"""
    WITH n AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY 1
    ), p AS (
      SELECT source,
             CAST(floor(pow(CAST(n_docs AS DOUBLE), 0.7) * 1000000.0 + 0.5)
                  AS BIGINT) AS rawq
      FROM n
    ), quota AS (
      SELECT source,
             CAST(floor(floor(CAST(rawq AS DOUBLE)
                              / CAST((SELECT sum(rawq) FROM p) AS DOUBLE)
                              * 1000000.0 + 0.5) / 1000000.0
                        * {SAMPLE_BUDGET}) AS BIGINT) AS k
      FROM p
    ), ranked AS (
      SELECT d.source, d.doc_id,
             row_number() OVER (
               PARTITION BY d.source
               ORDER BY (d.doc_id * 2654435761) % 4294967296, d.doc_id
             ) AS rn
      FROM documents d
    )
    SELECT r.source, r.doc_id
    FROM ranked r JOIN quota q USING (source)
    WHERE r.rn <= q.k
    ORDER BY r.source, r.doc_id
    """,
)
def x71_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature-scaled mixture: select each
    source's quota of documents deterministically.

    Composes x60 (alpha=0.7 source weights) with x23/x32's
    reproducible-sampling discipline: quota_s = floor(w6_s *
    SAMPLE_BUDGET), where w6 is x60's exact-integer weight (quantized
    pow sum + portable floor-round, identical on both engines), so the
    floor can never straddle an engine-dependent ulp — each source
    contributes its quota of
    docs ranked by the multiplicative hash (stable under corpus
    growth: a doc's rank only changes when earlier-hashed docs
    arrive). This is the step that turns mixing WEIGHTS into an actual
    training corpus manifest.

    Scale shape: one combinable count shuffle for the weights
    (broadcast back as |sources| rows), one source-partitioned
    window for the ranking. The window sorts each source's partition;
    at 100 TB the rank would ride a bucketed sort or a quantile-sketch
    threshold on the hash (select h < t_s with t_s from x37's sketch
    machinery) — same contract, no global window.
    """
    d = load_table(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    p = n.select(
        "source",
        F.floor(
            F.pow(F.col("n_docs").cast("double"), F.lit(0.7))
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("rawq"),
    )
    tot = p.agg(F.sum("rawq").alias("t"))
    w6 = (
        F.floor(
            F.col("rawq").cast("double")
            / F.col("t").cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    quota = p.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(w6 * SAMPLE_BUDGET).cast("bigint").alias("k"),
    )
    h = (F.col("doc_id") * 2654435761) % 4294967296
    ranked = d.select("source", "doc_id").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("source").orderBy(h.asc(), F.col("doc_id"))
        ),
    )
    return (
        ranked.join(F.broadcast(quota), "source")
        .filter(F.col("rn") <= F.col("k"))
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# X73 source drift: pairwise Jensen-Shannon divergence over hashed buckets
# ---------------------------------------------------------------------------


def _x73_oracle() -> str:
    h = token_hash60_sql("t")
    return f"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\x0B\\f]+'),
                                t -> t <> '')) AS t
      FROM documents
    ), cnt AS (
      SELECT source, {h} % {NB_DSIR} AS b, count(*) AS c
      FROM toks GROUP BY source, b
    ), srcs AS (SELECT DISTINCT source FROM documents),
    grid AS (
      SELECT s.source, g.b, coalesce(cnt.c, 0) AS c
      FROM srcs s CROSS JOIN range(0, {NB_DSIR}) g(b)
      LEFT JOIN cnt ON cnt.source = s.source AND cnt.b = g.b
    ), tot AS (
      SELECT source, sum(c) AS n FROM grid GROUP BY source
    ), p AS (
      SELECT grid.source, grid.b,
             (grid.c + 1) / CAST(tot.n + {NB_DSIR} AS DOUBLE) AS p
      FROM grid JOIN tot USING (source)
    )
    SELECT a.source AS src_a, b.source AS src_b,
           floor(CAST(SUM(CAST(floor((
             0.5 * a.p * ln(a.p / ((a.p + b.p) / 2))
           + 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2))
           ) * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1000000000000.0 * 1000000.0 + 0.5) / 1000000.0 AS jsd
    FROM p a JOIN p b ON a.b = b.b AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY src_a, src_b
    """


@query("x73_source_divergence", oracle=_x73_oracle())
def x73_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: Jensen-Shannon divergence between every
    pair of sources' token distributions.

    The check a pipeline runs when a new crawl lands: hash unigrams
    into NB_DSIR buckets (x66's portable feature space), smooth each
    source's bucket distribution add-one over the FULL bucket grid
    (absent buckets count 0 on both engines — the grid is generated,
    not observed), and report JSD = ½KL(Pa‖M) + ½KL(Pb‖M) per ordered
    source pair. Symmetric, bounded by ln 2, zero iff identical —
    unlike x59's 8-gram containment (verbatim overlap), this moves
    when the VOCABULARY usage drifts even with zero shared text.

    Scale shape: one combinable (source, bucket) count shuffle over
    the corpus; everything after operates on the |sources| × NB_DSIR
    grid — broadcast-scale however large the corpus. ROUND 6 absorbs
    ln-sum addition order (x22/x60 policy).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("t")
    )
    cnt = toks.select(
        "source", (token_hash60(F.col("t")) % NB_DSIR).alias("b")
    ).groupBy("source", "b").agg(F.count("*").alias("c"))
    srcs = d.select("source").distinct()
    grid = (
        srcs.crossJoin(spark.range(NB_DSIR).select(F.col("id").alias("b")))
        .join(cnt, ["source", "b"], "left")
        .select("source", "b", F.coalesce("c", F.lit(0)).alias("c"))
    )
    tot = grid.groupBy("source").agg(F.sum("c").alias("n"))
    p = grid.join(tot, "source").select(
        "source",
        "b",
        ((F.col("c") + 1) / (F.col("n") + NB_DSIR).cast("double")).alias("p"),
    )
    a = p.select(
        F.col("source").alias("src_a"), "b", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("source").alias("src_b"), "b", F.col("p").alias("pb")
    )
    m = (F.col("pa") + F.col("pb")) / 2
    term = 0.5 * F.col("pa") * F.log(F.col("pa") / m) + 0.5 * F.col(
        "pb"
    ) * F.log(F.col("pb") / m)
    # per-bucket term quantized to an integer 1e-12 grid (terms are
    # deterministic: exact-int ratios through ln), summed exactly —
    # the former ROUND(sum(double)) was the x28b order-dependent class
    termq = F.floor(term * F.lit(1e12) + F.lit(0.5)).cast("long")
    jsd = (
        F.floor(
            F.sum(termq).cast("double") / F.lit(1e12) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return (
        a.join(b, "b")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(jsd.alias("jsd"))
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# x76: BM25 ranked retrieval — the lexical-search side of a data pipeline
# (mining training docs for a topic, building retrieval eval sets). The
# reference has no retrieval operator (its engine runs arbitrary SQL,
# reference: query_llm.py:400); this is north-star SURVEY §2.9 surface.
# ---------------------------------------------------------------------------

#: DuckDB twin of functions/text.tokens() — whitespace tokens of the
#: lowercased text, empties dropped (same fragment the x8/x22 oracles
#: inline; named here for the r5 additions).
_TOKENS_ORACLE = (
    r"list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'), t -> t <> '')"
)

#: Fixed query-term set for the registered entry (present in the synthetic
#: corpus vocabulary); the callable computes the same plan for any term set.
BM25_TERMS: tuple[str, ...] = ("vector", "customer", "spark")
BM25_K1 = 1.2
BM25_B = 0.75


@query(
    "x76_bm25_topk",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_ORACLE}) AS tok FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl
      FROM (SELECT d.doc_id, coalesce(dl.dl, 0) AS dl
            FROM documents d LEFT JOIN dl USING (doc_id))
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ({", ".join(repr(t) for t in BM25_TERMS)})
      GROUP BY 1, 2
    ), df AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY 1
    ), contrib AS (
      SELECT tf.doc_id,
             ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                  + {BM25_B} * dl.dl / s.avgdl)) AS c
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats s
    )
    SELECT doc_id,
           floor(CAST(sum(CAST(floor(c * 1000000000.0 + 0.5) AS BIGINT))
                      AS DOUBLE)
                 / 1000000000.0 * 1000000.0 + 0.5) / 1000000.0 AS bm25
    FROM contrib GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def x76_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed bag-of-words query.

    Okapi BM25 (Robertson & Walker 1994): per matched term,
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` with
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``, summed per document
    (ROUND 6 on both engines — sum order is the only float hazard).

    Scale (100 TB): the IN-list term filter lands BEFORE the (doc, tok)
    shuffle, so only rows for the |Q| query terms move — the exchange is
    O(matching postings), not O(corpus tokens). df (≤ |Q| rows) and the
    (N, avgdl) scalar ride in as broadcasts; doc length joins on the
    already-aggregated tf frame keyed by doc_id; the final top-10 is a
    TakeOrderedAndProject. For interactive QPS you'd materialize the
    (tok → postings) index once (x22's tf frame bucketed by tok) and
    reuse it across queries instead of rescanning.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = (
        d.join(dl, "doc_id", "left")
        .select(F.coalesce("dl", F.lit(0)).alias("dl"))
        .agg(
            F.count("*").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
    )
    tf = (
        toks.filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * F.col("tf") * (BM25_K1 + 1) / denom).alias("c"),
        )
    )
    # per-term contribution quantized to an integer 1e-9 grid (each c is
    # deterministic scalar math over exact counts), summed exactly —
    # hashed float sums are the x28b order-dependent class
    cq = F.floor(F.col("c") * F.lit(1000000000.0) + F.lit(0.5)).cast("long")
    bm25 = (
        F.floor(
            F.sum(cq).cast("double") / F.lit(1000000000.0) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return (
        contrib.groupBy("doc_id")
        .agg(bm25.alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# x77: Zipf rank-frequency slope — a one-number corpus health check
# (natural text sits near -1; boilerplate/generated text drifts off).
# ---------------------------------------------------------------------------

ZIPF_TOP_N = 100


@query(
    "x77_zipf_slope",
    oracle=rf"""
    WITH freq AS (
      SELECT tok, count(*) AS f
      FROM (SELECT unnest({_TOKENS_ORACLE}) AS tok FROM documents)
      GROUP BY 1 ORDER BY f DESC, tok LIMIT {ZIPF_TOP_N}
    ), ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM freq
    ), q AS (
      SELECT CAST(floor(ln(f) * 1000000.0 + 0.5) AS BIGINT) AS yq,
             CAST(floor(ln(r) * 1000000.0 + 0.5) AS BIGINT) AS xq
      FROM ranked
    ), s AS (
      SELECT count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
             sum(xq * yq) AS sxy, sum(xq * xq) AS sxx
      FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS zipf_slope,
           floor((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                       / 1000000.0))
                 * 10000.0 + 0.5) / 10000.0 AS zipf_intercept
    FROM s
    """,
)
def x77_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope of ln(freq) vs ln(rank) over the top-100 terms.

    Zipf's law says the slope is ≈ -1 for natural language; a corpus
    whose head diverges (template spam flattens it, key-collapse
    steepens it) fails the monitor. The regression uses the x28b
    integer-sufficient-statistics discipline: ln values quantize to an
    integer 1e-6 grid (per-row deterministic), the five sums are exact
    BIGINTs, and slope/intercept close with one identical scalar
    sequence — native regr_slope's double accumulation was the
    order-dependent hashed-float class ROUND cannot make portable.

    Scale (100 TB): one word-count shuffle (map-side combinable) + a
    TakeOrdered of the top 100; the regression runs on 100 rows on a
    single post-limit partition. The term-frequency frame is the same
    exchange x9/x22 build — in a shared pipeline it's computed once.
    """
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
        .orderBy(F.col("f").desc(), "tok")
        .limit(ZIPF_TOP_N)
    )
    ranked = freq.select(
        "f",
        F.row_number()
        .over(W.orderBy(F.col("f").desc(), "tok"))
        .alias("r"),
    )
    g = F.lit(1000000.0)
    q = ranked.select(
        F.floor(F.log("f") * g + F.lit(0.5)).cast("long").alias("yq"),
        F.floor(F.log("r") * g + F.lit(0.5)).cast("long").alias("xq"),
    )
    s = q.agg(
        F.count("*").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = (n * F.col("sxx") - sx * sx).cast("double")
    slope_raw = num / den
    intercept_raw = sy.cast("double") / n.cast("double") / g - slope_raw * (
        sx.cast("double") / n.cast("double") / g
    )

    def fr4(c):
        return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)

    return s.select(
        n.cast("bigint").alias("n_terms"),
        fr4(slope_raw).alias("zipf_slope"),
        fr4(intercept_raw).alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------------
# x78: curriculum bins — decile-bucket the corpus by a continuous quality
# signal (here x10's unique_ratio) so a training loader can schedule
# easy→hard (or filter the bottom deciles) with one precomputed column.
# ---------------------------------------------------------------------------

N_CURRICULUM_BINS = 10


@query(
    "x78_curriculum_bins",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id,
             CAST(floor(CAST(len(list_distinct(toks)) AS DOUBLE)
                        / greatest(len(toks), 1) * 1000000.0 + 0.5)
                  AS BIGINT) AS sq
      FROM (SELECT doc_id, {_TOKENS_ORACLE} AS toks FROM documents)
    ), binned AS (
      SELECT doc_id, sq, CAST(sq AS DOUBLE) / 1000000.0 AS score,
             ntile({N_CURRICULUM_BINS}) OVER (ORDER BY sq, doc_id) AS bin
      FROM scored
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           min(score) AS min_score, max(score) AS max_score,
           floor(CAST(sum(sq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS avg_score
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def x78_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile curriculum binning with per-bin statistics.

    ``ntile(10)`` over (sq, doc_id) — the score is floor-quantized to
    integer 1e-6 units BEFORE ordering so both engines rank identical
    values and the doc_id tiebreak makes the assignment fully
    deterministic (and the per-bin average an exact sum). Output is
    the bin manifest a curriculum sampler consumes (count + score range
    per decile); joining ``binned`` back to the corpus is the loader's
    one extra hash join.

    Scale (100 TB): a global ntile is a single-partition sort — fine
    for this bounded manifest but NOT for assigning bins to 10^11 rows.
    At scale, replace the window with quantile cutpoints (x37's GK
    sketch or approxQuantile) broadcast as a 9-value array and assign
    via ``width_bucket``-style comparisons — a narrow map. The registry
    entry keeps the exact-window form because it is the semantics the
    cutpoint version approximates (and the differential anchor for it).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # score carried as integer 1e-6 units (sq): per-row deterministic,
    # identical ntile ordering on both engines, and the per-bin average
    # becomes an exact BIGINT sum (the x28b hashed-float-agg class)
    scored = d.select(
        "doc_id",
        F.floor(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sq"),
    )
    binned = scored.select(
        "sq",
        (F.col("sq").cast("double") / F.lit(1000000.0)).alias("score"),
        F.ntile(N_CURRICULUM_BINS)
        .over(W.orderBy("sq", "doc_id"))
        .alias("bin"),
    )
    avg_score = (
        F.floor(
            F.sum("sq").cast("double")
            / F.count("*").cast("double")
            / F.lit(1000000.0)
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            avg_score.alias("avg_score"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# x79: vocabulary growth (Heaps' law) — distinct-token count at corpus
# deciles. Sub-linear growth is the natural-text signature; a vocabulary
# that grows linearly means ID-like junk tokens (and a tokenizer about to
# blow its budget).
# ---------------------------------------------------------------------------


@query(
    "x79_vocab_growth",
    oracle=rf"""
    WITH first_seen AS (
      SELECT tok, min(doc_id) AS fs
      FROM (SELECT doc_id, unnest({_TOKENS_ORACLE}) AS tok FROM documents)
      GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    cp AS (
      -- integer ceiling division: ceil(n*k/10) without the float path
      -- (ceil over a decimal-literal quotient is the engine-split class
      -- tests/test_float_portability.py bans)
      SELECT k, CAST((n.n_docs * k + 9) // 10 AS BIGINT) AS docs
      FROM range(1, 11) t(k) CROSS JOIN n
    )
    SELECT cp.k AS decile, cp.docs AS docs_processed,
           CAST(count(f.tok) AS BIGINT) AS vocab_size
    FROM cp LEFT JOIN first_seen f ON f.fs < cp.docs
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def x79_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve: |vocab| after each tenth of the corpus.

    "Corpus order" is doc_id order (the fixtures' ids are contiguous
    0..n-1 — TESTDATA.md — so ``doc_id < ceil(n*k/10)`` IS the first
    k/10th). Computed from each token's FIRST-seen doc (one word-count
    shuffle, map-side combinable ``min``), then counted under each of
    10 broadcast checkpoints — never by re-scanning per checkpoint.

    Scale (100 TB): first_seen is the same (token)-keyed exchange every
    term-frequency op builds; the checkpoint fan-out replicates only
    the AGGREGATED vocab frame 10x through a broadcast nested-loop
    against a 10-row dim, and the final count is map-side combinable.
    The curve that would need a true ordered scan (per-doc cumulative
    vocab) is deliberately not the contract — decile granularity keeps
    the plan shuffle-minimal.
    """
    d = load_table(spark, sf_dir, "documents")
    first_seen = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"), "doc_id")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("fs"))
    )
    n = d.agg(F.count("*").alias("n_docs"))
    cp = (
        spark.range(1, 11)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(n))
        .select(
            "k",
            F.expr("(n_docs * k + 9) DIV 10").cast("bigint").alias("docs"),
        )
    )
    return (
        F.broadcast(cp)
        .join(first_seen, first_seen.fs < cp.docs, "left")
        .groupBy(F.col("k").alias("decile"), F.col("docs").alias("docs_processed"))
        .agg(F.count("tok").cast("bigint").alias("vocab_size"))
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# x81: token-budget selection — "best docs until the budget runs out",
# the selection step between scoring (x10/x78) and packing (x30/x54):
# given a token budget, keep the highest-quality documents whose
# cumulative token count fits.
# ---------------------------------------------------------------------------

#: Budget as a fraction of total corpus tokens (SF-independent).
BUDGET_FRACTION = 0.5


@query(
    "x81_token_budget_select",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             {floor_round_sql(
                 "CAST(len(list_distinct(toks)) AS DOUBLE)"
                 " / greatest(len(toks), 1)", 6)} AS score
      FROM (SELECT doc_id, {_TOKENS_ORACLE} AS toks FROM documents)
    ), budget AS (
      SELECT CAST(floor(sum(n_tokens) * {BUDGET_FRACTION}) AS BIGINT) AS b
      FROM scored
    ), cum AS (
      SELECT doc_id, score, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, score, n_tokens, cum_tokens
    FROM cum CROSS JOIN budget
    WHERE cum_tokens <= budget.b
    ORDER BY score DESC, doc_id
    """,
)
def x81_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first selection under a 50%-of-corpus token budget.

    Rank every document by (rounded) quality score, take the running
    token total in that order, and keep the prefix that fits the
    budget — the deterministic version of "train on the best half".
    The score is ROUNDed before ordering (identical ranks on both
    engines); the cumulative sum is integer-exact; the budget is
    ``floor(total * fraction)``, also exact.

    Scale (100 TB): a global ORDER BY + running sum is a single-
    partition window — correct semantics, wrong physics at 10^11 docs.
    The scale path: histogram the (score, n_tokens) distribution (one
    map-side-combinable aggregation over rounded scores), find the
    score cutoff where the cumulative budget lands, broadcast that
    cutoff, and keep ``score > cutoff`` as a narrow filter (+ one
    boundary-score partial sort for the exact edge). This entry is the
    exact-semantics anchor that cutoff version approximates; the
    fixture-scale window form doubles as its differential oracle.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        floor_round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("score"),
    )
    budget = scored.agg(
        F.floor(F.sum("n_tokens") * BUDGET_FRACTION)
        .cast("bigint")
        .alias("b")
    )
    cum = scored.select(
        "doc_id",
        "score",
        "n_tokens",
        F.sum("n_tokens")
        .over(
            W.orderBy(F.col("score").desc(), "doc_id").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        )
        .alias("cum_tokens"),
    )
    return (
        cum.crossJoin(F.broadcast(budget))
        .filter(F.col("cum_tokens") <= F.col("b"))
        .select("doc_id", "score", "n_tokens", "cum_tokens")
        .orderBy(F.col("score").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# x82: per-source dataset card — the one-table corpus summary a mixing
# recipe (x60/x71) starts from: volume, token mass, quality pass rate,
# within-source duplication, length profile.
# ---------------------------------------------------------------------------


@query(
    "x82_source_card",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, source, text, {_TOKENS_ORACLE} AS toks FROM documents
    ), per_doc AS (
      SELECT doc_id, source, text,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CASE WHEN len(toks) >= 20
                   AND CAST(len(list_filter(toks,
                         t -> t IN ('the','a','of','and','is'))) AS DOUBLE)
                       / greatest(len(toks), 1) BETWEEN 0.01 AND 0.5
                   AND CAST(len(list_distinct(toks)) AS DOUBLE)
                       / greatest(len(toks), 1) >= 0.2
                  THEN 1 ELSE 0 END AS ok
      FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                    AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)               AS total_tokens,
           floor(CAST(sum(ok) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0       AS quality_ok_rate,
           CAST(count(DISTINCT text) AS BIGINT)        AS n_distinct_texts,
           floor((1.0 - CAST(count(DISTINCT text) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0       AS dup_ratio,
           CAST(min(n_tokens) AS BIGINT)               AS min_tokens,
           CAST(max(n_tokens) AS BIGINT)               AS max_tokens
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def x82_source_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: volume, tokens, quality, duplication.

    One grouped aggregation produces the table a dataset README (or a
    mixing-weight recipe) needs per source: doc count, token mass,
    x10-rule pass rate, distinct-text count (within-source exact-dup
    rate), and the token-length range. All counts are exact integers;
    the two rates are single divisions ROUNDed to 6.

    Scale (100 TB): everything except ``count(DISTINCT text)`` is
    map-side combinable in one source-keyed shuffle. The distinct-text
    count shuffles md5 digests (16 B/doc — x1b's trick) under the same
    source key via a two-level aggregate; Catalyst plans the
    count-distinct expansion automatically. Source cardinality is tiny,
    so AQE coalesces the output; a skewed mega-source is exactly what
    the partial aggregation absorbs.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1))
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))).cast(
            "double"
        )
        / safe_n
    )
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / safe_n
    ok = (
        F.when(
            (n >= 20)
            & stop_ratio.between(0.01, 0.5)
            & (uniq_ratio >= 0.2),
            1,
        )
        .otherwise(0)
        .alias("ok")
    )
    per_doc = d.select(
        "source",
        # digest, not full text, through the distinct-count shuffle
        F.md5("text").alias("th"),
        n.cast("bigint").alias("n_tokens"),
        ok,
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.floor(
                    F.sum("ok").cast("double")
                    / F.count("*").cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("quality_ok_rate"),
            F.countDistinct("th").cast("bigint").alias("n_distinct_texts"),
            (
                F.floor(
                    (
                        F.lit(1.0)
                        - F.countDistinct("th").cast("double")
                        / F.count("*").cast("double")
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("dup_ratio"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x83: the SCALE PATH for x81 — budget selection via a score-histogram
# cutoff instead of a global window. Same output contract, same oracle;
# the pytest gate asserts row-identical results vs x81, the twin pattern
# of x29<->x80 and x62<->x63.
# ---------------------------------------------------------------------------


@query(
    "x83_budget_select_cutoff",
    # Same oracle as x81: the cutoff construction reproduces the exact
    # greedy-prefix semantics, so the declarative twin is unchanged.
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             {floor_round_sql(
                 "CAST(len(list_distinct(toks)) AS DOUBLE)"
                 " / greatest(len(toks), 1)", 6)} AS score
      FROM (SELECT doc_id, {_TOKENS_ORACLE} AS toks FROM documents)
    ), budget AS (
      SELECT CAST(floor(sum(n_tokens) * {BUDGET_FRACTION}) AS BIGINT) AS b
      FROM scored
    ), cum AS (
      SELECT doc_id, score, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, score, n_tokens, cum_tokens
    FROM cum CROSS JOIN budget
    WHERE cum_tokens <= budget.b
    ORDER BY score DESC, doc_id
    """,
)
def x83_budget_select_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x81's semantics without the global window — the 100 TB plan.

    Three-stage cutoff construction:

    1. HISTOGRAM: group docs by their ROUNDed score — at 6 dp in
       [0, 1] that is <= 10^6 + 1 distinct keys no matter the corpus
       size, so the per-score (token mass, doc count) frame is bounded
       and its descending-cumsum window is legitimately single-
       partition AT ANY SCALE.
    2. CUTOFF: the lowest score whose strictly-higher-scores mass
       still fits the budget; everything ABOVE it is kept by a narrow
       broadcast filter — no window decides those rows' fate.
    3. BOUNDARY: only docs AT the cutoff score need their running sum
       COMPARED to the budget to split kept from dropped at the token
       edge. (All kept rows still carry a within-score running sum to
       reconstruct the global ``cum_tokens`` column — but that window
       is PARTITIONED by the score key, i.e. distributed, unlike
       x81's single-partition global sort.)

    Global ``cum_tokens`` is reconstructed as (higher-scores offset +
    within-score running sum), bit-equal to x81's global window (ints
    throughout). Residual skew note: a corpus where ONE rounded score
    holds 10^10 docs serializes stage 3; the fix is one more histogram
    level (bucket by doc_id ranges within the boundary score), same
    trick one level down.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        floor_round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("score"),
    )
    hist = scored.groupBy("score").agg(
        F.sum("n_tokens").alias("mass"), F.count("*").alias("cnt")
    )
    # bounded frame: descending cumulative mass, budget, cutoff pick
    cumhist = hist.select(
        "score",
        "mass",
        F.sum("mass")
        .over(
            W.orderBy(F.col("score").desc()).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        )
        .alias("cum_mass"),
    )
    budget = scored.agg(
        F.floor(F.sum("n_tokens") * BUDGET_FRACTION)
        .cast("bigint")
        .alias("b")
    )
    # offset = mass strictly above this score; scores with offset <= b
    # participate (fully if cum_mass <= b, at the boundary otherwise).
    # The boundary is INCLUSIVE: zero-token docs sitting exactly at
    # offset == b still satisfy cum <= b in x81's global rule (found by
    # tests/test_fuzz_differential.py on a single empty-doc corpus,
    # where budget == 0 and the only level has offset == 0).
    levels = cumhist.crossJoin(F.broadcast(budget)).select(
        "score",
        (F.col("cum_mass") - F.col("mass")).alias("offset"),
        (F.col("cum_mass") <= F.col("b")).alias("full_keep"),
        "b",
    )
    keep_levels = levels.filter(F.col("offset") <= F.col("b"))
    tagged = scored.join(F.broadcast(keep_levels), "score")
    # fully-kept scores: the filter needs no window; the distributed
    # per-score running sum only rebuilds the cum_tokens column
    full = tagged.filter(F.col("full_keep")).select(
        "doc_id",
        "score",
        "n_tokens",
        (
            F.col("offset")
            + F.sum("n_tokens").over(
                W.partitionBy("score")
                .orderBy("doc_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
        ).alias("cum_tokens"),
    )
    # boundary score: running sum decides the exact edge
    edge = (
        tagged.filter(~F.col("full_keep"))
        .select(
            "doc_id",
            "score",
            "n_tokens",
            "b",
            (
                F.col("offset")
                + F.sum("n_tokens").over(
                    W.partitionBy("score")
                    .orderBy("doc_id")
                    .rowsBetween(W.unboundedPreceding, W.currentRow)
                )
            ).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= F.col("b"))
        .drop("b")
    )
    return full.unionByName(edge).orderBy(F.col("score").desc(), "doc_id")


# ---------------------------------------------------------------------------
# x89: hybrid retrieval — reciprocal-rank fusion of the BM25 lexical
# ranking (x76's scorer) and the embedding cosine ranking (x5's scorer)
# over doc_id == vec_id. The standard two-tower serving recipe
# (Cormack et al. 2009 RRF): rank fusion needs no score calibration,
# only INTEGER ranks — which also makes it hash-exact across engines.
# ---------------------------------------------------------------------------

RRF_K = 60
RRF_TOP = 10


@query(
    "x89_hybrid_rrf",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_ORACLE}) AS tok FROM documents
      WHERE doc_id <> 0
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl
      FROM (SELECT d.doc_id, coalesce(dl.dl, 0) AS dl
            FROM documents d LEFT JOIN dl USING (doc_id)
            WHERE d.doc_id <> 0)
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ({", ".join(repr(t) for t in BM25_TERMS)})
      GROUP BY 1, 2
    ), df AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY 1
    ), bm25 AS (
      SELECT tf.doc_id, sum(CAST(floor((
               ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                  + {BM25_B} * dl.dl / s.avgdl)))
               * 1000000000.0 + 0.5) AS BIGINT)) AS score
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats s
      GROUP BY tf.doc_id
    ), trank AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS tr
      FROM bm25
    ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vrank AS (
      SELECT e.vec_id AS doc_id,
             row_number() OVER (
               ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC,
                        e.vec_id) AS vr
      FROM embeddings e, q WHERE e.vec_id <> 0
    )
    SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
           t.tr AS text_rank, v.vr AS vec_rank,
           floor((coalesce(1.0 / ({RRF_K} + t.tr), 0)
                  + coalesce(1.0 / ({RRF_K} + v.vr), 0))
                 * 1000000.0 + 0.5) / 1000000.0 AS rrf
    FROM trank t FULL OUTER JOIN vrank v ON t.doc_id = v.doc_id
    ORDER BY rrf DESC, doc_id LIMIT {RRF_TOP}
    """,
)
def x89_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid top-10: RRF over BM25 rank and embedding-cosine rank.

    Document 0 plays the query (its embedding is the vector probe; the
    BM25 terms are the lexical probe) and is excluded from both
    rankings. Each candidate contributes ``1/(K + rank)`` per ranking
    it appears in — a document with no query terms can still win on
    vector rank alone and vice versa (the fixtures' embeddings only
    cover a prefix of the docs at some SFs, which RRF absorbs by
    construction). Ranks are integers, so the only float is the final
    fused score: two exact divisions, ROUND 6.

    Scale (100 TB): each ranking is its producer's known shape (BM25:
    term-filtered postings exchange; cosine: broadcast-probe scan); at
    serving scale both would be top-M candidate lists (M ~ 1000) from
    their index paths (x76's postings, x27's IVF), making the fusion
    join two M-row frames — this entry is the exact-semantics anchor
    with full rankings. The fusion itself is one doc-keyed join of two
    already-aggregated rank frames.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = (
        d.join(dl, "doc_id", "left")
        .select(F.coalesce("dl", F.lit(0)).alias("dl"))
        .agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    tf = (
        toks.filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    bm25 = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            # integer 1e-9-unit contributions, exact sum (x76 pattern)
            F.sum(
                F.floor(
                    (idf * F.col("tf") * (BM25_K1 + 1) / denom)
                    * F.lit(1000000000.0)
                    + F.lit(0.5)
                ).cast("long")
            ).alias("score")
        )
    )
    trank = bm25.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), "doc_id"))
        .alias("tr"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    from ..functions.vectors import dot, l2_norm

    # Query-norm hoist (x5's discipline): fold the constant query norm
    # once in the broadcast frame — bit-identical double.
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    vrank = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                dot(F.col("embedding"), F.col("qv"))
                / (l2_norm(F.col("embedding")) * F.col("_qn"))
            ).alias("sim"),
        )
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("sim").desc(), "doc_id"))
            .alias("vr"),
        )
    )
    fused = trank.join(vrank, "doc_id", "full_outer").select(
        "doc_id",
        F.col("tr").alias("text_rank"),
        F.col("vr").alias("vec_rank"),
        (
            F.floor(
                (
                    F.coalesce(1.0 / (RRF_K + F.col("tr")), F.lit(0.0))
                    + F.coalesce(1.0 / (RRF_K + F.col("vr")), F.lit(0.0))
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(RRF_TOP)


# ---------------------------------------------------------------------------
# x90: stratified budget selection — x81's greedy-quality rule applied
# WITHIN each source under per-source token quotas. This is the form a
# production mixing recipe actually runs (quota from the mixture
# weights, quality ranking within the stratum), and it is fully
# distributed: every window is partitioned by source — no global sort
# anywhere, unlike x81 (whose scale path x83 approximates cutpoints).
# ---------------------------------------------------------------------------

STRATUM_FRACTION = 0.5  # keep the best half of each source's tokens


@query(
    "x90_stratified_budget_select",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
             {floor_round_sql(
                 "CAST(len(list_distinct(toks)) AS DOUBLE)"
                 " / greatest(len(toks), 1)", 6)} AS score
      FROM (SELECT doc_id, source, {_TOKENS_ORACLE} AS toks FROM documents)
    ), budget AS (
      SELECT source,
             CAST(floor(sum(n_tokens) * {STRATUM_FRACTION}) AS BIGINT) AS b
      FROM scored GROUP BY source
    ), cum AS (
      SELECT doc_id, source, score, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source
                                      ORDER BY score DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_tokens
      FROM scored
    )
    SELECT c.doc_id, c.source, c.score, c.n_tokens, c.cum_tokens
    FROM cum c JOIN budget USING (source)
    WHERE c.cum_tokens <= budget.b
    ORDER BY c.source, c.cum_tokens
    """,
)
def x90_stratified_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source greedy quality selection under per-source quotas.

    Within each source: rank by (rounded) quality, keep the running-
    token prefix that fits ``floor(source_tokens * fraction)``. The
    registered entry uses a uniform fraction; swapping in x60's mixture
    weights (quota ∝ weight) changes only the broadcast budget frame.

    Scale (100 TB): this is the budget-selection form that needs NO
    global coordination — the quota aggregation, the ranking window and
    the running sum are all keyed/partitioned by source, so the only
    exchanges are source-keyed and the windows parallelize across
    sources. A single mega-source stratum degenerates to x81's problem
    and takes x83's cutoff-histogram treatment one level down; for
    realistic source cardinalities (10^2-10^5) this shape is optimal.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        floor_round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("score"),
    )
    budget = scored.groupBy("source").agg(
        F.floor(F.sum("n_tokens") * STRATUM_FRACTION)
        .cast("bigint")
        .alias("b")
    )
    cum = scored.select(
        "doc_id",
        "source",
        "score",
        "n_tokens",
        F.sum("n_tokens")
        .over(
            W.partitionBy("source")
            .orderBy(F.col("score").desc(), "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("cum_tokens"),
    )
    return (
        cum.join(budget, "source")
        .filter(F.col("cum_tokens") <= F.col("b"))
        .select("doc_id", "source", "score", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# x92: source-calibrated quality — percent-rank the quality score WITHIN
# each source before thresholding. Raw quality scores are not comparable
# across sources (a clean-corpus median beats a crawl's 90th percentile);
# rank normalization per stratum is the standard fix before any global
# keep-rule, and it is embarrassingly distributed (source-partitioned
# windows only).
# ---------------------------------------------------------------------------

CALIBRATED_KEEP = 0.5  # keep the top half of each source by rank


@query(
    "x92_source_calibrated_quality",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id, source,
             {floor_round_sql(
                 "CAST(len(list_distinct(toks)) AS DOUBLE)"
                 " / greatest(len(toks), 1)", 6)} AS score
      FROM (SELECT doc_id, source, {_TOKENS_ORACLE} AS toks FROM documents)
    )
    SELECT doc_id, source, score,
           {floor_round_sql(
               "percent_rank() OVER (PARTITION BY source "
               "ORDER BY score, doc_id)", 6)} AS pr,
           CASE WHEN percent_rank() OVER (PARTITION BY source
                                          ORDER BY score, doc_id)
                     >= {CALIBRATED_KEEP}
                THEN 1 ELSE 0 END AS kept
    FROM scored ORDER BY doc_id
    """,
)
def x92_source_calibrated_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Percent-rank quality within source; keep the top half per source.

    ``percent_rank`` over (score, doc_id) — the doc_id tiebreak makes
    ranks total and both engines agree exactly; the score is
    floor-rounded before ranking. ``kept`` compares the rank, not the raw score, so
    every source contributes its own best half regardless of how its
    score distribution sits against the corpus — the calibration step
    a naive global threshold (x10's flat rule) lacks.

    Scale (100 TB): one source-partitioned window — the exchanges are
    source-keyed and strata rank in parallel; there is no global sort
    or corpus-wide state. Mega-source skew takes the same cutpoint
    treatment as x83, one level down.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        "source",
        floor_round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("score"),
    )
    w = W.partitionBy("source").orderBy("score", "doc_id")
    pr = F.percent_rank().over(w)
    return scored.select(
        "doc_id",
        "source",
        "score",
        floor_round(pr, 6).alias("pr"),
        F.when(pr >= CALIBRATED_KEEP, 1).otherwise(0).alias("kept"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# x93: mean integer surprisal — the unigram-LM document score with EXACT
# integer arithmetic. The CCNet/KenLM quality filter ranks documents by
# average token log-probability under a corpus LM; a float sum of logs
# is engine-accumulation-order-dependent, so we quantize the surprisal
# to floor(log2(N / c)) bits per token, computed as
# length(bin(N // c)) - 1 — binary-string length of the integer
# quotient, exact in both engines (for integer x >= 1 and real
# r = N/c in [2^k, 2^(k+1)), floor(r) is also in that interval, so
# flooring before the log changes nothing). One rounded division at the
# very end; everything upstream is BIGINT.
# ---------------------------------------------------------------------------


@query(
    "x93_mean_surprisal",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_ORACLE}) AS t FROM documents
    ), cnt AS (
      SELECT t, count(*) AS c FROM tok GROUP BY 1
    ), tot AS (
      SELECT count(*) AS n FROM tok
    )
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(length(bin(tot.n // cnt.c)) - 1) AS BIGINT)
             AS sum_surprisal,
           floor(CAST(sum(length(bin(tot.n // cnt.c)) - 1) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS mean_surprisal
    FROM tok JOIN cnt USING (t) CROSS JOIN tot
    GROUP BY 1
    ORDER BY 1
    """,
)
def x93_mean_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token surprisal under the corpus unigram LM.

    surprisal(t) = floor(log2(N / c(t))) bits — a rare token (c=1)
    contributes ~log2(N) bits, the corpus's most common token ~0 —
    computed as ``length(bin(N div c)) - 1``: pure BIGINT arithmetic,
    bit-identical across engines (no float ``log`` anywhere). Low mean
    surprisal = repetitive/boilerplate text, high = vocabulary unlike
    the corpus (OCR noise, wrong language) — the two tails a
    perplexity filter cuts. Complements x57 (rare-BIGRAM ratio): x93
    weights every token by its actual frequency band instead of a
    binary rare/common split.

    Scale (100 TB): the token-keyed count is the word-count shape
    (map-side combinable); the LM join is token-keyed and deliberately
    NOT broadcast (the unigram table is corpus-vocabulary-sized); the
    corpus total N is a one-row broadcast. Per-doc rollup is one
    doc_id-keyed shuffle of pre-aggregated rows. At 100 TB, key the
    LM join on xxhash64(token) to shuffle 8 bytes/token instead of
    strings — counts are unaffected.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    cnt = tok.groupBy("t").agg(F.count("*").alias("c"))
    tot = tok.select(F.count("*").alias("n"))
    surp = F.length(F.bin(F.expr("n DIV c"))) - F.lit(1)
    agg = (
        tok.join(cnt, "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(surp).cast("bigint").alias("sum_surprisal"),
        )
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "sum_surprisal",
        (
            F.floor(
                F.col("sum_surprisal").cast("double")
                / F.col("n_tokens").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("mean_surprisal"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# x95: per-source vocabulary coverage (Good-Turing) + Chao1 richness.
# "Is this source's vocabulary saturated, or does more crawl mean more
# new tokens?" — the decision statistic behind x79's growth CURVE,
# reduced to closed-form estimates: Good-Turing coverage 1 - f1/N (the
# probability the NEXT token was already seen) and the Chao1 lower
# bound on true vocabulary size V + f1^2/(2*f2). Counts are exact
# integers; the two divisions are rounded once at the edge.
# ---------------------------------------------------------------------------


@query(
    "x95_vocab_coverage",
    oracle=rf"""
    WITH tok AS (
      SELECT source, unnest({_TOKENS_ORACLE}) AS t FROM documents
    ), cnt AS (
      SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           floor((1.0 - CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                             AS DOUBLE) / CAST(sum(c) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS coverage,
           floor((CAST(count(*) AS DOUBLE)
                  + CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                    * CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(2 * greatest(sum(CASE WHEN c = 2 THEN 1 ELSE 0
                                            END), 1) AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS chao1
    FROM cnt GROUP BY 1 ORDER BY 1
    """,
)
def x95_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing coverage and Chao1 vocabulary richness per source.

    f1/f2 = singleton/doubleton token-type counts within the source;
    coverage = 1 - f1/N estimates the mass of already-seen tokens (a
    source near 1.0 is vocabulary-saturated — more data adds volume,
    not diversity); chao1 = V + f1^2/(2*f2) lower-bounds the true
    vocabulary (f2 floored at 1: the standard guard, keeps the
    estimator finite on doubleton-free sources). Both estimators are
    single rounded divisions over exact BIGINT counts — hash-exact
    across engines.

    Scale (100 TB): one (source, token)-keyed count (map-side
    combinable word-count shape) then a source-keyed rollup of
    already-tiny per-type rows. No joins, no broadcast, no float until
    the final division. The same two-level reduction at 100 TB; skewed
    mega-sources split fine because both aggs are partial-aggregated.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("t")
    )
    cnt = tok.groupBy("source", "t").agg(F.count("*").alias("c"))
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("vocab"),
            f1.cast("bigint").alias("f1"),
            f2.cast("bigint").alias("f2"),
            (
                F.floor(
                    (
                        F.lit(1.0)
                        - f1.cast("double") / F.sum("c").cast("double")
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("coverage"),
            (
                F.floor(
                    (
                        F.count("*").cast("double")
                        + f1.cast("double")
                        * f1.cast("double")
                        / (2 * F.greatest(f2, F.lit(1))).cast("double")
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("chao1"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x98: mixture deficiency planner. Given x60's temperature-scaled
# mixing rule applied to TOKEN mass and a target training budget,
# report per source: tokens wanted vs tokens available, the implied
# epoch count, and the deficiency flag. The planning table that tells
# you BEFORE launching a run which sources the sampler will have to
# repeat (epochs > 1) — the up-weighted small sources — and which are
# effectively infinite at this budget.
# ---------------------------------------------------------------------------

#: Planning budget (tokens) for the registered entry: ~1x the sf0.01
#: corpus token mass (27,165). The 20 fixture sources are near-uniform
#: (~1.2-1.6k tokens), so needed ~ budget/20 ~ 1,350 lands INSIDE the
#: per-source token distribution — sources below it come out deficient,
#: sources above do not, and both branches are exercised.
MIX_BUDGET_TOKENS = 27_000
MIX_ALPHA = 0.7  # x60's temperature


@query(
    "x98_mixture_deficiency",
    oracle=rf"""
    WITH toks AS (
      SELECT source, len({_TOKENS_ORACLE}) AS n FROM documents
    ), src AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens
      FROM toks GROUP BY 1
    ), wt AS (
      SELECT source, n_tokens,
             floor(CAST(rawq AS DOUBLE)
                   / CAST(sum(rawq) OVER () AS DOUBLE)
                   * 1000000.0 + 0.5) / 1000000.0 AS weight
      FROM (
        SELECT source, n_tokens,
               CAST(floor(pow(n_tokens, {MIX_ALPHA}) * 1000000.0 + 0.5)
                    AS BIGINT) AS rawq
        FROM src
      )
    )
    SELECT source, n_tokens, weight,
           CAST(floor({MIX_BUDGET_TOKENS} * weight) AS BIGINT)
             AS needed_tokens,
           floor(floor({MIX_BUDGET_TOKENS} * weight)
                 / CAST(n_tokens AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS epochs,
           CASE WHEN floor({MIX_BUDGET_TOKENS} * weight) > n_tokens
                THEN 1 ELSE 0 END AS deficient
    FROM wt ORDER BY source
    """,
)
def x98_mixture_deficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token demand vs supply under the alpha=0.7 mixture.

    weight_s = n_s^alpha / sum(n^alpha) over TOKEN counts (x60's rule,
    re-based from documents to tokens because budgets are in tokens);
    needed = floor(budget * weight) with the weight computed exactly
    (x60's quantized-pow integer sum + portable floor-round), so the
    product is one identical IEEE multiply on both engines and the
    floor cannot straddle; epochs = needed/available (epochs > 1 = the
    source must repeat — the deficiency a data card should disclose);
    deficient flags it. No float accumulates anywhere.

    Scale (100 TB): one source-keyed combinable token count, one
    |sources|-row window normalization, then narrow arithmetic —
    no corpus-sized shuffle beyond the count. The planning table stays
    |sources| rows forever.
    """
    d = load_table(spark, sf_dir, "documents")
    src = d.select(
        "source", F.size(tokens(F.col("text"))).alias("n")
    ).groupBy("source").agg(F.sum("n").cast("bigint").alias("n_tokens"))
    wsum = W.partitionBy()
    rawq = F.floor(
        F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    weight = (
        F.floor(
            F.col("rawq").cast("double")
            / F.sum("rawq").over(wsum).cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    needed = F.floor(F.lit(MIX_BUDGET_TOKENS) * F.col("weight")).cast(
        "bigint"
    )
    return (
        src.withColumn("rawq", rawq)
        .withColumn("weight", weight)
        .withColumn("needed_tokens", needed)
        .select(
            "source",
            "n_tokens",
            "weight",
            "needed_tokens",
            (
                F.floor(
                    F.col("needed_tokens").cast("double")
                    / F.col("n_tokens").cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("epochs"),
            F.when(
                F.col("needed_tokens") > F.col("n_tokens"), 1
            ).otherwise(0).alias("deficient"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x101: readability (Flesch reading-ease, integer-proxy form). The
# classic prose-quality feature x61's Gopher rules lack: sentence
# length and syllable density. Sentences are counted as terminal-
# punctuation runs (floored at 1), syllables as vowel-letter runs —
# both exact regexp counts, identical in both engines; the Flesch
# formula is then one fixed expression over three BIGINTs, rounded
# once. The standard 206.835/1.015/84.6 coefficients.
# ---------------------------------------------------------------------------


@query(
    "x101_readability",
    oracle=rf"""
    WITH c AS (
      SELECT doc_id,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS n_sent,
             len({_TOKENS_ORACLE}) AS n_words,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
      FROM documents
    )
    SELECT doc_id,
           CAST(n_sent AS BIGINT) AS n_sent,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_syll AS BIGINT) AS n_syll,
           {floor_round_sql(
               "206.835"
               " - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)"
               " - 84.6 * (CAST(n_syll AS DOUBLE)"
               " / greatest(n_words, 1))", 6)} AS flesch
    FROM c ORDER BY doc_id
    """,
)
def x101_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, from exact integer counts.

    n_sent = runs of [.!?] (min 1: an unpunctuated fragment is one
    sentence); n_syll = runs of vowel letters (the standard cheap
    syllable proxy — exact hyphenation needs a dictionary, and the
    FILTER use case only needs ordering, not phonetics); flesch =
    206.835 - 1.015*(words/sentence) - 84.6*(syllables/word). Very low
    scores = run-on machine text; impossibly high = fragmented OCR —
    the two tails a readability filter cuts. Counts are exact and the
    formula is a single fixed-shape double expression, so the oracle
    is hash-exact.

    Scale (100 TB): pure narrow map — two regexp scans and a tokenize
    per row, no shuffle at all (the cheapest operator class in the
    registry, same shape as x8/x10).
    """
    d = load_table(spark, sf_dir, "documents")
    n_sent = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    n_words = F.size(tokens(F.col("text")))
    n_syll = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    )
    c = d.select(
        "doc_id",
        n_sent.cast("bigint").alias("n_sent"),
        n_words.cast("bigint").alias("n_words"),
        n_syll.cast("bigint").alias("n_syll"),
    )
    return c.select(
        "doc_id",
        "n_sent",
        "n_words",
        "n_syll",
        floor_round(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sent"))
            - F.lit(84.6)
            * (
                F.col("n_syll").cast("double")
                / F.greatest(F.col("n_words"), F.lit(1))
            ),
            6,
        ).alias("flesch"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# x113: per-document character entropy — the information-theoretic
# upgrade of x48's distinct-char ratio. Low entropy = repeated-char
# padding/one-note spam; implausibly high = binary-as-text. The p*log2
# sum is float and order-dependent, so it folds over the CHAR-SORTED
# count list (identical IEEE order in both engines — the x105/x107
# fixed-order discipline), with one ROUND at the edge.
# ---------------------------------------------------------------------------


@query(
    "x113_char_entropy",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c
      FROM documents WHERE length(text) > 0
    ), cnt AS (
      SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2
    ), lst AS (
      SELECT doc_id,
             CAST(sum(k) AS DOUBLE) AS n,
             list(CAST(k AS DOUBLE) ORDER BY c) AS ks
      FROM cnt GROUP BY 1
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars,
           CAST(len(ks) AS BIGINT) AS n_distinct,
           {floor_round_sql(
               "list_reduce("
               "list_transform(ks, k -> -(k / n) * log2(k / n)),"
               " (a, x) -> a + x)", 6)} AS entropy_bits
    FROM lst ORDER BY doc_id
    """,
)
def x113_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits/char) of each document's character
    distribution, folded in char-sorted order so both engines add the
    same terms in the same sequence. Range [0, log2(n_distinct)]; the
    quality filter cuts both tails. Empty documents are excluded (no
    distribution to measure).

    Scale (100 TB): explode to (doc, char) then two doc-keyed
    combinable aggregations — the per-doc alphabet is bounded
    (<= charset size), so the collected count list is tiny regardless
    of document length.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    ch = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), ""), lambda c: c != F.lit(""))
        ).alias("c"),
    )
    cnt = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    lst = cnt.groupBy("doc_id").agg(
        F.sum("k").cast("double").alias("n"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("c", "k"))),
            lambda s: s["k"].cast("double"),
        ).alias("ks"),
    )
    ent = F.aggregate(
        F.col("ks"),
        F.lit(0.0),
        lambda a, k: a
        - (k / F.col("n")) * F.log2(k / F.col("n")),
    )
    return lst.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars"),
        F.size("ks").cast("bigint").alias("n_distinct"),
        floor_round(ent, 6).alias("entropy_bits"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# x138 — batch padding-waste audit (length-bucketing economics)
# ---------------------------------------------------------------------------

#: Training-batch geometry for the audit: sequences truncated to
#: PAD_MAX_LEN tokens, batched PAD_BATCH at a time, every sequence in a
#: batch padded to the batch's longest member (the standard dense-batch
#: collate). Fixture-sized; the plan is identical for any (L, B).
PAD_MAX_LEN = 128
PAD_BATCH = 8


def _x138_oracle() -> str:
    return f"""
    WITH n AS (
      SELECT source, doc_id,
             least(len({_TOKENS_ORACLE}), {PAD_MAX_LEN}) AS n
      FROM documents
    ), a AS (
      SELECT source, n,
             (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
               // {PAD_BATCH} AS b
      FROM n
    ), s AS (
      SELECT source, n,
             (row_number() OVER (PARTITION BY source ORDER BY n DESC, doc_id)
              - 1) // {PAD_BATCH} AS b
      FROM n
    ), pa AS (
      SELECT source, CAST(sum(mx * cnt) AS BIGINT) AS padded
      FROM (SELECT source, b, max(n) AS mx, count(*) AS cnt
            FROM a GROUP BY source, b) GROUP BY source
    ), ps AS (
      SELECT source, CAST(sum(mx * cnt) AS BIGINT) AS padded
      FROM (SELECT source, b, max(n) AS mx, count(*) AS cnt
            FROM s GROUP BY source, b) GROUP BY source
    ), tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS real_tokens
      FROM n GROUP BY source
    )
    SELECT tot.source, n_docs, real_tokens,
           pa.padded AS padded_arrival, ps.padded AS padded_sorted,
           CAST((pa.padded - real_tokens) * 1000000
                // greatest(pa.padded, 1) AS BIGINT) AS waste_arrival_ppm,
           CAST((ps.padded - real_tokens) * 1000000
                // greatest(ps.padded, 1) AS BIGINT) AS waste_sorted_ppm
    FROM tot JOIN pa USING (source) JOIN ps USING (source)
    ORDER BY source
    """


@query("x138_padding_waste", oracle=_x138_oracle())
def x138_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste per source under arrival-order vs length-sorted
    batching — the sequence-collation economics audit.

    Dense training batches pad every sequence to the batch max, so
    batch composition decides how many FLOPs are spent on pad tokens:
    arrival-order batching mixes lengths (waste ~ E[max-of-B] − E[n]),
    while length-sorted bucketing groups like lengths and approaches
    zero waste. This op measures BOTH on the real corpus — per source,
    exact integer ppm — quantifying what length bucketing would save
    before anyone re-shards 100 TB. Complements x30 (token-budget shard
    packing) and x54 (FFD bin packing): those build layouts, this
    prices the collate policy.

    Semantics: token counts from the shared tokenizer truncated to
    PAD_MAX_LEN; batches of PAD_BATCH formed WITHIN each source (the
    unit a shard inherits), final partial batch padded to its own max;
    ties in the sorted order broken by doc_id so both engines form
    identical batches.

    Scale (100 TB): batching is per-source windows — bounded
    partitions, the x90 discipline, never a global single-partition
    sort (a real pipeline batches within shards; a global order would
    be the x81-style anchor smell). One tokenize scan feeds both
    strategies; two per-(source, batch) combinable aggregates + one
    |sources|-row join. All integer, hash-exact.
    """
    d = load_table(spark, sf_dir, "documents")
    n = d.select(
        "source",
        "doc_id",
        F.least(F.size(tokens(F.col("text"))), F.lit(PAD_MAX_LEN)).alias("n"),
    )
    w_arr = W.partitionBy("source").orderBy("doc_id")
    w_srt = W.partitionBy("source").orderBy(F.desc("n"), "doc_id")

    def padded(win) -> DataFrame:
        b = F.floor((F.row_number().over(win) - 1) / PAD_BATCH).alias("b")
        return (
            n.select("source", "n", b)
            .groupBy("source", "b")
            .agg(F.max("n").alias("mx"), F.count(F.lit(1)).alias("cnt"))
            .groupBy("source")
            .agg(F.sum(F.col("mx") * F.col("cnt")).cast("bigint").alias("padded"))
        )
    pa = padded(w_arr).withColumnRenamed("padded", "padded_arrival")
    ps = padded(w_srt).withColumnRenamed("padded", "padded_sorted")
    tot = n.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("real_tokens"),
    )
    return (
        tot.join(pa, "source")
        .join(ps, "source")
        .select(
            "source",
            "n_docs",
            "real_tokens",
            "padded_arrival",
            "padded_sorted",
            F.expr(
                "CAST((padded_arrival - real_tokens) * 1000000"
                " DIV greatest(padded_arrival, 1) AS BIGINT)"
            ).alias("waste_arrival_ppm"),
            F.expr(
                "CAST((padded_sorted - real_tokens) * 1000000"
                " DIV greatest(padded_sorted, 1) AS BIGINT)"
            ).alias("waste_sorted_ppm"),
        )
        .orderBy("source")
    )
