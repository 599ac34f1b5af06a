"""Deduplication operators for large-scale training-data pipelines.

Exact dedup is a hash aggregation; near-dup detection is MinHash/SimHash
LSH re-expressed as pure DataFrame ops so Catalyst/Tungsten keeps the
whole pipeline JVM-side (no Python in the hot path):

- shingling: `F.sequence` + `F.transform` (no explode until needed)
- hashing:   engine-portable md5 + mod-p folds (functions/porthash.py),
             so every sketch carries a real DuckDB oracle
- banding:   mod-p fold of consecutive signature slices -> bucket join

Scale posture (100 TB): every stage is a narrow map or a single
keyed shuffle; candidate verification only touches pairs that share an
LSH bucket (no O(n^2) cross join). Skewed buckets (boilerplate shingles)
are bounded by dropping buckets above a frequency cap, the standard
trick for web-scale dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.porthash import (
    PH_B,
    PH_P,
    perm_constants,
    token_hash60,
    token_hash60_sparksql,
    token_hash60_sql,
)
from ..functions.text import char_ngrams, tokens
from ..sources.catalog import load_table
from ._util import floor_round, floor_round_sql, release, unpersist_with, widen
from .registry import query

# ---------------------------------------------------------------------------
# X1 exact dedup
# ---------------------------------------------------------------------------


@query(
    "x1_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def x1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on full text; keeps the lowest doc_id.

    Deterministic alternative to ``dropDuplicates`` (which keeps an
    arbitrary row). One hash-aggregate shuffle; at 100 TB you'd key on
    ``xxhash64(text)`` + length to avoid shuffling full documents — see
    x2's signature trick.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    ).select("doc_id", "n_copies")


@query(
    "x1b_dedup_hash_key",
    oracle="""
    SELECT count(*) AS n_unique FROM (
      SELECT md5(text) FROM documents GROUP BY 1
    )
    """,
)
def x1b_dedup_hash_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup: shuffle 16-byte digests, not documents.

    This is the shape that survives 100 TB — the groupBy key is md5(text)
    so shuffle volume is O(rows * 16B) instead of O(corpus bytes).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("h"))
        .groupBy("h")
        .count()
        .agg(F.count("*").alias("n_unique"))
    )


@query(
    "x35_dedup_normalized",
    # normalization: casefold, strip non-alphanumerics to spaces,
    # collapse whitespace — the "fuzzy-exact" dedup between exact (x1)
    # and minhash (x2): catches reformatted copies at exact-dedup cost
    # non-[a-z0-9] scripts (CJK etc.) normalize to '' — those docs fall
    # back to their RAW text hash so distinct non-Latin documents are
    # never falsely collapsed into one group
    oracle=r"""
    SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_variants
    FROM (
      SELECT doc_id,
             CASE WHEN norm = '' THEN md5(text) ELSE md5(norm) END AS norm_h
      FROM (
        SELECT doc_id, text,
               trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents
      )
    )
    GROUP BY norm_h
    """,
)
def x35_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text dedup: casefold + punctuation/whitespace collapse.

    Practical middle ground between byte-exact (x1) and near-dup (x2):
    catches re-encoded, re-punctuated, re-wrapped copies with the same
    single digest-keyed shuffle as exact dedup — 16 B/row at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "), " +", " "
        )
    )
    norm_h = F.when(norm == "", F.md5("text")).otherwise(F.md5(norm))
    return (
        d.select("doc_id", norm_h.alias("norm_h"))
        .groupBy("norm_h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("bigint").alias("n_variants"),
        )
        .select("doc_id", "n_variants")
    )


# ---------------------------------------------------------------------------
# X2 MinHash + LSH near-dup
# ---------------------------------------------------------------------------

N_HASHES = 32  # minhash permutations
BAND_SIZE = 4  # rows per LSH band -> 8 bands
SHINGLE_K = 5  # word-shingle width... chosen for short synthetic docs
MAX_BUCKET = 50  # skew guard: drop degenerate buckets
MAX_POSTING = 1000  # x3 absolute df cap: bounds posting lists at scale


#: (multiplier, offset) per minhash permutation — shared literals with
#: the DuckDB oracle (porthash.perm_constants).
_PERMS = perm_constants(N_HASHES)


def minhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """doc -> array<long> minhash signature of length N_HASHES.

    Computed entirely as a narrow map: per row, the distinct shingle
    array is hashed per permutation with ``array_min(transform(...))``
    — ZERO shuffles for signatures (an earlier formulation exploded
    shingles and groupBy'd them back: two shuffles of O(corpus tokens),
    which dominated the bench). At 100 TB this keeps the only shuffle
    in the whole near-dup pipeline at the banding stage, which moves
    (id, band, bucket) triples — bytes per doc, not the corpus.

    Hashing is ENGINE-PORTABLE (functions/porthash.py): md5-derived
    token hashes + mod-p polynomial folds give every engine the same
    signatures, so x2 carries a full DuckDB value-hash oracle instead
    of a rows-only check. (An earlier xxhash64/wraparound formulation
    was Spark-only; md5 costs ~2x per token, the price of a sketch the
    oracle can audit bit-for-bit.)
    """
    # The hashing below is CPU-heavy (N_HASHES passes over every
    # shingle). A small input can arrive as 1-2 scan partitions (one
    # parquet footer), serializing the work; widen to the core count.
    # At 100 TB the scan already has >> cores partitions and this no-ops.
    docs = widen(docs)
    # Shingle in HASH space: hash each token once, then fold every k
    # consecutive token hashes into a shingle hash (polynomial combine)
    # — no shingle strings are ever built or re-hashed. Permutations
    # are then cheap integer mixes (h*A_i + B_i) % P of that base hash
    # (the standard "one hash + linear permutations" construction).
    #
    # All three stages are built as SQL text (one JVM-side parse per
    # selectExpr) rather than Column-API composition: the 32-permutation
    # tree cost ~1.1 s of driver-side Py4J per plan BUILD at r4 — pure
    # per-query latency, invisible at 100 TB but 6% of the sf0.1 bench.
    # The parsed plan and generated code are identical either way.
    token_h = f"{token_hash60_sparksql('t')} % {PH_P}L"
    return _minhash_signatures_impl(docs, id_col, text_col, token_h)


def minhash_signatures_fast(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """xxhash64 production twin of :func:`minhash_signatures`.

    Identical pipeline shape (narrow-map signatures, same shingle fold,
    same permutation family, same banding downstream) with the token
    hash swapped from md5-hex-parse to Spark's native ``xxhash64`` —
    one vectorized JVM intrinsic instead of a digest + 15-char hex
    decode, ~2x cheaper per token. The price: DuckDB cannot reproduce
    xxhash64, so this path is NOT bit-auditable by the SQL oracle; it
    is gated instead by the pytest twin check (tests/test_fastpath.py)
    that its near-dup pair set agrees with the portable path's on the
    fixtures. At 100 TB — where hashing dominates wall and the
    per-query plan floor vanishes — run THIS path in production and
    sample-audit with the portable twin, the same differential pattern
    as x3 (exact Jaccard) vs x2 (sketch).
    """
    docs = widen(docs)
    token_h = f"pmod(xxhash64(t), {PH_P}L)"
    return _minhash_signatures_impl(docs, id_col, text_col, token_h)


def _shingle_sets_impl(
    docs: DataFrame, id_col: str, text_col: str, token_hash_sql: str
) -> DataFrame:
    """(id, _bh): the DISTINCT shingle-hash set per document — the
    exact set whose Jaccard the minhash signatures estimate. Shared by
    the signature pipeline and x74's exact-truth evaluation."""
    th_sql = (
        f"transform(filter(split(lower({text_col}), '[ \\\\t\\\\n\\\\r\\\\x0B\\\\f]+'), t -> t != ''), "
        f"t -> {token_hash_sql})"
    )
    docs = docs.selectExpr(id_col, f"{th_sql} AS _th")
    shingles_sql = (
        f"transform(sequence(1, greatest(size(_th) - {SHINGLE_K - 1}, 1)), "
        f"i -> aggregate(slice(_th, i, {SHINGLE_K}), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * {PH_B}L + x) % {PH_P}L))"
    )
    return docs.selectExpr(id_col, f"array_distinct({shingles_sql}) AS _bh")


def _minhash_signatures_impl(
    docs: DataFrame, id_col: str, text_col: str, token_hash_sql: str
) -> DataFrame:
    """Shared minhash pipeline over a token-hash SQL fragment (``t``)."""
    docs = _shingle_sets_impl(docs, id_col, text_col, token_hash_sql)
    sig_sql = "array(" + ", ".join(
        f"array_min(transform(_bh, h -> (h * {a}L + {b}L) % {PH_P}L))"
        for a, b in _PERMS
    ) + ")"
    return docs.selectExpr(id_col, f"{sig_sql} AS sig")


def _banded(sig: DataFrame, id_col: str) -> DataFrame:
    """Explode a signature frame to (id, sig, band, bucket) rows.

    The bucket key is a band-seeded mod-p fold of the band's signature
    slice — portable arithmetic, same literals as the oracle SQL.
    """
    n_bands = N_HASHES // BAND_SIZE
    bands_sql = "explode(array(" + ", ".join(
        f"struct({b} AS band, "
        f"aggregate(slice(sig, {b * BAND_SIZE + 1}, {BAND_SIZE}), "
        f"CAST({b + 1} AS BIGINT), "
        f"(acc, x) -> (acc * {PH_B}L + x) % {PH_P}L) AS bucket)"
        for b in range(n_bands)
    ) + "))"
    return sig.selectExpr(id_col, "sig", f"{bands_sql} AS bb").selectExpr(
        id_col, "sig", "bb.band AS band", "bb.bucket AS bucket"
    )


def lsh_candidate_pairs(sig: DataFrame, id_col: str) -> DataFrame:
    """Banded LSH: pairs of ids that collide in >=1 band.

    Formulated as ONE (band, bucket) aggregation + in-bucket pair
    generation rather than a bucket self-join: ``collect_list`` gathers
    each bucket's (id, sig) members — bounded at MAX_BUCKET by the same
    filter that implements the skew guard, so per-group state is
    ≤ MAX_BUCKET * (32 longs + id) no matter how degenerate the corpus —
    and a narrow ``transform x filter`` nested loop emits the ordered
    pairs. vs the previous window-guard + self-join shape this moves the
    bands frame through ONE exchange instead of two and collapses ~8
    sequential AQE stage waves to ~4 (measured 1.65 s -> 0.7 s for the
    pairing half at sf0.1, identical row set). At 100 TB the shuffle
    volume halves and the skew cap doubles as the memory bound.

    The signature rides along in the member structs so callers can
    estimate Jaccard from ``sig_a``/``sig_b`` without re-joining the
    signature frame (each extra join would recompute the hashing).
    """
    return _pairs_from_bands(_banded(sig, id_col), id_col)


def _bucket_members(bands: DataFrame, id_col: str) -> DataFrame:
    """(band, bucket, ms): capped member arrays per LSH bucket — the
    shared front half of both pair generators (ADVICE r13: the
    groupBy + skew guard were copy-pasted between them and could
    drift; now there is exactly one definition of bucket membership).
    """
    return (
        bands.groupBy("band", "bucket")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("i"), F.col("sig").alias("s"))
            ).alias("ms")
        )
        # Skew guard AND memory bound: degenerate boilerplate buckets
        # (> MAX_BUCKET members) are dropped before any pair exists.
        .filter((F.size("ms") >= 2) & (F.size("ms") <= MAX_BUCKET))
    )


def _raw_sig_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, sig_a, sig_b) candidate pairs straight out of the
    bucket loop, PRE-dedup (a pair colliding in k bands appears k
    times) — the shared in-bucket nested-loop pair generation."""
    pairs = _bucket_members(bands, id_col).select(
        F.explode(
            F.flatten(
                F.transform(
                    "ms",
                    lambda a: F.transform(
                        F.filter(F.col("ms"), lambda b: b["i"] > a["i"]),
                        lambda b: F.struct(
                            a["i"].alias("id_a"),
                            b["i"].alias("id_b"),
                            a["s"].alias("sig_a"),
                            b["s"].alias("sig_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b", "p.sig_a", "p.sig_b")


def _pairs_from_bands(bands: DataFrame, id_col: str) -> DataFrame:
    """In-bucket ordered pair generation over a (id, sig, band, bucket)
    frame — the second half of :func:`lsh_candidate_pairs`, split out so
    an INCREMENTAL ingest can feed it a pruned band frame (persisted
    index rows for touched buckets ∪ the new batch's bands) instead of
    re-banding the whole corpus (the incremental ingest path of
    SCALE.md r9). Skew/memory cap and dedup semantics identical to the full
    path by construction."""
    return (
        _raw_sig_pairs(bands, id_col)
        # a pair colliding in k bands appears k times; sigs are
        # functionally dependent on the ids, so duplicates are exact.
        .dropDuplicates(["id_a", "id_b"])
    )


#: DuckDB twin of functions/text.tokens() — whitespace tokens of the
#: lowercased text, empties dropped (same fragment as x22's oracle).
_TOKENS_SQL = r"list_filter(string_split_regex(lower(text), '[ \t\n\r\x0B\f]+'), t -> t <> '')"


def _minhash_oracle() -> str:
    """Generate x2's DuckDB oracle from the SAME constants as the Spark
    side (N_HASHES/BAND_SIZE/SHINGLE_K/MAX_BUCKET/_PERMS/PH_*), stage
    for stage: token hash -> shingle fold -> permutation minima ->
    band-seeded bucket fold -> capped bucket join -> signature-overlap
    estimate. Nothing is hand-copied, so the sides cannot drift."""
    k1 = SHINGLE_K - 1
    sig_cols = ",\n             ".join(
        f"list_min(list_transform(bh, h -> (h * {a} + {b}) % {PH_P}))"
        for a, b in _PERMS
    )
    n_bands = N_HASHES // BAND_SIZE
    return f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKENS_SQL},
                            t -> {token_hash60_sql('t')} % {PH_P}) AS th
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(th) - {k1}, 1) + 1),
               i -> CASE WHEN len(list_slice(th, i, i + {k1})) = 0
                         THEN CAST(0 AS BIGINT)
                         ELSE list_reduce(list_slice(th, i, i + {k1}),
                                          (a, b) -> (a * {PH_B} + b) % {PH_P})
                    END)) AS bh
      FROM th
    ), sig AS (
      SELECT doc_id,
             [{sig_cols}] AS sig
      FROM sh
    ), bands AS (
      SELECT doc_id, sig, band,
             list_reduce(
               list_prepend(CAST(band + 1 AS BIGINT),
                            list_slice(sig, band * {BAND_SIZE} + 1,
                                       band * {BAND_SIZE} + {BAND_SIZE})),
               (a, b) -> (a * {PH_B} + b) % {PH_P}) AS bucket
      FROM sig, range({n_bands}) t(band)
    ), kept AS (
      SELECT band, bucket FROM bands
      GROUP BY band, bucket HAVING count(*) <= {MAX_BUCKET}
    ), kb AS (
      SELECT b.doc_id, b.sig, b.band, b.bucket
      FROM bands b JOIN kept USING (band, bucket)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM kb a JOIN kb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(len(list_filter(range(1, {N_HASHES} + 1),
                                i -> sig_a[i] = sig_b[i])) AS DOUBLE)
             / {N_HASHES} AS jaccard_est
    FROM pairs
    WHERE CAST(len(list_filter(range(1, {N_HASHES} + 1),
                               i -> sig_a[i] = sig_b[i])) AS DOUBLE)
             / {N_HASHES} >= 0.5
    ORDER BY id_a, id_b
    """


#: x2's full oracle — reused as a subquery by x24/x29's oracles so the
#: derived operators check against the SAME pair definition.
_X2_ORACLE = _minhash_oracle()


@query("x2_minhash_neardup", oracle=_X2_ORACLE)
def x2_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    Fully oracle-checked: the signatures are engine-portable (see
    minhash_signatures), so the DuckDB twin regenerates identical
    sketches and the driver value-hashes the pair list + estimates."""
    d = load_table(spark, sf_dir, "documents")
    # No persist (r14): the r5-era self-join formulation read the
    # signature frame from THREE consumers (both join sides + the
    # skew-guard counts) and persisted it; the r13 bucket-loop pair
    # generation reads it exactly ONCE, so the persist had become pure
    # overhead — an extra cache-materialization pass (and a job wave)
    # on every execution with nothing reusing the blocks. Single
    # consumer -> straight pipeline.
    sig = minhash_signatures(d, "doc_id", "text")
    return _neardup_pairs_from_signatures(sig)


def _sig_est(sig_a, sig_b) -> Column:
    """Signature-estimated Jaccard: matching slots / N_HASHES.

    One definition shared by the registered est path and
    :func:`_jaccard_filtered` so the estimator can never drift between
    consumers. The HOF chain is kept deliberately: an r14 interleaved
    A/B (OPTIMIZATION_r14.md item 2) measured the 32-term unrolled
    element_at form ~15-20% SLOWER end-to-end at sf0.1 — Spark 4's
    HOF evaluation is fast, and the unrolled tree only bloats the
    plan/codegen (the same negative result as the vectors.py unroll
    trial, OPTIMIZATION_r14.md "Examined, left alone" and BENCHLOG
    r14: all dot formulations within 3% per-pair)."""
    return (
        F.size(
            F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m)
        )
        / F.lit(N_HASHES)
    )


def _pairs_est_from_bands(bands: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, jaccard_est) straight out of the bucket loop.

    Twin of :func:`_pairs_from_bands` for consumers that only need the
    ESTIMATE (x2/x2f's registered path): the estimate is projected
    immediately after the pair explode — in the SAME codegen stage,
    before any exchange — so the frame that reaches the dedup exchange
    is three scalars (~24 B/pair) instead of two 32-long signatures
    (~550 B/pair), and ``dropDuplicates`` runs as a HashAggregate
    instead of the SortAggregate (two extra Sorts) that array columns
    force. r14: the estimate itself moved OUT of the bucket lambda
    into the post-explode projection (:func:`_sig_est` — one shared
    definition; placement measured a wash, the shared definition is
    the point). Identical pair set and estimates
    by construction: est is a pure function of the two signatures, so
    every duplicate (multi-band collision) carries the same value and
    keep-any == keep-first."""
    return _raw_sig_pairs(bands, id_col).select(
        "id_a", "id_b", _sig_est(F.col("sig_a"), F.col("sig_b")).alias("jaccard_est")
    )


def _neardup_pairs_from_signatures(sig: DataFrame) -> DataFrame:
    """Banded-LSH pairs + signature-estimated Jaccard >= 0.5 from a
    (doc_id, sig) frame — shared by the portable and fast paths.

    r13: est-early formulation — threshold-filter BEFORE the pair
    dedup (each duplicate of a pair carries the identical estimate, so
    filter-then-dedup == dedup-then-filter) and dedup on scalars only
    (see :func:`_pairs_est_from_bands`)."""
    return (
        _pairs_est_from_bands(_banded(sig, "doc_id"), "doc_id")
        .filter(F.col("jaccard_est") >= 0.5)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


def _jaccard_filtered(pairs: DataFrame) -> DataFrame:
    """Signature-estimated Jaccard >= 0.5 over a candidate-pair frame
    carrying sig_a/sig_b — shared by the full path and the incremental
    probe (SCALE.md r9)."""
    # Verify candidates with estimated Jaccard from the signatures that
    # rode through the bucket join (no re-join, no re-shuffle of text).
    # Same estimator as the registered path (_sig_est — one
    # definition, no drift).
    est = pairs.select(
        "id_a",
        "id_b",
        _sig_est(F.col("sig_a"), F.col("sig_b")).alias("jaccard_est"),
    )
    return est.filter(F.col("jaccard_est") >= 0.5).orderBy("id_a", "id_b")


#: x2f's oracle: the PAIR-SET projection of x2's full oracle. The pair
#: set is the hash-family-stable contract of the fast path (pinned by
#: tests/test_fastpath.py); the per-pair jaccard_est is NOT — it counts
#: matching signature slots, and which permutation slots agree depends
#: on the token-hash primitive (measured at sf0.01: identical 25-pair
#: set, 15/25 estimates differ between md5 and xxhash64 families). So
#: the registry contract for the fast path is the dedup deliverable —
#: the pair list — and THAT is value-hash-checked against DuckDB
#: (VERDICT r11 item 3, refined to what is actually hash-stable).
_X2F_ORACLE = (
    f"SELECT id_a, id_b FROM ({_X2_ORACLE}\n) ORDER BY id_a, id_b"
)


@query("x2f_minhash_neardup_fast", oracle=_X2F_ORACLE)
def x2f_minhash_neardup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 production path of x2 — same pipeline, native hashing.

    Oracle-checked on the pair set (see _X2F_ORACLE: the estimates are
    hash-family-dependent by construction, the pair list is not), and
    additionally pytest-pinned pair-for-pair equal to oracle-audited x2
    in tests/test_fastpath.py. x2 (portable md5) is the auditable twin
    you sample-audit with; this is what you run over 100 TB, where the
    ~2x/token hash saving is hours of cluster time and the sketch
    family (permutations, banding, skew cap) is IDENTICAL — only the
    token hash primitive differs. Mirrors the x3 (exact) / x2 (sketch)
    differential pattern one level down. Callers who want the (fast-
    family) estimates use _neardup_pairs_from_signatures directly.
    """
    d = load_table(spark, sf_dir, "documents")
    # No persist — single consumer since the r13 bucket-loop (see x2).
    sig = minhash_signatures_fast(d, "doc_id", "text")
    pairs = _neardup_pairs_from_signatures(sig).select("id_a", "id_b")
    return pairs.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# X2b n-gram Jaccard (exact, oracle-checkable)
#
# The 8-gram posting-list machinery below is shared by THREE operators
# (x3 full self-join, x49 incremental cross-join in scrub.py, x53
# prefix-filtered self-join): one SQL fragment and one pair of Spark
# helpers, so a change to the gram definition or the skew cap can
# never de-synchronize the family.
# ---------------------------------------------------------------------------

#: ``grams`` CTE: distinct (doc_id, 8-gram) pairs over ``documents``.
GRAMS_CTE_SQL = r"""grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(length(text) - 7, 1) + 1),
                 i -> substr(text, CAST(i AS INTEGER), 8)
               )) AS g
        FROM documents
      )
    )"""

#: ``pruned`` CTE (requires ``grams``): posting lists with the
#: least(n/4, MAX_POSTING) stop-gram skew cap applied.
CAPPED_POSTINGS_CTE_SQL = f"""kept_g AS (
      SELECT g FROM grams GROUP BY g
      HAVING count(*) <= least((SELECT count(*) FROM documents) / 4,
                               {MAX_POSTING})
    ), pruned AS (
      SELECT doc_id, g FROM grams WHERE g IN (SELECT g FROM kept_g)
    )"""


def distinct_grams(d: DataFrame) -> DataFrame:
    """(doc_id, g): distinct character 8-grams per document."""
    return d.select(
        "doc_id", F.explode(char_ngrams(F.col("text"), 8)).alias("g")
    ).dropDuplicates(["doc_id", "g"])


def capped_postings(grams: DataFrame, docs: DataFrame) -> DataFrame:
    """Posting lists under the least(n/4, MAX_POSTING) skew cap.

    The corpus size rides in as a broadcast scalar aggregate (the
    DataFrame analogue of the oracle's scalar subquery) so callers
    stay fully lazy. Extra columns on ``grams`` (e.g. a boundary tag)
    ride through untouched.
    """
    total = docs.agg(F.count("*").alias("n_docs"))
    kept = (
        grams.groupBy("g")
        .count()
        .join(F.broadcast(total))
        .filter(
            F.col("count") <= F.least(F.col("n_docs") / 4, F.lit(MAX_POSTING))
        )
    )
    return grams.join(kept.select("g"), "g")


@query(
    "x3_ngram_jaccard_pairs",
    oracle=f"""
    WITH {GRAMS_CTE_SQL}, {CAPPED_POSTINGS_CTE_SQL}, sizes AS (
      SELECT doc_id, count(*) AS n FROM pruned GROUP BY doc_id
    ), overlap AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM pruned a JOIN pruned b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM overlap
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.05
    """,
)
def x3_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-8-gram Jaccard over the full corpus.

    The inverted-index join touches only pairs sharing a gram — the
    relational formulation of similarity self-join — and boilerplate
    grams (document frequency > 25%) are pruned before the join, the
    posting-list skew guard that keeps the join linear in true-overlap
    pairs at 100 TB. Jaccard is a ratio of exact ints over the pruned
    gram sets, so it hashes identically against the oracle (which
    applies the same pruning). Threshold 0.05 yields tens of thousands
    of true pairs at sf0.01 — the result is decidedly non-vacuous.
    """
    d = load_table(spark, sf_dir, "documents")
    # Stop-gram skew guard (capped_postings), two layers. (1) Relative:
    # a gram in >25% of documents is boilerplate. (2) Absolute
    # (MAX_POSTING): the 100x scale trial (SCALE.md) showed the
    # relative cap alone lets posting lists GROW WITH THE CORPUS — a
    # gram in 10% of documents is 500 rows at sf0.01 but 50k rows at
    # 100x, and the self-join below is quadratic in list length, so
    # join work grew ~N^2 while true pairs grew ~N. Capping document
    # frequency absolutely bounds every posting list independent of
    # corpus size (same role as x2's MAX_BUCKET); grams shared by
    # >1000 documents carry no discriminative signal for a
    # 0.05-Jaccard pair anyway (standard maxDF practice). Oracle
    # parity holds at ANY corpus size because BOTH sides apply the
    # identical least(n/4, MAX_POSTING) — the constant is interpolated
    # into the oracle SQL, never duplicated.
    # r13: persist — the frame feeds both sides of the posting join;
    # each consumer re-ran the tokenize+dedup+cap chain before. The
    # per-doc gram count rides ON the posting stream via a window
    # (one 1.3M-row doc_id shuffle) instead of the old post-overlap
    # sizes joins: those planned as broadcast only while the sizes
    # aggregate's estimate happened to be small — persisting grams
    # gave the aggregate an honest (large) estimate and flipped them
    # to TWO sort-merge shuffles of the 11.4M-pair overlap frame
    # (measured +60 s at sf0.1). Carrying n_a/n_b through the pair
    # aggregate (min() of a per-key constant) needs no join, no
    # broadcast, and no per-doc frame at any scale.
    sized = capped_postings(distinct_grams(d), d).withColumn(
        "n", F.count("*").over(W.partitionBy("doc_id"))
    ).persist()
    # r13 NOTE — measured, kept as the JOIN form: an in-bucket
    # collect_list + nested-transform pair generation (x2's
    # _pairs_from_bands shape) was A/B'd here and LOST (32 s vs 21 s
    # steady-state at sf0.1, 11.4M overlap pairs): higher-order-
    # function lambdas evaluate interpreted per pair, while the
    # self-join's row stream is whole-stage-codegen'd — at millions of
    # pairs the codegen join wins even though it shuffles the posting
    # stream twice. The x2 bucket loop keeps the transform shape
    # because ITS pair volume is capped at MAX_BUCKET members per
    # band-bucket, far below the interpretation-cost crossover.
    a = sized.select(
        F.col("doc_id").alias("id_a"), "g", F.col("n").alias("na")
    )
    b = sized.select(
        F.col("doc_id").alias("id_b"), "g", F.col("n").alias("nb")
    )
    overlap = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("c"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    return unpersist_with(
        overlap.select(
            "id_a",
            "id_b",
            (
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.05),
        sized,
    )


# Transitive closure as a recursive CTE: reach(v, l) accumulates
# every label reachable from v over the symmetric edge set (UNION
# dedup terminates the recursion on cyclic graphs), then min(l)
# per vertex IS the connected component — the declarative twin of
# BOTH Spark-side algorithms (x29 min-label propagation and x80
# large-star/small-star), which compute the same clusters.
# ORACLE-SIZE ASSUMPTION (ADVICE r4): reach materializes one row
# per (vertex, reachable vertex) = O(sum of component size^2).
# Fine while the fixtures' near-dup clusters stay small (pairs/
# triples); if a fixture ever grows a giant cluster, switch to a
# min-label iterative CTE (carry only the current min per vertex)
# before the ORACLE becomes the bottleneck — the Spark side
# already is min-label-iterative and doesn't care.
_CC_ORACLE = f"""
    WITH RECURSIVE p AS (
      SELECT id_a, id_b FROM ({_X2_ORACLE}) x2
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION
      SELECT id_b, id_a FROM p
    ), reach(v, l) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.a, r.l FROM edges e JOIN reach r ON r.v = e.b
    )
    SELECT v AS doc_id, min(l) AS cluster
    FROM reach GROUP BY v ORDER BY doc_id
    """


def _min_label_components(pairs: DataFrame, who: str = "x29") -> DataFrame:
    """Min-label propagation to fixpoint over an undirected pair list
    ``(id_a, id_b)`` → ``(v, label)`` per vertex. Pure code motion from
    x29 (r02, driver-green) so x140's incremental path runs the EXACT
    same kernel; each round is one join + one aggregate, convergence is
    a cheap count, and an unconverged exit RAISES instead of silently
    returning split components."""
    # symmetric edge list (+ self-loops keep isolated pair-members)
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).persist()
    labels = (
        edges.select(F.col("id_a").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
    )
    converged = False
    for _ in range(25):  # label propagation needs one round per hop
        neighbor_min = (
            edges.join(labels, edges.id_b == labels.v)
            .groupBy("id_a")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.v == neighbor_min.id_a, "left")
            .select(
                "v",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            # localCheckpoint, not persist: persist caches DATA but the
            # logical plan still nests every prior round, so plan depth
            # (and any plan-string/driver traversal) grows per round —
            # the long-session pathology DIFFCHECK_r05 documents.
            # Checkpointing truncates lineage to the materialized
            # blocks. In a multi-executor deployment prefer a reliable
            # checkpoint dir (survives executor loss); local is right
            # for this single-JVM harness.
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        prev, labels = labels, new_labels
        release(prev)  # read by nothing now: new_labels is materialized
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        release(labels)  # don't leak the last round's blocks on error
        raise RuntimeError(
            f"{who} label propagation did not converge in 25 rounds —"
            " a component with diameter > 25 (pathological chain);"
            " raise the cap or pre-contract the graph"
        )
    return labels


@query("x29_dedup_clusters", oracle=_CC_ORACLE)
def x29_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over x2's pair graph.

    Iterative min-label propagation (each vertex takes the minimum
    label in its neighborhood) run to fixpoint — the distributed
    connected-components algorithm that turns pairwise near-dup edges
    into transitive clusters, so chains a→b→c dedup to ONE canonical
    doc where pair-based filtering (x24) would keep two. Each round is
    one join + one aggregate on (vertex, label) pairs; convergence is
    checked with a cheap count, and an unconverged exit RAISES instead
    of silently returning split components (the cap only bounds
    pathological chains — the fixture converges in ≤3 rounds).
    """
    pairs = x2_minhash_neardup(spark, sf_dir).select("id_a", "id_b")
    labels = _min_label_components(pairs, who="x29")
    return labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster")
    ).orderBy("doc_id")
@query(
    "x24_dedup_keep",
    oracle=f"""
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT id_b FROM ({_X2_ORACLE}) x2)
    ORDER BY d.doc_id
    """,
)
def x24_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply near-dup pairs as an actual dedup filter: canonical corpus.

    Keeps every document that is not the higher-id member of a near-dup
    pair (one-round min-id propagation — for chains a full connected-
    components iteration would run this to fixpoint). The left-anti
    join shuffles only ids; document text never moves.
    """
    d = load_table(spark, sf_dir, "documents")
    dupes = x2_minhash_neardup(spark, sf_dir).select(
        F.col("id_b").alias("doc_id")
    ).distinct()
    return (
        d.join(dupes, "doc_id", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# X2c SimHash (Spark-side only; rows-only check)
# ---------------------------------------------------------------------------


#: SimHash width: the portable token hash yields 60 uniform bits.
SIMHASH_BITS = 60


def _simhash_oracle() -> str:
    """x4's DuckDB oracle, generated from the same constants: per bit,
    majority vote of portable-token-hash bits."""
    terms = "\n         + ".join(
        f"CASE WHEN 2 * len(list_filter(h, x -> (x >> {b}) & 1 = 1)) > n"
        f" THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKENS_SQL}, t -> {token_hash60_sql('t')}) AS h,
             len({_TOKENS_SQL}) AS n
      FROM documents
    )
    SELECT doc_id,
           {terms} AS simhash
    FROM th
    ORDER BY doc_id
    """


@query("x4_simhash", oracle=_simhash_oracle())
def x4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document, computed entirely with JVM expressions.

    For each bit position: majority vote of token-hash bits, evaluated
    ARRAY-WISE inside the row (``size(filter(hashes, bit set)) * 2 >
    n``) — a pure narrow map with ZERO shuffles. An earlier formulation
    exploded tokens and groupBy'd 64 conditional sums back per doc
    (one keyed shuffle of every token occurrence); bit-identical
    output, no shuffle, and the hashing parallelizes with the same
    core-count repartition rule as minhash.

    Token hashes are the portable 60-bit md5 prefix (functions/
    porthash.py), so the signature — and x4b's pairs — are fully
    DuckDB-oracle-checked instead of rows-only.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    return _simhash_impl(d, token_hash60_sparksql("t"))


def _simhash_impl(d: DataFrame, token_hash_sql: str) -> DataFrame:
    """60-bit simhash over a token-hash SQL fragment (``t``).

    Built as ONE SQL string parsed JVM-side: composing the 60-term
    majority-vote tree through the Column API cost 1.9 s of Py4J per
    plan build (measured, r4) — the dominant cost of this operator at
    bench SF, dwarfing the actual hashing. Identical parsed plan.
    """
    th_sql = (
        "transform(filter(split(lower(text), '[ \\\\t\\\\n\\\\r\\\\x0B\\\\f]+'), t -> t != ''), "
        f"t -> {token_hash_sql})"
    )
    # project _h first so the split+hash runs once; _n derives from it
    d = d.selectExpr("doc_id", f"{th_sql} AS _h").selectExpr(
        "doc_id", "_h", "size(_h) AS _n"
    )
    # majority of ±1 votes > 0  <=>  2*ones > n, per bit position
    simhash_sql = " + ".join(
        f"(CASE WHEN 2 * size(filter(_h, h -> (shiftright(h, {b}) & 1) = 1))"
        f" > _n THEN {1 << b}L ELSE 0L END)"
        for b in range(SIMHASH_BITS)
    )
    return d.selectExpr("doc_id", f"({simhash_sql}) AS simhash").orderBy(
        "doc_id"
    )


@query("x4f_simhash_fast")
def x4f_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 production path of x4 — same majority vote, native hash.

    Bits 0-59 of ``xxhash64(token)`` replace the md5-derived 60-bit
    hash; everything else (tokenizer, per-bit majority, band scheme in
    x4b's pairing) is byte-identical code. DELIBERATELY rows-only at
    the driver, unlike x2f: x2f's pair set is hash-family-stable (so it
    carries x2's pair-set oracle), but SimHash+Hamming<=3 is a tighter
    sketch whose output — signature values AND the derived pair set —
    is legitimately hash-family-dependent (measured at sf0.01: portable
    finds 13 of the 25 exact-J>=0.5 truth pairs, fast finds 17; see
    tests/test_fastpath.py). No DuckDB expression reproduces xxhash64,
    and pinning equality to the portable x4b pairs would be a WRONG
    gate, so the real correctness gates are the hash-family-independent
    invariants + recall floor in tests/test_fastpath.py. The production
    default at 100 TB for the same reason as x2f:
    the hash is the wall there, and it's ~2x cheaper per token.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    return _simhash_impl(d, "xxhash64(t)")


#: Max Hamming distance for a SimHash near-dup pair (standard radius).
SIMHASH_K = 3
#: 60-bit signature split into 4 x 15-bit tables: any pair within
#: Hamming<=3 differs in at most 3 of the 4 bands, so at least one band
#: matches EXACTLY (pigeonhole) — candidate recall is 1.0, not
#: probabilistic like minhash banding.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def _simhash_pairs_oracle() -> str:
    """x4b's DuckDB oracle: band the portable simhash, equi-join, and
    verify with exact Hamming distance — same constants as Spark."""
    return f"""
    WITH sig AS ({_simhash_oracle().replace("ORDER BY doc_id", "")}),
    banded AS (
      SELECT doc_id, simhash, band,
             (simhash >> ({SIMHASH_BAND_BITS} * band)) & {_BAND_MASK} AS bkey
      FROM sig, range({SIMHASH_BANDS}) t(band)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM pairs
    WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_K}
    ORDER BY id_a, id_b
    """


@query("x4b_simhash_neardup_pairs", oracle=_simhash_pairs_oracle())
def x4b_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs by Hamming radius — x4's pairing half.

    The classic table-rotation trick (Manku et al., WWW'07) expressed
    relationally: each 60-bit signature is cut into 4 x 15-bit band
    keys; by pigeonhole any pair with Hamming distance <= 3 collides in
    >=1 band, so the band equi-join enumerates a candidate superset
    with recall 1.0, and ``bit_count(a XOR b) <= 3`` verifies exactly —
    all JVM expressions. The only shuffle moves (band, key, id,
    signature) tuples; each 15-bit table has 32k buckets, so bucket
    sizes stay ~n/32k per band at any corpus size (plus a skew cap like
    x2's MAX_BUCKET if one signature dominates, e.g. empty documents).
    Fully oracle-checked via the portable simhash (see x4).
    """
    sig = x4_simhash(spark, sf_dir)
    return simhash_pairs_from_signatures(sig)


def simhash_pairs_from_signatures(sig: DataFrame) -> DataFrame:
    """Hamming<=K pairs from a (doc_id, simhash) frame via band tables —
    shared by the portable (x4b) and fast (test-gated x4f) paths."""
    keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(
                    F.col("simhash"), SIMHASH_BAND_BITS * i
                )
                .bitwiseAND(F.lit(_BAND_MASK))
                .alias("bkey"),
            )
            for i in range(SIMHASH_BANDS)
        ]
    )
    banded = sig.select(
        "doc_id", "simhash", F.explode(keys).alias("bk")
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    a = banded.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"), "band", "bkey"
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"), "band", "bkey"
    )
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= SIMHASH_K)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


@query(
    "x53_prefix_filter_jaccard",
    oracle=f"""
    WITH {GRAMS_CTE_SQL}, sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
    ), overlap AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM overlap
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def x53_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-threshold similarity join via PREFIX FILTERING (PPJoin-lite).

    Same answer as the exhaustive inverted-index join (the oracle runs
    the exhaustive formulation over ALL grams), but the Spark side
    indexes only each document's PREFIX: with grams ordered rarest-
    first by global document frequency, a pair at Jaccard >= t MUST
    share a gram within the first ``n - ceil(t*n) + 1`` of each side —
    so non-prefix postings never enter the join. Prefix filtering is
    LOSSLESS for the threshold (Chaudhuri et al.'s prefix filter /
    PPJoin), which is why an exact oracle can certify an optimized
    algorithm. At t=0.5 the index is ~half the postings and — unlike
    the stop-gram cap — needs no tuning constant. Candidates are then
    verified EXACTLY with a sort-merge of the full gram sets
    (array_intersect over collected arrays; candidate pairs are few).
    Shuffles: gram df count, prefix-posting self-join, one verify join.

    Measured trade (SCALE.md 10× trial, r4): the prefix filter keeps
    every RARE gram — exactly the postings a growing corpus adds — so
    its wall grew 7.5× for 10× data where x3's lossy stop-gram cap
    grew 3.4×. Use this operator when recall is contractual; use x3's
    cap when a tuned bound is acceptable.

    r13: the prefix-only form was the round's heaviest registry entry
    (the sweep clocked it in MINUTES at sf0.1 — hot grams that rank
    inside many documents' prefixes made the posting self-join
    quadratic). Two further LOSSLESS PPJoin filters now bound the
    candidate set, and the shared gram frame is persisted (it fed four
    recomputed tokenize+dedup scans before):

    * LENGTH filter: J ≥ t forces t·n_a ≤ n_b ≤ n_a/t — cross-length
      pairs never materialize.
    * POSITIONAL filter (ppjoin): for a match on gram g at rarest-
      first positions (p_a, p_b), the overlap is at most
      1 + min(n_a−p_a, n_b−p_b) — both gram lists are sorted by the
      SAME total order, so matches after g must sit after p on both
      sides. Requiring that bound ≥ ⌈(n_a+n_b)/3⌉ (the c ≥
      t/(1+t)·(n_a+n_b) overlap form of J ≥ 0.5, integer-exact as
      (n_a+n_b+2) div 3) is lossless for the globally-FIRST shared
      gram of any true pair: that gram is within both prefixes (the
      prefix theorem applied to the common total order) and has no
      earlier matches, so its bound dominates the true overlap — at
      least one occurrence of every true pair always survives, and
      the exact verify join decides the rest. Same answer, candidate
      set cut from quadratic-in-hot-grams to near-output-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    # Four consumers (df counts, ranked postings, sizes, verify arrays):
    # persist so the tokenize+explode+dedup scan runs once (x2's
    # lifecycle pattern — released via unpersist_with).
    grams = distinct_grams(d).persist()
    # global document frequency — the prefix ordering key (rarest first
    # minimizes posting-list sizes; ties broken on the gram itself so
    # the order is total and deterministic)
    df_counts = grams.groupBy("g").agg(F.count("*").alias("df"))
    ranked = (
        grams.join(df_counts, "g")
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("df", "g")
            ),
        )
    )
    t = 0.5
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    prefix = (
        ranked.join(sizes, "doc_id")
        .filter(
            F.col("rnk")
            <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
        )
        .select("doc_id", "g", "rnk", "n")
    )
    pa = prefix.select(
        F.col("doc_id").alias("id_a"), "g",
        F.col("rnk").alias("p_a"), F.col("n").alias("n_a"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("id_b"), "g",
        F.col("rnk").alias("p_b"), F.col("n").alias("n_b"),
    )
    cand = (
        pa.join(pb, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter (lossless): t*n_a <= n_b <= n_a/t at t=0.5
        .filter(
            (F.col("n_b") * F.lit(2) >= F.col("n_a"))
            & (F.col("n_b") <= F.col("n_a") * F.lit(2))
        )
        # positional filter (lossless, see docstring): overlap bound
        # 1 + min(n_a-p_a, n_b-p_b) must reach c >= (n_a+n_b)/3 — the
        # integer form 3*(1+min) >= n_a+n_b is exact (no float ceil).
        .filter(
            F.lit(3)
            * (
                F.lit(1)
                + F.least(
                    F.col("n_a") - F.col("p_a"),
                    F.col("n_b") - F.col("p_b"),
                )
            )
            >= F.col("n_a") + F.col("n_b")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    full = grams.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("g")).alias("gs")
    )
    out = (
        cand.join(
            full.select(F.col("doc_id").alias("id_a"), F.col("gs").alias("gs_a")),
            "id_a",
        )
        .join(
            full.select(F.col("doc_id").alias("id_b"), F.col("gs").alias("gs_b")),
            "id_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("gs_a", "gs_b")).cast("double")
        )
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("gs_a") + F.size("gs_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= t)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )
    return unpersist_with(out, grams)


# ---------------------------------------------------------------------------
# X64 paragraph-level dedup (MassiveText / RefinedWeb-style)
# ---------------------------------------------------------------------------

#: Words per "paragraph" block. The synthetic fixtures carry no
#: newline structure, so the paragraph unit is a fixed 10-word block —
#: the operator is the corpus-wide first-occurrence paragraph dedup of
#: MassiveText (Rae et al. 2021 §A1.2) / RefinedWeb; on real data the
#: splitter would be split(text, '\n\n') and NOTHING else changes.
PARA_W = 10


@query(
    "x64_paragraph_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[ \\t\\n\\r\\x0B\\f]+'), t -> t <> '') AS tk
      FROM documents
    ), blocks AS (
      -- range() here is the LIST function (x2's oracle uses the same
      -- trick); the TABLE function cannot be lateral-correlated.
      SELECT doc_id, b.idx AS idx, b.block AS block FROM (
        SELECT doc_id,
               -- (len + W-1) // W: integer ceiling division, no float
               -- ceil path (the engine-split class the portability
               -- gate bans)
               unnest(list_transform(
                 range(1, greatest((len(tk) + {PARA_W - 1}) // {PARA_W},
                                   1) + 1),
                 i -> struct_pack(
                   idx := i,
                   block := array_to_string(
                     list_slice(tk, (i - 1) * {PARA_W} + 1, i * {PARA_W}), ' ')
                 ))) AS b
        FROM toks
      )
    ), ranked AS (
      SELECT doc_id, idx, block,
             row_number() OVER (PARTITION BY block ORDER BY doc_id, idx) AS rn
      FROM blocks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
           coalesce(
             string_agg(CASE WHEN rn = 1 THEN block END, ' ' ORDER BY idx),
             ''
           ) AS dedup_text
    FROM ranked
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def x64_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup: keep each block's FIRST occurrence.

    The paragraph-level pass LLM corpora run between exact-doc dedup
    (x1) and near-dup dedup (x2): boilerplate blocks repeated across
    documents (headers, navigation, license text) are removed from
    every document except the lexicographically first (doc_id, idx)
    that contains them, and surviving blocks are re-joined in document
    order.

    Scale shape: one shuffle keyed on the block text to decide first
    occurrence (``min(struct(doc_id, idx))`` window — partial-aggregable
    map-side), one shuffle keyed on doc_id to reassemble. Block rows
    are (doc_id, idx, block) — the corpus itself, chunked — so shuffle
    volume is O(corpus), the floor for any corpus-wide dedup. At
    100 TB the block key should be a digest (x1b's trick) with the
    block text carried only on the reassembly side; at fixture scale
    the text IS the key so the oracle can reproduce it verbatim.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = widen(d).select(
        "doc_id",
        F.filter(F.split(F.col("text"), r"[ \t\n\r\x0B\f]+"), lambda t: t != "").alias("tk"),
    )
    blocks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.expr(f"(size(tk) + {PARA_W - 1}) DIV {PARA_W}").cast(
                            "long"
                        ),
                        F.lit(1),
                    ),
                ),
                lambda i: F.array_join(
                    F.slice("tk", (i - 1) * PARA_W + 1, PARA_W), " "
                ),
            )
        ).alias("idx0", "block"),
    ).select("doc_id", (F.col("idx0") + 1).alias("idx"), "block")
    first = F.min(F.struct("doc_id", "idx")).over(W.partitionBy("block"))
    flagged = blocks.withColumn(
        "kept",
        (F.col("doc_id") == first["doc_id"]) & (F.col("idx") == first["idx"]),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_blocks"),
            F.sum(F.col("kept").cast("long")).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"), F.struct("idx", "block")
                            )
                        )
                    ),
                    lambda s: s["block"],
                ),
                " ",
            ).alias("dedup_text"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# X68 repeated-window span detection (exact-substring dedup signal)
# ---------------------------------------------------------------------------

#: Token-window width for cross-document repeated-substring detection.
#: Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
#: Better") use 50-token spans over a suffix array; at fixture doc
#: lengths an 8-token window gives the same signal, and the width is a
#: single shared constant on both engines.
W_SPAN = 8


def _x68_oracle() -> str:
    """x68's DuckDB twin, generated from the SAME constants as the
    Spark side (W_SPAN/PH_B/PH_P + the shared token-hash primitive) —
    the x2 discipline: nothing hand-copied, the sides cannot drift."""
    k1 = W_SPAN - 1
    return f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKENS_SQL},
                            t -> {token_hash60_sql('t')} % {PH_P}) AS th
      FROM documents
    ), wins AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(th) - {k1}, 1) + 1),
               i -> CASE WHEN len(list_slice(th, i, i + {k1})) = 0
                         THEN CAST(0 AS BIGINT)
                         ELSE list_reduce(list_slice(th, i, i + {k1}),
                                          (a, b) -> (a * {PH_B} + b) % {PH_P})
                    END)) AS h
      FROM th
    ), phd AS (
      SELECT h, doc_id, count(*) AS c FROM wins GROUP BY h, doc_id
    ), dup AS (
      SELECT h FROM phd GROUP BY h HAVING count(*) >= 2
    ), dpd AS (
      SELECT doc_id, SUM(c) AS n_dup FROM phd JOIN dup USING (h)
      GROUP BY doc_id
    ), nw AS (
      SELECT doc_id, count(*) AS n FROM wins GROUP BY doc_id
    )
    SELECT nw.doc_id,
           CAST(nw.n AS BIGINT) AS n_windows,
           CAST(coalesce(dpd.n_dup, 0) AS BIGINT) AS n_dup_windows,
           {floor_round_sql(
               "coalesce(dpd.n_dup, 0) / CAST(nw.n AS DOUBLE)", 6)}
             AS dup_ratio
    FROM nw LEFT JOIN dpd USING (doc_id)
    ORDER BY nw.doc_id
    """


@query("x68_repeated_window_spans", oracle=_x68_oracle())
def x68_repeated_window_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-window spans: what fraction of each doc
    is an exact token-window duplicate of ANOTHER document.

    The exact-substring dedup signal of Lee et al. 2022: overlapping
    W_SPAN-token windows (stride 1) are hashed with the portable
    polynomial fold (x2's shingle construction, width 8), and a window
    counts as duplicated when its hash occurs in >= 2 DISTINCT
    documents — intra-document repetition is x39's job, not this one.
    Output per document: window count, duplicated-window count, and
    the duplicated fraction — the score a pipeline thresholds to cut
    or trim boilerplate-heavy documents. Distinct from x64 (disjoint
    block FIRST-occurrence rewrite): x68 measures overlapping-span
    duplication without rewriting anything.

    Scale shape: window hashing is a narrow map (hash space, no window
    strings materialized); the only corpus-sized shuffle is the
    (h, doc_id) partial-count — the word-count shape, map-side
    combinable, and the floor for any corpus-wide duplicate scan. The
    dup-hash set and the per-doc rollups are shuffles of aggregated
    frames. No self-join anywhere: a window repeated in k docs costs k
    rows, not C(k, 2) pairs.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    token_h = f"{token_hash60_sparksql('t')} % {PH_P}L"
    th_sql = (
        "transform(filter(split(lower(text), '[ \\\\t\\\\n\\\\r\\\\x0B\\\\f]+'), t -> t != ''), "
        f"t -> {token_h})"
    )
    wins_sql = (
        f"transform(sequence(1, greatest(size(_th) - {W_SPAN - 1}, 1)), "
        f"i -> aggregate(slice(_th, i, {W_SPAN}), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * {PH_B}L + x) % {PH_P}L))"
    )
    wins = d.selectExpr("doc_id", f"{th_sql} AS _th").selectExpr(
        "doc_id", f"explode({wins_sql}) AS h"
    )
    per_h_doc = wins.groupBy("h", "doc_id").agg(F.count("*").alias("c"))
    dup_h = (
        per_h_doc.groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup_per_doc = (
        per_h_doc.join(dup_h, "h")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_dup"))
    )
    n_win = wins.groupBy("doc_id").agg(F.count("*").alias("n"))
    return (
        n_win.join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_windows"),
            F.coalesce(F.col("n_dup"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_windows"),
            floor_round(
                F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n"), 6
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x74: sketch-quality evaluation — precision/recall of the MinHash-LSH
# pair set (x2) against EXACT shingle-set Jaccard >= 0.5 ground truth.
# The measurement a pipeline owner runs before trusting a sketch config
# (N_HASHES / band geometry) on a new corpus: the banding S-curve and the
# +-1/sqrt(N_HASHES) estimator noise both show up here as fp/fn counts.
# ---------------------------------------------------------------------------


def _x74_oracle() -> str:
    k1 = SHINGLE_K - 1
    return f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKENS_SQL},
                            t -> {token_hash60_sql('t')} % {PH_P}) AS th
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(th) - {k1}, 1) + 1),
               i -> CASE WHEN len(list_slice(th, i, i + {k1})) = 0
                         THEN CAST(0 AS BIGINT)
                         ELSE list_reduce(list_slice(th, i, i + {k1}),
                                          (a, b) -> (a * {PH_B} + b) % {PH_P})
                    END)) AS bh
      FROM th
    ), post AS (
      SELECT doc_id, unnest(bh) AS h FROM sh
    ), sizes AS (
      SELECT doc_id, len(bh) AS n FROM sh
    ), ov AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), truth AS (
      SELECT id_a, id_b
      FROM ov
      JOIN sizes sa ON sa.doc_id = ov.id_a
      JOIN sizes sb ON sb.doc_id = ov.id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    ), pred AS (
      SELECT id_a, id_b FROM ({_X2_ORACLE}) x2
    ), j AS (
      SELECT coalesce(p.id_a, t.id_a) AS id_a,
             p.id_a IS NOT NULL AS in_pred,
             t.id_a IS NOT NULL AS in_truth
      FROM pred p FULL OUTER JOIN truth t
        ON p.id_a = t.id_a AND p.id_b = t.id_b
    )
    SELECT CAST(sum(CASE WHEN in_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
           CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN in_pred AND in_truth THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN in_pred AND NOT in_truth THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(sum(CASE WHEN in_truth AND NOT in_pred THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           floor(CAST(sum(CASE WHEN in_pred AND in_truth THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / CAST(greatest(sum(CASE WHEN in_pred THEN 1 ELSE 0 END), 1)
                        AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS precision,
           floor(CAST(sum(CASE WHEN in_pred AND in_truth THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / CAST(greatest(sum(CASE WHEN in_truth THEN 1 ELSE 0 END), 1)
                        AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS recall
    FROM j
    """


@query("x74_neardup_eval", oracle=_x74_oracle())
def x74_neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of x2's LSH pair set vs exact Jaccard >= 0.5.

    Ground truth is EXACT Jaccard over the same distinct shingle-hash
    sets the signatures sketch (``_shingle_sets_impl`` — so the eval
    isolates the SKETCH error, not featurization differences), built
    with an inverted-index join: explode shingles, join postings on the
    hash, count overlap, Jaccard from the inclusion-exclusion identity.
    Prediction is x2's banded-LSH + estimator-filtered pair set. A full
    outer join on the pair key yields tp/fp/fn; precision and recall
    are single exact divisions (ROUND 6).

    Scale (100 TB): the truth side is audit-scale, like x3 — shingle
    postings are near-unique so the join is output-bounded, but a
    degenerate corpus (one shingle shared by 10^6 docs) makes it
    quadratic; at scale run the eval on a hash-sampled document subset
    (x23's Knuth sampler) — sketch precision/recall is a corpus-level
    statistic a 1% sample estimates to +-1%. The pred side (x2) scales
    by design; the comparison join moves only pair ids.
    """
    d = load_table(spark, sf_dir, "documents")
    token_h = f"{token_hash60_sparksql('t')} % {PH_P}L"
    sh = _shingle_sets_impl(d, "doc_id", "text", token_h).persist()
    post = sh.select("doc_id", F.explode("_bh").alias("h"))
    sizes = sh.select("doc_id", F.size("_bh").alias("n"))
    overlap = (
        post.alias("a")
        .join(post.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("c"))
    )
    truth = (
        overlap.join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("n", "na")
        .join(sizes.withColumnRenamed("doc_id", "id_b"), "id_b")
        .withColumnRenamed("n", "nb")
        .filter(
            F.col("c").cast("double")
            / (F.col("na") + F.col("nb") - F.col("c"))
            >= 0.5
        )
        .select("id_a", "id_b")
    )
    pred = x2_minhash_neardup(spark, sf_dir).select("id_a", "id_b")
    j = pred.withColumn("in_pred", F.lit(True)).join(
        truth.withColumn("in_truth", F.lit(True)),
        ["id_a", "id_b"],
        "full_outer",
    )
    in_pred = F.col("in_pred").isNotNull()
    in_truth = F.col("in_truth").isNotNull()
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    result = j.agg(
        cnt(in_pred).cast("bigint").alias("n_pred"),
        cnt(in_truth).cast("bigint").alias("n_truth"),
        cnt(in_pred & in_truth).cast("bigint").alias("tp"),
        cnt(in_pred & ~in_truth).cast("bigint").alias("fp"),
        cnt(in_truth & ~in_pred).cast("bigint").alias("fn"),
        (
            F.floor(
                cnt(in_pred & in_truth).cast("double")
                / F.greatest(cnt(in_pred), F.lit(1)).cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("precision"),
        (
            F.floor(
                cnt(in_pred & in_truth).cast("double")
                / F.greatest(cnt(in_truth), F.lit(1)).cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("recall"),
    )
    # ADVICE r5: the shingle cache must not outlive the result in a
    # long session — drop it when the caller releases the frame.
    return unpersist_with(result, sh)


# ---------------------------------------------------------------------------
# x80: connected components via alternating large-star / small-star
# (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond").
# x29's min-label propagation needs O(component diameter) rounds — fine
# for near-dup clusters (diameter 2-3), fatal on chain-shaped graphs. The
# star algorithm converges in O(log n) rounds regardless of diameter:
# the 100 TB default whenever the component shape is unknown.
# ---------------------------------------------------------------------------

CC_MAX_ROUNDS = 20  # ~log2(vertices) + slack; raises on non-convergence


def _large_star(sym: DataFrame) -> DataFrame:
    """LS: for each u, connect every LARGER neighbor to m = min(N(u)+{u}).

    Input/output are directed (u, v) frames; input must be symmetric.
    """
    mi = sym.groupBy("u").agg(F.min("v").alias("mv"))
    m = F.least(F.col("mv"), F.col("u"))
    # No distinct here: duplicates are harmless to the next stage's
    # min-aggregates and each distinct is a shuffle per round.
    return (
        sym.join(mi, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """SS: for each u, connect every SMALLER-or-self node to the min.

    Normalizes to (big, small) first; emits (v, m) for v in N(u)+{u},
    v != m. Output is the star-edge frame (child -> tentative root).
    """
    # No distinct on d: min-aggregation and the output distinct absorb
    # duplicates; dropping it saves a shuffle per round.
    d = e.filter(F.col("u") != F.col("v")).select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mi = d.groupBy("u").agg(F.min("v").alias("mv"))
    rewired = (
        d.join(mi, "u")
        .filter(F.col("v") != F.col("mv"))
        .select(F.col("v").alias("u"), F.col("mv").alias("v"))
    )
    selfed = mi.select("u", F.col("mv").alias("v"))
    return rewired.union(selfed).distinct()


@query("x80_cc_star", oracle=_CC_ORACLE)
def x80_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of x2's near-dup graph, star-contraction.

    Alternates large-star (hang big neighbors off each neighborhood
    min) and small-star (point small neighbors at the min) until the
    edge set reaches a fixpoint — at which point every component is a
    star centered at its global minimum, and the star edges ARE the
    (doc_id, cluster) assignment. Same output contract and same
    recursive-CTE oracle as x29; the pytest gate additionally asserts
    x80 == x29 row-for-row on the fixtures.

    Scale (100 TB): each round is two keyed shuffles of the CURRENT
    edge frame (which only shrinks toward one edge per vertex) — and
    the round count is O(log n) in the vertex count, independent of
    component diameter, vs x29's O(diameter). On web-scale dedup
    graphs, boilerplate chains routinely have diameters in the
    hundreds; this is the variant that terminates there. Convergence
    is detected with one (count, hash-sum) checksum job per round on
    the cached frame; non-convergence inside CC_MAX_ROUNDS raises
    rather than returning split components.
    """
    pairs = x2_minhash_neardup(spark, sf_dir).select("id_a", "id_b")
    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    def _checksum(df: DataFrame) -> tuple:
        # (count, sum of row hashes): equal checksums on equal-count
        # edge sets mean a fixpoint up to a 2^-64 hash-cancellation —
        # one single-stage job on the cached frame vs an anti-join
        # (~2 s/round of probe cost at any input size). A false
        # "stable" would surface immediately in the oracle gate.
        row = df.agg(
            F.count("*").alias("n"), F.sum(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        return (row.n, row.h)

    converged = False
    prev_cs = _checksum(e)
    for _ in range(CC_MAX_ROUNDS):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # lineage truncation per round (see x29): persist alone leaves
        # the plan nesting all prior rounds
        nxt = _small_star(_large_star(sym)).localCheckpoint(eager=True)
        cs = _checksum(nxt)
        release(e)  # read by nothing now: nxt is materialized
        e = nxt
        if cs == prev_cs:
            converged = True
            break
        prev_cs = cs
    if not converged:
        release(e)
        raise RuntimeError(
            f"x80 star contraction did not converge in {CC_MAX_ROUNDS} "
            "rounds — raise CC_MAX_ROUNDS (needs ~log2 |V|)"
        )
    # Fixpoint edges are (child -> root) stars; the roots themselves
    # never appear on the child side, so union in their self-rows.
    children = e.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster")
    )
    roots = e.select(
        F.col("v").alias("doc_id"), F.col("v").alias("cluster")
    ).distinct()
    return children.union(roots).distinct().orderBy("doc_id")


# ---------------------------------------------------------------------------
# x85: cluster canonicalization — the dedup pipeline's LAST step. x80
# gives components; a keep POLICY picks one representative per cluster.
# Min-id (x29/x24's implicit policy) is arbitrary; real pipelines keep
# the highest-QUALITY member (the cleanest crawl of a mirrored page).
# ---------------------------------------------------------------------------

_X85_SCORE_SQL = f"""
      SELECT doc_id,
             {floor_round_sql(
                 "CAST(len(list_distinct(toks)) AS DOUBLE)"
                 " / greatest(len(toks), 1)", 6)} AS score
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\x0B\\f]+'),
                           t -> t <> '') AS toks
        FROM documents
      )
"""


@query(
    "x85_cluster_keep_best",
    oracle=f"""
    WITH cc AS (
      SELECT doc_id, cluster FROM ({_CC_ORACLE}) c
    ), scored AS ({_X85_SCORE_SQL}
    ), lab AS (
      SELECT s.doc_id, coalesce(cc.cluster, s.doc_id) AS cluster, s.score
      FROM scored s LEFT JOIN cc USING (doc_id)
    ), best AS (
      SELECT cluster, doc_id AS keep_id,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY score DESC, doc_id) AS rn
      FROM lab
    )
    SELECT l.doc_id, l.cluster,
           CASE WHEN b.keep_id = l.doc_id THEN 1 ELSE 0 END AS kept
    FROM lab l
    JOIN (SELECT cluster, keep_id FROM best WHERE rn = 1) b USING (cluster)
    ORDER BY l.doc_id
    """,
)
def x85_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the highest-quality member of every near-dup cluster.

    Composes the pipeline end-to-end: x80's star-contraction components
    (docs outside the pair graph become their own singleton cluster),
    the x78 quality score (ROUNDed before comparison so both engines
    rank identically, doc_id tiebreak), and an argmax-per-cluster
    selection emitted as a full-corpus (doc_id, cluster, kept) manifest
    — the frame a training loader filters on ``kept = 1``.

    Scale (100 TB): the cluster frame is O(docs in components) — tiny
    next to the corpus — so the label join is effectively a broadcast;
    the argmax is one map-side-combinable min(struct) per cluster key
    (no window over the corpus); the manifest join back is the same
    cluster-keyed exchange. Policy changes (keep longest, keep newest)
    swap the struct's first field only.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        floor_round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("score"),
    )
    cc = x80_cc_star(spark, sf_dir)
    lab = scored.join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster", "doc_id").alias("cluster"),
        "score",
    )
    best = lab.groupBy("cluster").agg(
        F.min(
            F.struct(
                (-F.col("score")).alias("neg"),
                F.col("doc_id").alias("keep_id"),
            )
        ).alias("b")
    )
    return (
        lab.join(best, "cluster")
        .select(
            "doc_id",
            "cluster",
            F.when(F.col("b.keep_id") == F.col("doc_id"), 1)
            .otherwise(0)
            .alias("kept"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x86: document novelty — what fraction of each doc's token windows is
# NEW at its position in corpus order? The directional complement of
# x68 (symmetric cross-doc duplication): the Lee et al. 2022 analysis
# curve ("later crawl snapshots contribute mostly seen text") that
# decides whether ingesting another snapshot is worth the tokens.
# ---------------------------------------------------------------------------


def _x86_oracle() -> str:
    k1 = W_SPAN - 1
    return f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKENS_SQL},
                            t -> {token_hash60_sql('t')} % {PH_P}) AS th
      FROM documents
    ), wins AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, greatest(len(th) - {k1}, 1) + 1),
               i -> CASE WHEN len(list_slice(th, i, i + {k1})) = 0
                         THEN CAST(0 AS BIGINT)
                         ELSE list_reduce(list_slice(th, i, i + {k1}),
                                          (a, b) -> (a * {PH_B} + b) % {PH_P})
                    END)) AS h
      FROM th
    ), first_seen AS (
      SELECT h, min(doc_id) AS fs FROM wins GROUP BY h
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_windows,
           CAST(sum(CASE WHEN f.fs = w.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           floor(CAST(sum(CASE WHEN f.fs = w.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS novelty_ratio
    FROM wins w JOIN first_seen f USING (h)
    GROUP BY w.doc_id ORDER BY w.doc_id
    """


def distinct_window_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, h): each document's DISTINCT W_SPAN-token window hashes —
    x68/x86's narrow-map window construction, shared with the streaming
    novelty ingest (streaming/novelty.py)."""
    token_h = f"{token_hash60_sparksql('t')} % {PH_P}L"
    th_sql = (
        f"transform(filter(split(lower({text_col}), '[ \\\\t\\\\n\\\\r\\\\x0B\\\\f]+'), t -> t != ''), "
        f"t -> {token_h})"
    )
    wins_sql = (
        f"transform(sequence(1, greatest(size(_th) - {W_SPAN - 1}, 1)), "
        f"i -> aggregate(slice(_th, i, {W_SPAN}), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * {PH_B}L + x) % {PH_P}L))"
    )
    return docs.selectExpr(id_col, f"{th_sql} AS _th").selectExpr(
        id_col, f"explode(array_distinct({wins_sql})) AS h"
    )


@query("x86_novelty_ratio", oracle=_x86_oracle())
def x86_novelty_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of token windows unseen in EARLIER docs.

    Corpus order is doc_id order (ingestion order in the fixtures). A
    document's DISTINCT W_SPAN-token window hashes are compared against
    each hash's global first-seen doc: windows whose first occurrence
    IS this doc are novel. ``novelty_ratio`` near 0 marks a document
    (or, aggregated by source, a whole snapshot) that re-delivers
    already-held text — the signal for stopping ingestion, where x68's
    symmetric dup_ratio can't distinguish the original from the copy.

    Scale (100 TB): identical shape to x68 — narrow-map window hashing,
    one (h)-keyed map-side-combinable ``min`` shuffle for first-seen,
    one (h)-keyed join of the per-doc distinct windows against the
    aggregated first-seen frame, one doc-keyed rollup. No self-join; a
    window repeated in k docs costs k rows.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    wins = distinct_window_hashes(d)
    first_seen = wins.groupBy("h").agg(F.min("doc_id").alias("fs"))
    novel = F.when(F.col("fs") == F.col("doc_id"), 1).otherwise(0)
    return (
        wins.join(first_seen, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct_windows"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            (
                F.floor(
                    F.sum(novel).cast("double")
                    / F.count("*").cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("novelty_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "x88_source_novelty",
    oracle=f"""
    WITH per_doc AS ({_x86_oracle().replace("ORDER BY w.doc_id", "")}
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.n_distinct_windows) AS BIGINT) AS n_windows,
           CAST(sum(p.n_novel) AS BIGINT) AS n_novel,
           floor(CAST(sum(p.n_novel) AS DOUBLE)
                 / CAST(sum(p.n_distinct_windows) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS novelty_ratio
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """,
)
def x88_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x86 rolled up to source granularity — the ingest decision table.

    Window-weighted novelty per source ("what fraction of the text
    mass this source delivers is new to the corpus"): the number that
    decides whether the next snapshot of a crawl source is worth its
    processing cost. One extra doc-keyed join (source lookup) and one
    source-keyed combinable aggregation on top of x86's frame.
    """
    per_doc = x86_novelty_ratio(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_distinct_windows").cast("bigint").alias("n_windows"),
            F.sum("n_novel").cast("bigint").alias("n_novel"),
            (
                F.floor(
                    F.sum("n_novel").cast("double")
                    / F.sum("n_distinct_windows").cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("novelty_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x91: asymmetric CONTAINMENT pairs — excerpt/quotation detection.
# Jaccard misses a short document fully contained in a long one (the
# intersection is small relative to the UNION); directional containment
# |A ∩ B| / |A| flags it. The dedup signal for quote farms, syndicated
# excerpts, and doc-in-doc concatenations.
# ---------------------------------------------------------------------------

CONTAINMENT_T = 0.8


def _x91_oracle() -> str:
    k1 = SHINGLE_K - 1
    return f"""
    WITH th AS (
      SELECT doc_id,
             list_transform({_TOKENS_SQL},
                            t -> {token_hash60_sql('t')} % {PH_P}) AS th
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(th) - {k1}, 1) + 1),
               i -> CASE WHEN len(list_slice(th, i, i + {k1})) = 0
                         THEN CAST(0 AS BIGINT)
                         ELSE list_reduce(list_slice(th, i, i + {k1}),
                                          (a, b) -> (a * {PH_B} + b) % {PH_P})
                    END)) AS bh
      FROM th
    ), post AS (
      SELECT doc_id, unnest(bh) AS h FROM sh
    ), sizes AS (
      SELECT doc_id, len(bh) AS n FROM sh
    ), ov AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM post a JOIN post b ON a.h = b.h AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a AS contained_id, id_b AS container_id,
           floor(CAST(c AS DOUBLE) / CAST(sa.n AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS containment
    FROM ov
    JOIN sizes sa ON sa.doc_id = ov.id_a
    WHERE CAST(c AS DOUBLE) / CAST(sa.n AS DOUBLE) >= {CONTAINMENT_T}
    ORDER BY contained_id, container_id
    """


@query("x91_containment_pairs", oracle=_x91_oracle())
def x91_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment >= 0.8: A mostly inside B.

    Exact |shingles(A) ∩ shingles(B)| / |shingles(A)| over the same
    distinct shingle-hash sets as x2/x74, via the inverted-index join
    (no self-join of documents — a shingle in k docs costs k postings).
    DIRECTIONAL output: (contained, container) ordered pairs, both
    directions emitted when two docs mutually contain each other
    (exact duplicates score 1.0 both ways). This is the dedup signal
    Jaccard structurally misses: a 50-shingle quote inside a
    5000-shingle page has Jaccard ~0.01 but containment 1.0.

    Scale (100 TB): same posture as x74's truth side — output-bounded
    inverted-index join, audit-scale by default; production runs it on
    the suspicious slice (e.g. same-domain pairs, or x2 candidates'
    neighborhoods) or caps posting frequency like x3's MAX_POSTING.
    """
    d = load_table(spark, sf_dir, "documents")
    token_h = f"{token_hash60_sparksql('t')} % {PH_P}L"
    sh = _shingle_sets_impl(d, "doc_id", "text", token_h).persist()
    post = sh.select("doc_id", F.explode("_bh").alias("h"))
    sizes = sh.select("doc_id", F.size("_bh").alias("n"))
    ov = (
        post.alias("a")
        .join(post.alias("b"), "h")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("contained_id"),
            F.col("b.doc_id").alias("container_id"),
        )
        .agg(F.count("*").alias("c"))
    )
    result = (
        ov.join(
            sizes.withColumnRenamed("doc_id", "contained_id"), "contained_id"
        )
        .withColumn(
            "containment",
            F.floor(
                F.col("c").cast("double")
                / F.col("n").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0),
        )
        .filter(F.col("c").cast("double") / F.col("n") >= CONTAINMENT_T)
        .select("contained_id", "container_id", "containment")
        .orderBy("contained_id", "container_id")
    )
    # ADVICE r5: drop the shingle cache when the caller releases the frame
    return unpersist_with(result, sh)


# ---------------------------------------------------------------------------
# x96: leakage-safe train/val/test split. x34 assigns splits by DOC
# hash; that leaks near-duplicates across the split boundary (a doc in
# train and its 90%-identical twin in test inflates eval). The fix is
# standard: assign at the CLUSTER level — every member of a near-dup
# component (x29's connected components over x2's pair graph) inherits
# the split of its cluster label; singletons are their own cluster.
# Same Knuth-multiplicative hash ranges as x34, keyed on the cluster.
# ---------------------------------------------------------------------------

#: x34's split-hash constants (textstats.py x34): Knuth multiplicative
#: hash into [0, 2^32), 80/10/10 range split. Keyed here on the CLUSTER
#: label, so split assignment is stable under corpus growth AND no
#: near-dup pair ever straddles a split.
_SPLIT_A = 2654435761
_SPLIT_M = 4294967296


@query(
    "x96_leakage_safe_split",
    oracle=f"""
    WITH cc AS (
      SELECT doc_id, cluster
      FROM ({_CC_ORACLE.replace("ORDER BY doc_id", "")}) q
    ), assigned AS (
      SELECT d.doc_id,
             COALESCE(cc.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN cc USING (doc_id)
    )
    SELECT doc_id, cluster,
           CASE WHEN (CAST(cluster % {_SPLIT_M} AS HUGEINT) * {_SPLIT_A})
                     % {_SPLIT_M} < {int(0.8 * _SPLIT_M)} THEN 'train'
                WHEN (CAST(cluster % {_SPLIT_M} AS HUGEINT) * {_SPLIT_A})
                     % {_SPLIT_M} < {int(0.9 * _SPLIT_M)} THEN 'val'
                ELSE 'test' END AS split
    FROM assigned ORDER BY doc_id
    """,
)
def x96_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level 80/10/10 split: near-dup components never straddle
    train/val/test.

    Composition: x29's min-label connected components give each doc in
    the near-dup graph its cluster label (singletons fall back to their
    own doc_id via the left join), then x34's hash-range assignment is
    applied to the LABEL. Properties the tests pin: (a) every member of
    a component gets the component's split — zero leaked pairs; (b) a
    singleton's assignment equals what x34's per-doc rule would give,
    so the two splits agree wherever leakage wasn't possible; (c)
    growth-stable — adding docs never reassigns an existing cluster.

    Scale (100 TB): the only additions over x29 are one doc_id-keyed
    left join against the full corpus and a narrow hash map — both
    linear; the split hash itself is shuffle-free. x29/x80 bear the
    component cost (measured log-round at 100x, SCALE.md).
    """
    d = load_table(spark, sf_dir, "documents")
    cc = x29_dedup_clusters(spark, sf_dir).select("doc_id", "cluster")
    assigned = d.select("doc_id").join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"),
    )
    # Reduce mod 2^32 BEFORE multiplying and widen to decimal(38,0) for
    # the product (ADVICE r5): a raw BIGINT multiply wraps silently in
    # Spark (mapping everything negative to 'train') and raises in
    # DuckDB once cluster ids pass ~3.47e9 — both violate the op's
    # growth-stability contract. Identical output at any fixture scale
    # (ids < 2^32 make the pre-reduction a no-op).
    h = (
        ((F.col("cluster") % _SPLIT_M).cast("decimal(38,0)") * _SPLIT_A)
        % _SPLIT_M
    ).cast("long")
    split = (
        F.when(h < int(0.8 * _SPLIT_M), "train")
        .when(h < int(0.9 * _SPLIT_M), "val")
        .otherwise("test")
    )
    return assigned.select(
        "doc_id", "cluster", split.alias("split")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# x99: near-dup source attribution — x2's pair graph rolled up to the
# source-pair level: which PAIRS OF SOURCES duplicate each other's
# content (mirrors, re-crawls, cross-posted feeds). The fixture is
# built exactly this way (24 of its 25 near-dup pairs straddle
# sources), and at crawl scale this matrix is the dedup-policy input:
# a source pair with mass here gets crawl-level dedup before any
# per-document pass.
# ---------------------------------------------------------------------------


@query(
    "x99_dup_source_attribution",
    oracle=f"""
    WITH p AS (SELECT id_a, id_b FROM ({_X2_ORACLE}) q),
    lab AS (
      SELECT least(da.source, db.source)    AS src_lo,
             greatest(da.source, db.source) AS src_hi
      FROM p
      JOIN documents da ON p.id_a = da.doc_id
      JOIN documents db ON p.id_b = db.doc_id
    )
    SELECT src_lo, src_hi, CAST(count(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def x99_dup_source_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts per unordered source pair.

    Composition: x2's LSH pair set, two doc_id-keyed joins to recover
    each side's source, least/greatest normalization so (A,B) and
    (B,A) collapse, then a count. Within-source duplication shows up
    on the diagonal (src_lo = src_hi) — intra-source boilerplate vs
    cross-source mirroring separate cleanly in one table.

    Scale (100 TB): the pair frame is the already-bucketed x2 output
    (linear, SCALE.md); the attribution joins are doc_id-keyed against
    the (doc_id, source) projection — column-pruned scans, no new
    shape; the rollup output is bounded by |sources|^2/2. The matrix
    a crawl scheduler consumes is tiny regardless of corpus size.
    """
    pairs = x2_minhash_neardup(spark, sf_dir).select("id_a", "id_b")
    d = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source"
    )
    j = (
        pairs.join(
            d.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                "source", "src_a"
            ),
            "id_a",
        )
        .join(
            d.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "source", "src_b"
            ),
            "id_b",
        )
        .select(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
        )
    )
    return (
        j.groupBy("src_lo", "src_hi")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("src_lo", "src_hi")
    )


# ---------------------------------------------------------------------------
# x139 — dedup ROI report (cluster-size histogram + savings estimate)
# ---------------------------------------------------------------------------

_X139_ORACLE = f"""
    WITH tk AS (
      SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS t FROM documents
    ), per AS (
      SELECT cc.cluster,
             CAST(count(*) AS BIGINT) AS sz,
             CAST(sum(tk.t) AS BIGINT) AS tok_total,
             CAST(sum(CASE WHEN cc.doc_id = cc.cluster THEN tk.t
                           ELSE 0 END) AS BIGINT) AS tok_kept
      FROM ({_CC_ORACLE}) cc JOIN tk USING (doc_id)
      GROUP BY cc.cluster
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs,
           CAST((sz - 1) * count(*) AS BIGINT) AS docs_removed,
           CAST(sum(tok_total) AS BIGINT) AS tokens_total,
           CAST(sum(tok_total - tok_kept) AS BIGINT) AS tokens_saved
    FROM per GROUP BY sz ORDER BY sz
    """


@query("x139_dedup_savings", oracle=_X139_ORACLE)
def x139_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI report: near-dup cluster-size histogram + what
    keep-one-per-cluster saves, in docs and tokens.

    THE headline table of a dedup run — before anyone re-shards 100 TB
    the pipeline owner asks "how much does dedup actually buy, and is
    the duplication a few giant boilerplate clusters or a long tail of
    pairs?" Per x29 connected component (the x2 near-dup graph;
    singletons are outside the graph and save nothing): size, total
    tokens, tokens retained by the keep-lowest-id policy (the
    component's label member — x85's keep-best variant changes WHICH
    member survives, not how many tokens leave). Rolled up per cluster
    size so the histogram's shape is the answer: mass at size 2-3 =
    organic near-dups; mass at large sizes = boilerplate floods worth
    a domain-cap (x51) instead.

    Scale (100 TB): x29/x80 bear the heavy lifting (banded LSH + O(log
    V) star-contraction, both driver-green at scale posture); this
    rollup adds one token-count scan, a cluster-keyed combinable
    aggregate bounded by |non-singleton docs|, and a |distinct sizes|-
    row histogram. All exact integers, hash-exact.
    """
    cc = x29_dedup_clusters(spark, sf_dir).select("doc_id", "cluster")
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("t"))
    per = (
        cc.join(tk, "doc_id")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("sz"),
            F.sum("t").cast("bigint").alias("tok_total"),
            F.sum(
                F.when(F.col("doc_id") == F.col("cluster"), F.col("t")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("tok_kept"),
        )
    )
    return (
        per.groupBy("sz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("tok_total").cast("bigint").alias("tokens_total"),
            F.sum(F.col("tok_total") - F.col("tok_kept"))
            .cast("bigint")
            .alias("tokens_saved"),
        )
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
            ((F.col("sz") - 1) * F.col("n_clusters"))
            .cast("bigint")
            .alias("docs_removed"),
            "tokens_total",
            "tokens_saved",
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# x140 — incremental connected-component maintenance (manifest + batch)
# ---------------------------------------------------------------------------


@query("x140_incremental_components", oracle=_CC_ORACLE)
def x140_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x29's clusters maintained INCREMENTALLY from a manifest + a new
    batch — the graph-state member of the incremental family
    (x49 flags batch near-dups; x115-x124 maintain tables; this
    maintains the dedup GRAPH).

    Split by x49's arrival convention (top 20% of doc_ids = the newly
    ingested batch): pairs between established docs are the OLD graph,
    whose components form the persisted keep-manifest a production
    pipeline already owns; pairs touching the batch are the NEW edges.
    The update contracts every old component to STAR EDGES
    (member → component label, |V_old| edges regardless of old edge
    count) and runs the same min-label kernel over star edges ∪ new
    edges only. Union-find algebra makes this exact: contracting a
    subgraph preserves the component partition, and because star edges
    keep original vertex ids, the min label of every merged component
    is the global min — so the output is row-identical to x29's full
    recompute and the SAME oracle pins both (x125↔x129 discipline, on
    an algorithm rather than a plan).

    Scale (100 TB): a full x29/x80 recompute touches every pair ever
    found; this touches O(|manifest| + |new edges|) — the manifest is
    one row per clustered doc (read from storage in production;
    rebuilt here only because registry entries own no persisted
    state), new edges are batch-sized, and the propagation diameter
    collapses to ~2 because every old component is already a star.
    The batch cadence never re-shuffles the established corpus.

    Measured boundary (SCALE.md r9): on SPARSE
    dup graphs (edges < vertices — this corpus at every factor tried)
    the KERNEL-only win does not materialize, because the star set is
    one row per clustered doc and so exceeds the raw edge list it
    replaces; both paths sit on the job floor (0.62-0.87x). The
    premise's real form is END-TO-END: hashing + pairing only the
    batch against the persisted banded index (the `_pairs_from_bands`
    probe) holds a FLAT wall in corpus size while full re-ingest grows
    ~linearly — 2.38x at 500k docs with a fixed 5,000-doc batch
    (13.3 s -> 5.6 s, row-identical; SCALE.md r10, whose quiet-host
    protocol also retracts r9's degraded-host 141 s / 16.6x reading)
    and the gap widens with corpus size — the win is never
    re-shingling or re-pairing the old corpus, not the propagation
    itself.
    """
    d = load_table(spark, sf_dir, "documents")
    cut = d.agg(
        F.expr("CAST((max(doc_id) * 4) DIV 5 AS BIGINT)").alias("c")
    )
    pairs = (
        x2_minhash_neardup(spark, sf_dir)
        .select("id_a", "id_b")
        .crossJoin(F.broadcast(cut))
        .persist()
    )
    old = pairs.filter(
        (F.col("id_a") < F.col("c")) & (F.col("id_b") < F.col("c"))
    ).select("id_a", "id_b")
    new = pairs.filter(
        (F.col("id_a") >= F.col("c")) | (F.col("id_b") >= F.col("c"))
    ).select("id_a", "id_b")
    # Kernel failure (25-round non-convergence RuntimeError) must not
    # leak `pairs`' cache blocks for the session's lifetime — the
    # ADVICE-r5 pathology unpersist_with exists to prevent (ADVICE r8);
    # the kernel already unpersists its own frames on that path.
    try:
        # The persisted state a real pipeline reads back: (doc, cluster).
        manifest = _min_label_components(old, who="x140 manifest")
        # Star contraction of every old component: member -> label edges.
        star = manifest.filter(F.col("v") != F.col("label")).select(
            F.col("v").alias("id_a"), F.col("label").alias("id_b")
        )
        updated = _min_label_components(
            new.unionAll(star), who="x140 incremental"
        )
    except Exception:
        pairs.unpersist()
        raise
    out = updated.select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster")
    ).orderBy("doc_id")
    return unpersist_with(out, pairs)


def banded_signature_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sig, band, bucket) rows — the persisted LSH index an
    incremental near-dup pipeline owns (write once per corpus, append
    per batch). One row per (doc, band); the signature rides along so
    probe-time pairing never re-hashes text. At 100 TB, store this
    bucketed by (band, bucket) — sources/bucketing.write_bucketed with
    n_buckets sized to the probe jobs' shuffle parallelism — so the
    ingest probe's index side reads with ZERO exchange: every shuffle
    left in the probe plan is batch-sized (proven through storage in
    tests/test_corpus_ops.py::test_banded_index_bucketed_probe_exchange_free,
    which also pins read-back row parity and label identity through
    incremental_components_update)."""
    return _banded(minhash_signatures(docs, id_col, text_col), id_col)


def incremental_components_update(
    docs_batch: DataFrame,
    banded_index: DataFrame,
    manifest: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    assert_new_ids: bool = False,
) -> DataFrame:
    """Cluster labels after ingesting ``docs_batch`` against persisted
    state — the END-TO-END incremental form of x140: wall FLAT in
    corpus size (5.6 s at 500k docs, 2.38x over the ~linearly growing
    full re-ingest; SCALE.md r10 — the registry's x140 rebuilds state
    in-op only because registry entries own none).

    Cost is O(batch): only the batch is shingled/hashed; the persisted
    ``banded_index`` (see :func:`banded_signature_index`, covering the
    OLD docs) is semi-joined down to buckets the batch touches before
    any pair exists; pairing/Jaccard run the exact production
    `_pairs_from_bands`/`_jaccard_filtered` path; the ITERATIVE kernel
    sees only the label-contracted new-edge graph (O(batch) vertices —
    r11's contract-then-solve, see the in-body comment), and the
    manifest is relabeled through the winner map in one non-iterative
    join. Returns (v, label)
    — row-identical to a full recompute over old ∪ batch (trial-gated
    at 10x/30x/100x), EXCEPT when a bucket crosses MAX_BUCKET only
    once the batch lands: the full path then drops that bucket's
    old-old pairs wholesale while the manifest retains their
    connectivity — the incremental answer is the more faithful one
    (pinned by construction in tests/test_corpus_ops.py::
    test_incremental_cap_boundary_divergence; the trial's identity
    gate counts newly-binding buckets and asserts identity only when
    none exist).

    ``manifest`` is (v, label) over the old pair graph (x29/x140
    form). The batch-id flag joins carry a batch-sized (id, true)
    frame; no broadcast hint is forced — AQE broadcasts it at any
    sane ingest cadence and degrades to a shuffled hash join rather
    than a driver OOM if a caller hands in a monster batch.

    CONTRACT — batch ids must be NEW: every ``docs_batch`` id must be
    absent from both ``banded_index`` and ``manifest``. A re-ingested
    (updated) doc violates this silently: its STALE index rows keep
    the old signature and pair against the batch's neighbors, and an
    id present in both manifest and batch can carry conflicting
    connectivity into the kernel — wrong labels, not an error. The
    update cadence for changed docs is DELETE-THEN-APPEND: drop the
    doc's rows from the index and its vertex from the manifest (which
    may split a component — recluster its members), then ingest it as
    new. ``assert_new_ids=True`` enforces the contract with an
    inner-join probe of batch ids against index ids and raises
    ``ValueError`` with samples; it costs a full index-id scan PLUS a
    full manifest scan (both probes run as ONE action over a persisted
    batch-id frame — ADVICE r10: two independent collects would scan
    the unpersisted batch twice, and the docstring must price the
    manifest scan too), so it is opt-in for backfills/debug rather
    than the per-ingest default (at 100 TB the id check belongs in the
    metadata layer that assigns ingest ids, not in a corpus-wide join
    per batch).
    """
    if assert_new_ids:
        batch_ids = docs_batch.select(F.col(id_col).alias("_bid")).persist()
        try:
            probe_index = (
                banded_index.select(F.col(id_col).alias("_bid"))
                .join(batch_ids, "_bid", "left_semi")
                # distinct BEFORE limit: the index holds one row per
                # (doc, band), so 5 raw rows could all be one offender.
                .distinct()
                .limit(5)
                .withColumn("_src", F.lit("index"))
            )
            probe_manifest = (
                manifest.select(F.col("v").alias("_bid"))
                .join(batch_ids, "_bid", "left_semi")
                .limit(5)
                .withColumn("_src", F.lit("manifest"))
            )
            dups = probe_index.unionByName(probe_manifest).collect()
        finally:
            batch_ids.unpersist()
        if dups:
            raise ValueError(
                "incremental_components_update: batch ids must be new "
                "(delete-then-append for updates); already in index: "
                f"{sorted(r._bid for r in dups if r._src == 'index')}, "
                "in manifest: "
                f"{sorted(r._bid for r in dups if r._src == 'manifest')}"
                " (first 5 each)"
            )
    sig_new = minhash_signatures(docs_batch, id_col, text_col)
    # Two consumers (the touched-bucket probe and the pair union) —
    # persist so the batch is hashed once; released with the result
    # (x2's lifecycle pattern, ADVICE r5).
    bands_new = _banded(sig_new, id_col).persist()
    touched = bands_new.select("band", "bucket").dropDuplicates()
    old_touched = banded_index.join(touched, ["band", "bucket"], "left_semi")
    cand = _pairs_from_bands(old_touched.unionByName(bands_new), id_col)
    # Keep only pairs with >= 1 batch member: old-old pairs surfacing
    # in touched buckets are connectivity the manifest already owns.
    bset = docs_batch.select(F.col(id_col).alias("_mid"), F.lit(True).alias("_in"))
    cand = (
        cand.join(bset.withColumnRenamed("_mid", "id_a"), "id_a", "left")
        .withColumnRenamed("_in", "_ina")
        .join(bset.withColumnRenamed("_mid", "id_b"), "id_b", "left")
        .withColumnRenamed("_in", "_inb")
        .filter(F.col("_ina").isNotNull() | F.col("_inb").isNotNull())
        .drop("_ina", "_inb")
    )
    # CONTRACT-THEN-SOLVE (r11, VERDICT r10 item 6): the r10 form fed
    # star ∪ new_edges (|manifest| + |batch| rows) to the iterative
    # kernel, so every propagation round — join + agg + eager
    # checkpoint + convergence count, ~1-1.4 s of fixed job cost each
    # — ran over the corpus-clustered vertex set. The floor profile
    # (SCALE.md r11) shows the kernel was ~2.9 s of the ~5.6 s
    # incremental wall at x100 while converging in just 2 rounds.
    # Union-find algebra lets the rounds run BATCH-SIZED instead:
    # replace each old endpoint of a new edge by its manifest label
    # (component representative), solve components over that contracted
    # graph — vertices are touched labels + batch ids + unclustered old
    # ids, i.e. O(batch) — then relabel the manifest through the
    # winner map in ONE non-iterative join. Exactness: a manifest
    # label is the MIN id of its old component and is itself a member,
    # so min over contracted vertices == min over all member vertices
    # — the output stays row-identical to the full recompute (same
    # trial identity gates, same cap caveat). Manifest access
    # discipline: the corpus-sized manifest is scanned exactly twice,
    # both STREAMING scans against broadcast right sides (the
    # touched-id semi-join here; the winner-map relabel below) — zero
    # manifest shuffles per ingest. At trial scale the fixed job costs
    # dominate and walls read ~parity with the r10 form (SCALE.md
    # r11); the cut is structural: the r10 kernel joined |manifest|
    # star edges per propagation round, i.e. O(manifest) work per
    # ingest hidden inside "O(batch)".
    new_edges = _jaccard_filtered(cand).select("id_a", "id_b").persist()
    # Touched-vertex set (batch-sized): semi-join the manifest down to
    # it BEFORE any contraction join, so the corpus-sized manifest is
    # only ever STREAMED against a broadcast hash set — at 100 TB the
    # manifest is corpus-sized, and a left-outer join against it would
    # shuffle the corpus per ingest (the exact cost this function
    # exists to avoid). After this, every kernel-side frame is
    # O(batch). No forced broadcast hint — AQE broadcasts the touched
    # set at any sane ingest cadence and degrades to a shuffled join
    # rather than a driver OOM on a monster batch (the same posture as
    # ``bset`` above).
    touched_ids = (
        new_edges.select(F.col("id_a").alias("_cv"))
        .union(new_edges.select(F.col("id_b").alias("_cv")))
        .distinct()
    )
    # Persisted (ADVICE r11): old_map is BATCH-sized but has three
    # consumers (both contraction joins + the new_vs anti-join), and
    # each unpersisted consumption would re-stream the corpus-sized
    # manifest — four scans per ingest where the discipline promises
    # two. Materializing the semi-join once pins the count: manifest
    # is streamed HERE and in out_old's relabel join, nowhere else.
    old_map = (
        manifest.select(
            F.col("v").alias("_cv"), F.col("label").alias("_cl")
        )
        .join(touched_ids, "_cv", "left_semi")
        .persist()
    )
    contracted = (
        new_edges.join(
            old_map.withColumnRenamed("_cv", "id_a"), "id_a", "left"
        )
        .withColumnRenamed("_cl", "_la")
        .join(old_map.withColumnRenamed("_cv", "id_b"), "id_b", "left")
        .withColumnRenamed("_cl", "_lb")
        .select(
            F.coalesce(F.col("_la"), F.col("id_a")).alias("id_a"),
            F.coalesce(F.col("_lb"), F.col("id_b")).alias("id_b"),
        )
    )
    try:
        small = _min_label_components(
            contracted, who="incremental_components_update"
        )
    except Exception:
        bands_new.unpersist()
        new_edges.unpersist()
        old_map.unpersist()
        raise
    relabel = small.select(F.col("v").alias("_rep"), F.col("label").alias("_final"))
    # Old vertices: one join manifest.label -> winner (labels untouched
    # by any new edge pass through).
    out_old = manifest.join(
        relabel.withColumnRenamed("_rep", "label"), "label", "left"
    ).select(
        "v", F.coalesce(F.col("_final"), F.col("label")).alias("label")
    )
    # Vertices the new edges introduce (batch docs + previously
    # unclustered old docs): contracted under their own id, so their
    # winner is a direct lookup. Anti-join against the TOUCHED slice
    # of the manifest (old_map), never the full manifest — membership
    # is equivalent for vertices already restricted to touched_ids.
    new_vs = touched_ids.withColumnRenamed("_cv", "v").join(
        old_map.select(F.col("_cv").alias("v")), "v", "left_anti"
    )
    out_new = new_vs.join(
        relabel.withColumnRenamed("_rep", "v"), "v", "left"
    ).select("v", F.coalesce(F.col("_final"), F.col("v")).alias("label"))
    out = out_old.unionByName(out_new)
    return unpersist_with(
        unpersist_with(unpersist_with(out, bands_new), new_edges), old_map
    )
