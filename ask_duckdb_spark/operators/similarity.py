"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — one broadcast of the query vector,
one scan, a TakeOrderedAndProject. Scale path: LSH (random hyperplanes)
bucketing so only same-bucket candidates are scored; at 100 TB the scan
becomes a bucket-pruned fraction of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot, l2_norm
from ..sources.catalog import load_table
from ._util import floor_round, floor_round_sql, unpersist_with
from .registry import query

# Banded sign-random-projection tuning. For neighbors at angle θ a band
# matches with p = (1 - θ/π)^BAND_BITS and recall = 1-(1-p)^N_BANDS.
# The synthetic fixtures have WEAK neighbors (top-10 cosine ≈ 0.28-0.37,
# θ≈70°+) so 16 bands × 3 bits gives ~0.97 expected recall at the cost
# of weak pruning; real text embeddings (neighbor cosine ≥ 0.9) would
# use fewer, wider bands (e.g. 4×8) for aggressive pruning at the same
# recall. The knobs are the standard banding trade-off.
BAND_BITS = 3  # bits per band -> 8 buckets/band
N_BANDS = 16
N_PLANES = BAND_BITS * N_BANDS


@query(
    "x5_cosine_topk",
    # DuckDB >=1.0 ships list_cosine_similarity; ties broken by vec_id.
    # Only ids cross the comparison boundary (float near-ties at the
    # boundary of k are a hash hazard; ids are stable).
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id
    LIMIT 10
    """,
)
def x5_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Query-norm hoist: the scan folds one cosine per corpus row; the
    # query vector's norm is a constant, so fold it once inside the
    # broadcast frame (2 array folds per row instead of 3) —
    # bit-identical double.
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            (
                dot(F.col("embedding"), F.col("qv"))
                / (l2_norm(F.col("embedding")) * F.col("_qn"))
            ).alias("sim"),
        )
    )
    return (
        scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(10).select("vec_id")
    )


#: Hyperplane weight-matrix width. The fixtures' embeddings are 64-dim;
#: vectors shorter than this zip against a sliced prefix, longer ones
#: would need the constant raised (a compile-time knob, not a runtime
#: model — the weights are literals in BOTH engines' plans).
N_DIMS = 64


def _plane_weights(n_planes: int = N_PLANES) -> list[list[float]]:
    """Literal hyperplane weights in [-1, 1), seeded from md5(plane, dim).

    Computed ONCE in Python and embedded as plan literals on the Spark
    side and SQL literals on the oracle side — no RNG state, no
    broadcast model, no runtime hashing (cheaper than the previous
    per-row xxhash64 derivation), and both engines provably use the
    same matrix. Same discipline as x58's portable projection signs.
    ``n_planes`` defaults to N_PLANES; a caller scaling BAND_BITS up
    (see ``_band_keys``) draws a longer prefix of the SAME deterministic
    sequence, so plane p's weights never depend on how many planes are
    requested.
    """
    import hashlib

    ws = []
    for p in range(n_planes):
        row = []
        for d in range(1, N_DIMS + 1):
            k = (
                int(hashlib.md5(f"plane{p}dim{d}".encode()).hexdigest()[:8], 16)
                % 2000001
            )
            row.append((k - 1000000) / 1000000.0)
        ws.append(row)
    return ws


_WEIGHTS = _plane_weights()


def _band_keys(vec_col, band_bits: int = BAND_BITS):
    """Banded sign-random-projection keys: array of ``N_BANDS`` structs.

    Each band packs ``band_bits`` sign bits; two vectors are candidates
    when ANY band key matches — the OR'd multi-table LSH construction
    (same shape as x2's minhash bands), which keeps recall high where
    single-bucket probing collapses. The double left-fold projection is
    bit-identical to the oracle's list_reduce, so band keys — and thus
    candidate sets — match exactly across engines.

    ``band_bits`` sets the bucket count per band, 2^band_bits, so
    candidate volume shrinks ~2^-Δbits as bits rise (SCALE.md's x69/x7b
    honest wall): x106 sweeps it and x137/x137b size it from the corpus
    (``_sized_band_bits``). Wider bands draw more planes from the same
    deterministic weight sequence, and ``_band_keys_sql`` generates the
    matching oracle construction.
    """
    weights = (
        _WEIGHTS
        if band_bits <= BAND_BITS
        else _plane_weights(N_BANDS * band_bits)
    )

    def sign_bit(p: int):
        w = F.array(*[F.lit(x) for x in weights[p]])
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.slice(w, 1, F.size(vec_col)),
                lambda v, wt: v.cast("double") * wt,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))

    keys = []
    for band in range(N_BANDS):
        bits = [sign_bit(band * band_bits + i) for i in range(band_bits)]
        key = bits[0]
        for b in bits[1:]:
            key = key * 2 + b
        keys.append(
            F.struct(F.lit(band).alias("band"), key.alias("bkey"))
        )
    # Dimension guard (ADVICE r4): the Spark-side slice would silently
    # prefix-project a short vector while the oracle's fixed-width
    # list_inner_product errors or diverges — if the fixture dims ever
    # change, fail LOUDLY on both engines instead of drifting apart.
    return F.when(F.size(vec_col) == N_DIMS, F.array(*keys)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"_band_keys expects {N_DIMS}-dim embeddings, got "),
                F.size(vec_col).cast("string"),
            )
        )
    )


def _cos_sql(a: str, b: str) -> str:
    """Portable cosine fragment over two list exprs (left folds — the
    bit-identical discipline of _DUCK_COS, parameterized)."""
    return f"""(
    list_reduce(list_transform(range(1, len({a}) + 1),
                i -> ({a})[i]::DOUBLE * ({b})[i]::DOUBLE),
                (acc, x) -> acc + x)
    / (sqrt(list_reduce(list_transform({a}, v -> v::DOUBLE * v::DOUBLE),
            (acc, x) -> acc + x))
     * sqrt(list_reduce(list_transform({b}, v -> v::DOUBLE * v::DOUBLE),
            (acc, x) -> acc + x))))"""


def _band_keys_sql(band_bits: int = BAND_BITS, cte: str = "bk") -> str:
    """DuckDB CTE fragment: ``<cte>(vec_id, embedding, band, bkey)`` —
    the oracle twin of ``_band_keys``, generated from the same
    deterministic weight sequence; the x106 tuning-curve oracle sweeps
    several widths."""
    weights = (
        _WEIGHTS
        if band_bits <= BAND_BITS
        else _plane_weights(N_BANDS * band_bits)
    )

    def proj(p: int) -> str:
        # list_inner_product is a sequential C++ loop — bit-identical
        # to the Spark-side left fold (verified elementwise over the
        # fixtures) and ~90x faster than a per-element lambda fold
        lits = ", ".join(repr(x) for x in weights[p])
        return f"list_inner_product(ed_{cte}, [{lits}])"

    def bit(p: int) -> str:
        return f"(CASE WHEN {proj(p)} >= 0 THEN 1 ELSE 0 END)"

    keys = []
    for band in range(N_BANDS):
        keys.append(
            " + ".join(
                f"{2 ** (band_bits - 1 - i)} * {bit(band * band_bits + i)}"
                for i in range(band_bits)
            )
        )
    key_list = ",\n               ".join(keys)
    # MATERIALIZED: without it DuckDB inlines `keys` into the 16-way
    # band cross join and recomputes all 48 projection folds per band
    # row — 16x the work (measured 18-38 s vs ~1-2 s at sf0.01).
    return f"""keys_{cte} AS MATERIALIZED (
      SELECT vec_id, embedding,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS ed_{cte},
             [{key_list}] AS ks
      FROM embeddings
    ), {cte} AS (
      SELECT vec_id, embedding, band, ks[band + 1] AS bkey
      FROM keys_{cte}, range({N_BANDS}) t(band)
    )"""


def _x6_oracle() -> str:
    return f"""
    WITH {_band_keys_sql()},
    q AS (
      SELECT band, bkey, embedding AS qv FROM bk WHERE vec_id = 0
    ), cand AS (
      SELECT DISTINCT b.vec_id, b.embedding, q.qv
      FROM bk b JOIN q USING (band, bkey)
      WHERE b.vec_id <> 0
    )
    SELECT vec_id, {_cos_sql("embedding", "qv")} AS sim
    FROM cand
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """


@query("x6_ann_lsh_topk", oracle=_x6_oracle())
def x6_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN top-10 via banded sign-random-projection LSH.

    Candidates = vectors sharing >=1 of the query's N_BANDS band keys
    (exploded band join, not a cross join). At 100 TB the band join
    prunes the scan to the colliding fraction of the corpus; recall is
    tunable via (N_BANDS, BAND_BITS) exactly like minhash banding.
    tests/test_similarity.py asserts recall >= 0.8 against x5's exact
    top-10 so this operator can never silently return nothing again.
    Fully oracle-checked: literal hyperplanes + bit-identical folds
    mean the oracle regenerates the same buckets and scores.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    banded = emb.select(
        "vec_id",
        "embedding",
        F.explode(_band_keys(F.col("embedding"))).alias("bk"),
    ).select("vec_id", "embedding", "bk.band", "bk.bkey")
    q = banded.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), "band", "bkey"
    )
    cands = (
        banded.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), ["band", "bkey"])
        .select("vec_id", "embedding", "qv")
        .dropDuplicates(["vec_id"])
    )
    return (
        cands.select(
            "vec_id", cosine_similarity(F.col("embedding"), F.col("qv")).alias("sim")
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "sim")
    )


N_CELLS = 8  # IVF coarse-quantizer codebook size
N_PROBE = 3  # cells searched per query
#: Centroid accumulation quantum (2^20). Summing floor(v * 2^20) as
#: LONGS makes the centroid mean order-INDEPENDENT (integer addition
#: commutes) while staying map-side combinable — the property float
#: avg can't give — and therefore engine-portable: DuckDB regenerates
#: bit-identical centroids, so the whole IVF family is oracle-checked.
#: v is float32, so v * 2^20 is EXACT in double (no rounding before
#: the floor); the 1e-6 quantization is noise for a coarse quantizer.
QSCALE = 1 << 20


def _ivf_centroids(emb: DataFrame, n_cells: int = N_CELLS) -> DataFrame:
    """K-means-lite codebook: deterministic seeds + one Lloyd step.

    Seeds are the first ``n_cells`` vectors (deterministic, no RNG);
    one refinement assigns every vector to its nearest seed and
    re-averages per cell element-wise. Entirely DataFrame ops: the
    element-wise mean is posexplode → groupBy(cell, pos) → avg →
    rebuilt into an ordered array — the distributed iterative-algorithm
    shape (more Lloyd iterations would repeat this block).

    ``n_cells`` is N_CELLS for every registered entry; at 100 TB the
    codebook grows to n / target_cell_size so cells stay constant-sized
    and every within-cell scan stays linear — an eager count here would
    violate the build-without-materializing gate, so that estimate
    belongs to a catalog statistic, not to this builder.
    """
    # Norm hoist (same as _assign_cells): this is an n x k scan.
    seeds = emb.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("_sn"),
    )
    assigned = (
        emb.withColumn("_vn", l2_norm(F.col("embedding")))
        .crossJoin(F.broadcast(seeds))
        .withColumn(
            "sim",
            dot(F.col("embedding"), F.col("cv"))
            / (F.col("_vn") * F.col("_sn")),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cell")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cell", "embedding")
    )
    per_dim = (
        assigned.select(
            "cell", F.posexplode("embedding").alias("pos", "v")
        )
        .groupBy("cell", "pos")
        .agg(
            # quantized mean (see QSCALE): order-independent AND
            # map-side combinable — the shuffle still moves one
            # (cell, pos, partial-sum) tuple per map task
            (
                (
                    F.sum(
                        F.floor(F.col("v").cast("double") * QSCALE).cast(
                            "long"
                        )
                    ).cast("double")
                    / F.count("*").cast("double")
                )
                / QSCALE
            ).alias("m")
        )
    )
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("cv")
    )


def _assign_cells(
    emb: DataFrame, cents: DataFrame, n_probe: int = 1, keep_rank: bool = False
) -> DataFrame:
    """(vec_id, embedding, cell): nearest-centroid assignment.

    Broadcast the tiny codebook against the corpus; deterministic
    tie-break on the lowest cell id. Shared by x27 (IVF probe) and
    x62 (SemDeDup) — at 100 TB this is the write-time partitioning
    step (cell = partition column). With ``n_probe > 1`` each vector
    is REPLICATED into its n_probe nearest cells (the multi-probe
    form `_ivf_candidate_pairs` pairs within). ``keep_rank`` retains
    the probe rank column ``rn`` (1 = primary cell) so callers can
    distinguish primary membership from multi-probe replication —
    `_ivf_candidate_pairs` caps cells on PRIMARY member counts.
    """
    # Norm hoist: the scan folds n x k cosines; the row norm is
    # per-VECTOR (fold once, not once per centroid) and the centroid
    # norm is per-CENTROID (fold k times total, inside the broadcast
    # frame). dot/(vn*cn) yields the bit-identical double.
    scored = (
        emb.withColumn("_vn", l2_norm(F.col("embedding")))
        .crossJoin(
            F.broadcast(cents.withColumn("_cn", l2_norm(F.col("cv"))))
        )
        .withColumn(
            "csim",
            dot(F.col("embedding"), F.col("cv"))
            / (F.col("_vn") * F.col("_cn")),
        )
    )
    assign_rank = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), "cell")
    # n_probe == 1 keeps the registered x27/x62 plans' exact predicate
    # (rn == 1) rather than a semantically-equal rn <= 1.
    keep = (
        F.col("rn") == 1 if n_probe == 1 else F.col("rn") <= n_probe
    )
    cols = ["vec_id", "embedding", "cell"] + (["rn"] if keep_rank else [])
    return (
        scored.withColumn("rn", F.row_number().over(assign_rank))
        .filter(keep)
        .select(*cols)
    )


def _ivf_cents_sql() -> str:
    """CTE fragment ``seeds → a1 → pd → m → cents``: the DuckDB twin
    of ``_ivf_centroids``, generated from the same constants.
    Bit-identical centroids via the QSCALE quantized mean. Shared
    prefix of `_ivf_sql` (single-probe asg) and `_ivf_pairs_sql`
    (multi-probe capped pairs) so the assignment geometry cannot
    drift between the x27/x62 family and the x141/x142 census path."""
    cos_seed = _cos_sql("e.embedding", "s.cv")
    return f"""seeds AS (
      SELECT vec_id AS cell, embedding AS cv
      FROM embeddings WHERE vec_id < {N_CELLS}
    ), a1 AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, s.cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos_seed} DESC, s.cell) AS rn
        FROM embeddings e CROSS JOIN seeds s
      ) WHERE rn = 1
    ), pd AS (
      SELECT a1.cell,
             unnest(range(0, len(e.embedding))) AS pos,
             unnest(list_transform(e.embedding,
                    v -> CAST(floor(CAST(v AS DOUBLE) * {QSCALE}) AS BIGINT)))
               AS q
      FROM embeddings e JOIN a1 USING (vec_id)
    ), m AS (
      SELECT cell, pos,
             (CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / {QSCALE}
               AS c
      FROM pd GROUP BY cell, pos
    ), cents AS (
      SELECT cell, list(c ORDER BY pos) AS cv FROM m GROUP BY cell
    )"""


def _ivf_sql() -> str:
    """`_ivf_cents_sql` + single-probe assignment ``asg``: the DuckDB
    twin of ``_ivf_centroids`` + ``_assign_cells``; assignment ties
    break on the lowest cell, as in Spark."""
    cos_cent = _cos_sql("e.embedding", "c.cv")
    return f"""{_ivf_cents_sql()}, asg AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos_cent} DESC, c.cell) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    )"""


def _ivf_pairs_sql() -> str:
    """DuckDB CTE fragment ``pairs(src, dst, ea, eb)`` — the oracle
    twin of `_ivf_candidate_pairs` (N_CELLS codebook, N_PROBE
    multi-probe, KNN_MAX_BUCKET primary-member cap), the IVF
    counterpart of `_capped_pairs_sql`. Multi-probe assignment keeps
    the N_PROBE nearest cells per vector (same float-exact cosine
    ranking the single-probe ``asg`` uses, so x27/x62's bit-exact
    cross-engine evidence carries over); the skew cap counts PRIMARY
    (rn = 1) members per cell, mirroring the Spark fix for ADVICE
    r10's replicated-occupancy finding."""
    cos_cent = _cos_sql("e.embedding", "c.cv")
    return f"""{_ivf_cents_sql()}, asgp AS (
      SELECT vec_id, embedding, cell, rn FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos_cent} DESC, c.cell) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn <= {N_PROBE}
    ), prim AS (
      SELECT cell, count(*) AS psz FROM asgp WHERE rn = 1 GROUP BY cell
    ), ivfcap AS (
      SELECT g.vec_id, g.embedding, g.cell
      FROM asgp g LEFT JOIN prim p ON g.cell = p.cell
      WHERE COALESCE(p.psz, 0) <= {KNN_MAX_BUCKET}
    ), pairs AS (
      SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
             a.embedding AS ea, b.embedding AS eb
      FROM ivfcap a JOIN ivfcap b ON a.cell = b.cell AND a.vec_id <> b.vec_id
    )"""


def _x27_oracle() -> str:
    return f"""
    WITH {_ivf_sql()},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probes AS (
      SELECT c.cell, q.qv FROM cents c CROSS JOIN q
      ORDER BY {_cos_sql("q.qv", "c.cv")} DESC, c.cell
      LIMIT {N_PROBE}
    )
    SELECT e.vec_id, {_cos_sql("e.embedding", "p.qv")} AS sim
    FROM asg e JOIN probes p ON e.cell = p.cell
    WHERE e.vec_id <> 0
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
    """


@query("x27_ivf_topk", oracle=_x27_oracle())
def x27_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: coarse quantize, probe N_PROBE cells.

    The inverted-file layout: every vector belongs to its nearest
    centroid's cell; a query scores only the vectors in its N_PROBE
    nearest cells (~N_PROBE/N_CELLS of the corpus). At 100 TB the
    assignment is a write-time partitioning (cell = partition column →
    partition pruning does the probe for free). Recall vs x5's exact
    top-10 is gated >= 0.8 in tests/test_similarity.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(emb).persist()
    assigned = _assign_cells(emb, cents)
    probes = (
        assigned.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"))
        .crossJoin(F.broadcast(cents))
        .withColumn("csim", cosine_similarity(F.col("qv"), F.col("cv")))
        .orderBy(F.col("csim").desc(), "cell")
        .limit(N_PROBE)
        .select("qv", "cell")
    )
    cands = assigned.filter(F.col("vec_id") != 0).join(F.broadcast(probes), "cell")
    result = (
        cands.select(
            "vec_id", cosine_similarity(F.col("embedding"), F.col("qv")).alias("sim")
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
        .select("vec_id", "sim")
    )
    # drop the codebook cache when the caller releases the result
    return unpersist_with(result, cents)


_BATCH_COS = """
    list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> e.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE),
                (acc, x) -> acc + x)
    / (sqrt(list_reduce(list_transform(e.embedding, v -> v::DOUBLE * v::DOUBLE),
            (acc, x) -> acc + x))
     * sqrt(list_reduce(list_transform(q.embedding, v -> v::DOUBLE * v::DOUBLE),
            (acc, x) -> acc + x)))
"""


@query(
    "x25_batch_ann_topk",
    oracle=f"""
    SELECT qid, vec_id, rnk FROM (
      SELECT q.vec_id AS qid, e.vec_id AS vec_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_BATCH_COS} DESC, e.vec_id
             ) AS rnk
      FROM embeddings e
      CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
      WHERE e.vec_id >= 5
    ) WHERE rnk <= 3
    ORDER BY qid, rnk
    """,
)
def x25_batch_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched similarity search: top-3 neighbors for 5 queries at once.

    One scan of the corpus serves every query: the (tiny) query set is
    broadcast, scored in the same codegen stage, and ranked per query
    with a window — the shape that amortizes a 100 TB scan across a
    whole query batch instead of re-scanning per query (x5's shape).
    The double-precision fold matches the oracle bit-for-bit (see x7).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Norm hoist (x5's discipline, batched): query norms fold once per
    # query in the broadcast frame, the row norm once per row instead
    # of once per (row, query) — bit-identical doubles.
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    scored = (
        emb.filter(F.col("vec_id") >= 5)
        .withColumn("_vn", l2_norm(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .select(
            "qid",
            "vec_id",
            (
                dot(F.col("embedding"), F.col("qv"))
                / (F.col("_vn") * F.col("_qn"))
            ).alias("sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("qid", "vec_id", "rnk")
        .orderBy("qid", "rnk")
    )


#: Near-dup cosine threshold. 0.4 is non-vacuous on the synthetic
#: fixtures (max within-label cosine ~0.47); a production text-embedding
#: pipeline would use ~0.9+.
NEARDUP_T = 0.4

# The oracle reproduces our double-precision sequential fold exactly
# (list_reduce is a left fold; 0.0 + x0 == x0 in IEEE), so pairs at the
# threshold boundary agree bit-for-bit — no float-tolerance hazard.
_DUCK_COS = """
    list_reduce(list_transform(range(1, len(a.embedding) + 1),
                i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE),
                (acc, x) -> acc + x)
    / (sqrt(list_reduce(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE),
            (acc, x) -> acc + x))
     * sqrt(list_reduce(list_transform(b.embedding, v -> v::DOUBLE * v::DOUBLE),
            (acc, x) -> acc + x)))
"""


#: x7 is an arithmetic PIN, not a scale path: cap its input slice so
#: the within-label self-join is bounded (X7_CAP^2 / |labels| pairs)
#: at ANY corpus size. The fixtures are far below the cap, so test-SF
#: results are unchanged; the production near-dup shape is x7b.
X7_CAP = 10_000


@query(
    "x7_embedding_neardup",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.label = b.label
      AND a.vec_id < {X7_CAP} AND b.vec_id < {X7_CAP}
      AND {_DUCK_COS} > {NEARDUP_T}
    ORDER BY id_a, id_b
    """,
)
def x7_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (oracle twin).

    This is the ORACLE-CHECKABLE twin that pins the cosine-verification
    arithmetic bit-for-bit against DuckDB (the double left-fold trick
    above). It is NOT the scale path: with a bounded label vocabulary
    the within-label self-join grows O(n^2/|labels|), so the input is
    capped to ``vec_id < X7_CAP`` (both sides, oracle identical) —
    bounded work at any corpus size, VERDICT r3 item 8. The production
    shape is ``x7b_embedding_neardup_lsh`` below, which blocks on LSH
    band keys so block sizes stay bounded independent of corpus size;
    tests/test_similarity.py proves x7b recovers every same-label pair
    this twin emits plus the cross-label ones the label blocking hides.
    """
    full = load_table(spark, sf_dir, "embeddings")
    # Make the truncation OBSERVABLE (ADVICE r4): a consumer running x7
    # on a corpus past the cap gets silently incomplete pairs otherwise.
    # LIMIT-1 existence probe, not a count: parquet min/max stats prune
    # every row group below the cap, so this reads ~one row group at
    # any corpus size (a full count() here re-scanned the table per
    # plan BUILD — the no-materialize gate's regression class; x7 is
    # that gate's one documented bounded-probe exception).
    if full.filter(F.col("vec_id") >= X7_CAP).take(1):
        import warnings

        warnings.warn(
            f"x7_embedding_neardup input exceeds vec_id {X7_CAP}; only "
            f"vec_id < {X7_CAP} are compared (arithmetic-pin twin). "
            "Use x7b_embedding_neardup_lsh for full-corpus near-dup.",
            stacklevel=2,
        )
    emb = full.filter(F.col("vec_id") < X7_CAP)
    # Per-vector norms hoisted to the join inputs (one fold per row,
    # not three per pair) — bit-identical values, same discipline as
    # _banded_candidate_pairs.
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("lbl"),
        F.col("embedding").alias("ea"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("lbl"),
        F.col("embedding").alias("eb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    return (
        a.join(b, "lbl")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
            > NEARDUP_T
        )
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


#: Per-bucket skew cap for the banded self-join (x2's MAX_BUCKET
#: posture, applied to the embedding LSH): a (band, bkey) bucket
#: larger than this is DROPPED before any pair exists. With
#: stats-driven band sizing the expected bucket is ~N0/2^BAND_BITS =
#: 250 vectors, so 2048 is ~8x the mean — it never binds at any
#: registered-oracle scale (measured max bucket: 91 at sf0.01, 350 at
#: sf0.1) and only fires on a genuinely degenerate direction (a
#: near-constant embedding dimension collapsing many vectors into one
#: sign pattern), where the bucket's O(s^2) pairs would otherwise
#: dominate the whole job. The SAME literal is generated into every
#: consumer oracle (``_capped_pairs_sql``), so the cap is part of the
#: registered semantics, not a Spark-only divergence.
KNN_MAX_BUCKET = 2048


def _banded_candidate_pairs(
    emb: DataFrame,
    keep_self: bool = False,
    band_bits: int = BAND_BITS,
    max_bucket: int = KNN_MAX_BUCKET,
) -> DataFrame:
    """Ordered candidate pairs sharing >=1 sign-random-projection band.

    The shared scaffolding of x7b and x44: explode ``_band_keys``,
    self-join on (band, bkey), deduplicate pairs that collide in
    several bands. Columns: id_a, id_b, ea, eb, na, nb (the per-vector
    L2 norms, hoisted here so pair scoring is dot/(na*nb) — one array
    fold per pair instead of three). With
    ``keep_self=False`` the pair order is id_a < id_b (near-dup
    pairs); with True, both directions survive except the diagonal
    (k-NN graph, where each vector needs its own neighbor list).

    Shuffle discipline (the r8 402 s lesson — SCALE.md x137 trials):
    the band join and the cross-band ``dropDuplicates`` move ONLY
    (vec_id, band, bkey) / (id_a, id_b) — never the 64-float vectors.
    An earlier formulation carried both embeddings through the explode
    (x N_BANDS), the self-join output AND the dedup exchange: at 10x
    fixture scale that is ~50 GB of shuffle for ~50 M candidate pairs,
    vs ~1 GB for the id-only stream. Embeddings are joined back by id
    AFTER the pair set is final — two hash joins against the (tiny by
    comparison) embeddings relation that AQE turns into broadcasts up
    to multi-GB corpora, and that stay key-partitioned shuffles (of n
    rows, not n_pairs x 2 vectors) beyond.

    Skew guard: buckets larger than ``max_bucket`` (``KNN_MAX_BUCKET``
    in every registered plan) are dropped wholesale before pairing — the
    window count rides the same (band, bkey) partitioning the self-
    join needs, so the guard adds no extra exchange of its own.
    """
    banded = emb.select(
        "vec_id",
        F.explode(_band_keys(F.col("embedding"), band_bits)).alias("bk"),
    ).select(
        "vec_id",
        F.col("bk.band").alias("band"),
        F.col("bk.bkey").alias("bkey"),
    )
    capped = (
        banded.withColumn(
            "bsz", F.count(F.lit(1)).over(W.partitionBy("band", "bkey"))
        )
        .filter(F.col("bsz") <= max_bucket)
        .drop("bsz")
    )
    a = capped.select(F.col("vec_id").alias("id_a"), "band", "bkey")
    b = capped.select(F.col("vec_id").alias("id_b"), "band", "bkey")
    keep = (
        F.col("id_a") != F.col("id_b")
        if keep_self
        else F.col("id_a") < F.col("id_b")
    )
    ids = (
        a.join(b, ["band", "bkey"])
        .filter(keep)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Norms are per-VECTOR quantities: fold them ONCE here (n narrow
    # rows) instead of per candidate pair. Downstream cosines become
    # dot(ea, eb) / (na * nb) — one array fold per pair instead of
    # three, and the double each norm yields is bit-identical to the
    # pair-side fold it replaces (same expression per value), so the
    # shared DuckDB oracles and the recall gates are untouched. At 10x
    # fixture volume the scoring stage folds 50M pairs; this removes
    # ~2/3 of that work.
    return _attach_embeddings(ids, emb)


def _attach_embeddings(ids: DataFrame, emb: DataFrame) -> DataFrame:
    """Join embeddings + hoisted L2 norms back onto an id-only pair
    frame — the shared tail of `_banded_candidate_pairs` and
    `_ivf_candidate_pairs` (the id-only shuffle discipline plus the
    per-vector norm hoist live here exactly once)."""
    ea = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    return (
        ids.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", "ea", "eb", "na", "nb")
    )


def _ivf_candidate_pairs(emb: DataFrame) -> DataFrame:
    """Directed IVF-partitioned candidate pairs (both directions, no
    diagonal) — the SCALE path for the x44-family candidate wall
    (VERDICT r9 item 3).

    Why: the banded sign-random-projection self-join is volume-bound —
    at 10x fixture scale it emits 4,258 directed candidates per vector
    (85.2M pairs for 20k vectors, SCALE.md r10) for a K=3
    graph, because band buckets are CORPUS-FRACTION sized (2^band_bits
    buckets regardless of n). IVF cells instead stay CONSTANT sized
    when the codebook scales with the corpus (the x62/x27 design
    point): candidates per vector ~= N_PROBE^2 * cell_size,
    independent of corpus growth.

    Construction: coarse codebook via `_ivf_centroids` (deterministic
    seeds + one Lloyd step, broadcast-sized), every vector assigned to
    its N_PROBE nearest cells (multi-probe replication — boundary
    neighbors share a cell with probability rising in N_PROBE), pairs
    generated WITHIN cells only. Same shuffle discipline as the banded
    form: the cell self-join and dedup move (vec_id, cell) / (id_a,
    id_b) only; embeddings and hoisted norms join back by id at the
    end (`_attach_embeddings`). Same skew cap: a degenerate cell
    (collapsed embedding space) is dropped at ``KNN_MAX_BUCKET`` PRIMARY
    members (rn == 1 assignments, counted BEFORE multi-probe
    replication — ADVICE r10: counting replicated occupancy would make
    the cap bind ~N_PROBE× earlier than the banded form's and silently
    drop healthy cells), riding the join's own partitioning.

    Recall is geometry-dependent (a true neighbor straddling two probe
    sets of disjoint cells is missed): on the near-uniform synthetic
    embeddings 2 probes read 0.723 graph recall, 3 (N_PROBE, the x27
    convention) read 0.953 and 4 read 0.998 (measured r10, sf0.001);
    the kNN-graph recall floor is pytest-gated in
    tests/test_similarity.py like x87's. Since r11
    both candidate generators are registered, oracle-paired peers
    (banded x44/x137, IVF x141/x142); this is the at-scale form.
    """
    # persist BOTH fan-out frames (the x27/x62 cents lifecycle, plus
    # the assignment): cents feeds the assignment, and the assignment
    # feeds three branches (prim census + both self-join sides).
    # Without the persists every branch re-expands the full
    # centroid+assignment lineage — measured r11: the x141 plan
    # scanned the embeddings parquet 14x per execution.
    cents = _ivf_centroids(emb).persist()
    # Multi-probe assignment via the shared scorer (one tie-break, one
    # norm hoist — x27/x62's `_assign_cells` with n_probe > 1).
    assigned = (
        _assign_cells(emb, cents, n_probe=N_PROBE, keep_rank=True)
        .select("vec_id", "cell", "rn")
        .persist()
    )
    # Primary-member census per cell: one row per cell, joined back
    # onto the replicated assignment. A cell with no primary members
    # keeps its replicated visitors (COALESCE 0 <= cap). No forced
    # broadcast hint (ADVICE r11): the cell count scales with corpus
    # size at the design point (n / target_cell_size — ~1e7 cells for
    # 1e10 vectors), so a hard hint could pin a driver-OOM plan; AQE
    # broadcasts the census whenever its runtime size is actually small
    # and degrades to a shuffled join when it isn't — the same posture
    # dedup.py took in r11 for the touched-id semi-join.
    prim = (
        assigned.filter(F.col("rn") == 1)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("psz"))
    )
    capped = (
        assigned.join(prim, ["cell"], "left")
        .filter(F.coalesce(F.col("psz"), F.lit(0)) <= KNN_MAX_BUCKET)
        .select("vec_id", "cell")
    )
    a = capped.select(F.col("vec_id").alias("id_a"), "cell")
    b = capped.select(F.col("vec_id").alias("id_b"), "cell")
    ids = (
        a.join(b, ["cell"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    out = _attach_embeddings(ids, emb)
    return unpersist_with(unpersist_with(out, cents), assigned)


def _capped_pairs_sql(keep_self: bool, cte: str = "bk") -> str:
    """DuckDB CTE fragment ``pairs`` — the oracle twin of
    ``_banded_candidate_pairs``, INCLUDING the ``KNN_MAX_BUCKET`` skew
    cap, generated once so the x7b/x44/x69 oracles cannot drift from
    each other or from the Spark semantics. Column names follow the
    consumer convention: (src, dst) for the keep_self k-NN form,
    (id_a, id_b) for the ordered near-dup form."""
    na, nb = ("src", "dst") if keep_self else ("id_a", "id_b")
    cmp = "a.vec_id <> b.vec_id" if keep_self else "a.vec_id < b.vec_id"
    return f"""{cte}c AS (
      SELECT vec_id, embedding, band, bkey FROM (
        SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz
        FROM {cte}
      ) WHERE bsz <= {KNN_MAX_BUCKET}
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS {na}, b.vec_id AS {nb},
             a.embedding AS ea, b.embedding AS eb
      FROM {cte}c a JOIN {cte}c b
        ON a.band = b.band AND a.bkey = b.bkey AND {cmp}
    )"""


def _x7b_oracle() -> str:
    return f"""
    WITH {_band_keys_sql()},
    {_capped_pairs_sql(keep_self=False)}
    SELECT id_a, id_b FROM pairs
    WHERE {_cos_sql("ea", "eb")} > {NEARDUP_T}
    ORDER BY id_a, id_b
    """


@query("x7b_embedding_neardup_lsh", oracle=_x7b_oracle())
def x7b_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the WHOLE corpus, LSH-blocked.

    The scale path x7's docstring promises: candidates are pairs sharing
    >=1 sign-random-projection band key (``_band_keys``, same banding as
    x6), deduplicated across bands, then verified with the exact cosine
    threshold — precision is 1.0 by construction, recall is the banding
    recall (~0.99 at theta <= 66 deg with 16x3 banding). No label, no
    all-pairs join: the only shuffle moves (band, bkey, id) triples and
    every bucket is bounded by the hash, not by corpus size. At 100 TB
    add a per-bucket cap exactly like x2's MAX_BUCKET if a degenerate
    direction overloads one bucket.

    Reference parity: near-dup detection family (SURVEY.md §2.9);
    differential gates in tests/test_similarity.py (supersets x7's
    same-label pairs; recall vs brute-force all-pairs at sf0.001).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        _banded_candidate_pairs(emb)
        .filter(
            (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
            > NEARDUP_T
        )
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


@query(
    "x42_label_centroids",
    # parallel unnests zip positionally in DuckDB; range(0, n) matches
    # posexplode's 0-based pos
    oracle="""
    SELECT label, CAST(pos AS INTEGER) AS pos,
           floor(CAST(sum(vq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1000000000.0 * 1000000.0 + 0.5) / 1000000.0 AS c
    FROM (
      SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             unnest(list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * 1000000000.0 + 0.5) AS BIGINT))) AS vq
      FROM embeddings
    )
    GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def x42_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise mean embedding (class prototypes).

    The distributed vector-mean shape behind classifier prototypes,
    IVF codebook refinement (x27 reuses it), and embedding-drift
    monitoring: posexplode to (label, pos, value), then ONE combinable
    groupBy — partial aggregation means the shuffle carries (label,
    pos, partial-sum) tuples, O(|labels| x dims) per map task, however
    large the corpus.

    Exactness: elements quantize to an integer 1e-9 grid per row (well
    inside float32 resolution for unit-range values), so the sum is an
    order-independent BIGINT — a float avg hashes differently across
    partitionings (the x28b class). Quantization bias is < 5e-10, four
    orders below the 1e-6 output rounding.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vq = F.floor(
        F.col("v").cast("double") * F.lit(1000000000.0) + F.lit(0.5)
    ).cast("long")
    avg_c = (
        F.sum(vq).cast("double")
        / F.count("*").cast("double")
        / F.lit(1000000000.0)
    )
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            (
                F.floor(avg_c * F.lit(1000000.0) + F.lit(0.5))
                / F.lit(1000000.0)
            ).alias("c")
        )
        .select("label", F.col("pos").cast("int").alias("pos"), "c")
        .orderBy("label", "pos")
    )


#: int8 scalar-quantization range (symmetric, per-vector absmax).
QUANT_LEVELS = 127


@query(
    "x43_quantize_error",
    # folds are double left-folds on both engines (see _DUCK_COS note);
    # the quantizer tie rule is floor(v + 0.5) — half-up, the portable
    # nearest-int (engine round() tie semantics differ on boundaries)
    oracle=f"""
    WITH m AS (
      SELECT vec_id, embedding,
             list_reduce(list_transform(embedding, x -> abs(x::DOUBLE)),
                         (a, b) -> greatest(a, b)) AS maxabs
      FROM embeddings
    )
    SELECT vec_id,
           {floor_round_sql(
               f"list_reduce("
               f"list_transform(embedding,"
               f" x -> abs(x::DOUBLE"
               f" - floor(x::DOUBLE * {QUANT_LEVELS} / maxabs + 0.5)"
               f" * maxabs / {QUANT_LEVELS})),"
               f" (a, b) -> greatest(a, b))", 8)} AS max_err
    FROM m
    WHERE maxabs > 0
    ORDER BY vec_id
    """,
)
def x43_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar-quantization reconstruction error.

    Symmetric absmax quantization (the standard int8 embedding
    compression: q = floor(v * 127 / absmax + 0.5)) evaluated WITHOUT
    materializing the quantized corpus: one narrow map computes the
    worst-case per-vector reconstruction error, the acceptance metric
    for deploying a quantized ANN index. All JVM array folds; at 100 TB
    this is a scan-bounded audit pass emitting 16 bytes per vector.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    maxabs = F.aggregate(
        v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x.cast("double")))
    )
    with_m = emb.select("vec_id", "embedding", maxabs.alias("maxabs")).filter(
        F.col("maxabs") > 0
    )
    err = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda x: F.abs(
                x.cast("double")
                - F.floor(
                    x.cast("double") * QUANT_LEVELS / F.col("maxabs")
                    + F.lit(0.5)
                )
                * F.col("maxabs")
                / QUANT_LEVELS
            ),
        ),
        F.lit(0.0),
        lambda a, b: F.greatest(a, b),
    )
    return (
        with_m.select("vec_id", floor_round(err, 8).alias("max_err"))
        .orderBy("vec_id")
    )


KNN_K = 3  # neighbors per vector in the graph


def _rerank_sql_tail() -> str:
    """Exact-cosine rerank + top-KNN_K SELECT over a ``pairs(src, dst,
    ea, eb)`` CTE — the oracle twin of `_rerank_topk`, shared by the
    banded x44 and the IVF x141 so the "same contract and scoring"
    claim is enforced in the SQL exactly as it is in the Spark code."""
    return f"""SELECT src, dst, rnk FROM (
      SELECT src, dst,
             row_number() OVER (
               PARTITION BY src
               ORDER BY {_cos_sql("ea", "eb")} DESC, dst
             ) AS rnk
      FROM pairs
    ) WHERE rnk <= {KNN_K}
    ORDER BY src, rnk
    """


def _x44_oracle() -> str:
    return f"""
    WITH {_band_keys_sql()},
    {_capped_pairs_sql(keep_self=True)}
    {_rerank_sql_tail()}"""


@query("x44_knn_graph", oracle=_x44_oracle())
def x44_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph: top-3 neighbors for EVERY vector.

    The corpus-wide generalization of x6 (one query) and x25 (a query
    batch): candidates come from the banded sign-random-projection
    self-join (recall ~0.97 per neighbor at fixture geometry), scored
    exactly, ranked per source vector. The k-NN graph is the input to
    embedding-cluster dedup and diversity sampling; at 100 TB the band
    join touches only colliding pairs and the per-vector rank is one
    window over the candidate list — never an all-pairs scan.
    tests/test_similarity.py gates graph recall against the exact
    brute-force graph at sf0.01.
    """
    return _banded_knn_graph(spark, sf_dir, BAND_BITS)


def _banded_knn_graph(
    spark: SparkSession, sf_dir: str, band_bits: int
) -> DataFrame:
    """The banded k-NN graph ``(src, dst, rnk)`` at ``band_bits`` per
    band: x44 at BAND_BITS, the census twins at the corpus-sized width
    (``_sized_band_bits``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _rerank_topk(
        _banded_candidate_pairs(emb, keep_self=True, band_bits=band_bits)
    )


def _rerank_topk(pairs: DataFrame) -> DataFrame:
    """Exact cosine rerank + top-KNN_K per source over a directed
    candidate frame (id_a, id_b, ea, eb, na, nb) — the shared tail of
    `x44_knn_graph` and `x141_ivf_knn_graph`, factored so the "same
    contract and scoring" claim is enforced by shared code (one
    tie-break, one KNN_K) rather than two hand-synced blocks."""
    cands = pairs.select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias(
            "sim"
        ),
    )
    w = W.partitionBy("src").orderBy(F.col("sim").desc(), "dst")
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select("src", "dst", "rnk")
        .orderBy("src", "rnk")
    )


# --- x58: deterministic random-projection dimensionality reduction ----

RP_OUT_DIMS = 8  # 64 -> 8, an 8x storage/compute cut for ANN prefilters


def _rp_sign(i, j: int):
    """Engine-portable pseudo-random sign for (1-based dim i, out dim j).

    Pure 64-bit-safe integer arithmetic — the identical expression is
    written into the DuckDB oracle, so Spark and the oracle use the
    SAME projection matrix without sharing any RNG state or broadcast
    model: sign = +1 iff (i * (2j+3) * knuth) % 97 < 48. Max product
    64 * 19 * 2654435761 ~= 3.2e12, far below 2^63 in both engines.
    """
    m = F.lit((2 * j + 3) * 2654435761)
    return F.when((i * m) % 97 < 48, F.lit(1.0)).otherwise(F.lit(-1.0))


def _rp_oracle() -> str:
    cols = ",\n           ".join(
        f"list_reduce(list_transform(embedding, (v, i) -> "
        f"CAST(v AS DOUBLE) * (CASE WHEN (i * {(2 * j + 3)} * 2654435761) "
        f"% 97 < 48 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)), "
        f"(a, b) -> a + b) AS p{j}"
        for j in range(RP_OUT_DIMS)
    )
    return f"SELECT vec_id,\n           {cols}\n    FROM embeddings"


@query("x58_random_projection", oracle=_rp_oracle())
def x58_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection dim reduction: 64-dim float -> 8 doubles.

    The Achlioptas/JL construction with +-1 weights: out_j = sum_i
    emb[i] * sign(i, j). Weights derive from portable integer
    arithmetic (no RNG, no broadcast model — every executor and the
    DuckDB oracle regenerate the identical matrix from (i, j) alone),
    and each output is a strict left fold in dimension order, so the
    float sums are BIT-IDENTICAL across engines: a fully value-hashed
    oracle over floating-point output, same determinism discipline as
    x5's double left-folds.

    Scale (100 TB): a narrow per-row map — ZERO shuffles, fused into
    the scan by codegen. The reduced vectors feed ANN prefilters
    (x6/x27) at 1/8th the bytes; at a billion rows that is the
    difference between an in-memory index and a disk-bound one.
    """
    emb = load_table(spark, sf_dir, "embeddings")

    def out_dim(j: int):
        terms = F.zip_with(
            F.col("embedding"),
            F.sequence(F.lit(1), F.size("embedding")),
            lambda v, i: v.cast("double") * _rp_sign(i, j),
        )
        return F.aggregate(terms, F.lit(0.0), lambda a, x: a + x)

    return emb.select(
        "vec_id", *[out_dim(j).alias(f"p{j}") for j in range(RP_OUT_DIMS)]
    )


def _x62_oracle() -> str:
    return f"""
    WITH {_ivf_sql()},
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM asg a JOIN asg b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_cos_sql("a.embedding", "b.embedding")} >= {NEARDUP_T}
    )
    SELECT g.vec_id, g.cell, (d.vec_id IS NULL) AS kept
    FROM asg g LEFT JOIN dropped d ON g.vec_id = d.vec_id
    """


@query("x62_semdedup", oracle=_x62_oracle())
def x62_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup flat twin — production use routes to x63_semdedup_hier.

    (Abbas et al. 2023: semantic dedup via k-means cells.)
    NOTE — flat differential twin, superseded at scale: the SCALE.md
    100x trial measured this flat-IVF assignment at O(n^2/cell) (76x
    wall at 100x data), so ``x63_semdedup_hier`` is the DEFAULT
    semantic-dedup path; x62 remains registered as its flat
    differential twin (equal-granularity recall gate in
    tests/test_similarity.py) and for corpora small enough that a flat
    codebook is simpler.

    Cluster the corpus embeddings with the IVF codebook
    (``_ivf_centroids``: deterministic seeds + one Lloyd step), then
    compare vectors only WITHIN their cell and drop every vector whose
    cosine to ANY lower-id cellmate reaches ``NEARDUP_T`` — dropped or
    not (the paper's one-pass rule): on a similarity chain a~b~c with
    a!~c, both b and c are dropped even though c's only near-duplicate
    b was itself removed. The lowest id of each cell-local similarity
    chain survives; a true one-representative-per-group semantics
    would need x29's connected components. Emits (vec_id, cell, kept)
    for the whole corpus so downstream pipelines filter on ``kept``.

    Scale (100 TB): the SemDeDup design point is that N_CELLS grows
    with the corpus (n / target_cell_size), so cells stay
    constant-sized and the within-cell self-join is O(n * cell_size) —
    never corpus-quadratic; cell is the shuffle (and at rest the
    partition) key, and the codebook rides in as a broadcast. The
    within-cell pair scan reuses the one cell-keyed exchange on both
    join sides. MEASURED limit (SCALE.md 100× trial): with k ∝ n the
    flat nearest-centroid ASSIGNMENT is n × k cosines = O(n²/cell) —
    76× wall at 100× data. The 100 TB version needs a hierarchical
    codebook (√k coarse → √k fine, turning assignment into
    n × 2√k) or ANN-routed assignment via x6's band keys; the
    within-cell scan itself scaled as designed in the 10× trial.

    Verification: full DuckDB oracle (the QSCALE quantized-mean
    codebook is engine-portable, so the oracle regenerates identical
    cells); tests/test_similarity.py additionally re-derives the keep
    set brute-force per cell and gates equality.
    """
    return _flat_semdedup(spark, sf_dir, N_CELLS)


def _flat_semdedup(
    spark: SparkSession, sf_dir: str, n_cells: int
) -> DataFrame:
    """x62's SemDeDup over an ``n_cells`` flat codebook: x62 at
    N_CELLS; x63's recall test compares it at N_COARSE * N_FINE cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Persist the codebook (as x27 does): its lineage is a multi-shuffle
    # k-means step with float avgs, and `assigned` feeds three plan
    # branches — without the pin, a recomputation with different
    # aggregation order could assign a vector to different cells on
    # different branches (and would rebuild the codebook up to 3x).
    cents = _ivf_centroids(emb, n_cells).persist()
    assigned = _assign_cells(emb, cents)
    # Per-vector norms hoisted to the self-join inputs: the within-cell
    # pair scan is this operator's measured wall (SCALE.md 100x), and
    # one fold per row replaces three per pair — bit-identical values.
    a = assigned.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    b = assigned.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
            >= F.lit(NEARDUP_T)
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    result = (
        assigned.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )
    # drop the codebook cache when the caller releases the result
    return unpersist_with(result, cents)


# --- x63: hierarchical semantic dedup (the x62 100x-finding fix) -----

#: Two-level codebook geometry: N_COARSE x N_FINE effective cells with
#: assignment cost n x (N_COARSE + N_FINE) instead of flat-IVF's
#: n x (N_COARSE * N_FINE). Both counts scale as sqrt(k) with the
#: corpus: at the 100x trial's 800-cell point that is n x 57 cosines
#: instead of n x 800 — the fix for the measured O(n^2/cell_target)
#: assignment wall (SCALE.md, x62 100x row).
N_COARSE = 4
N_FINE = 4


def _hier_assign(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, ccell, fcell): two-level seed assignment.

    Level 1: nearest of N_COARSE deterministic seed vectors. Level 2:
    nearest of the N_FINE lowest-id members WITHIN the coarse cell
    (the fine seeds; fcell = that seed's vec_id). Both levels are
    broadcast joins against seed frames of N_COARSE and N_FINE rows per
    coarse cell — no iterative state, no RNG, cosines are bit-identical
    left folds, so the whole assignment is engine-portable.
    """
    # Norm hoist on both assignment scans (n x N_COARSE + n x N_FINE
    # cosines): row norm folds once per row (_vn, carried from level 1
    # to level 2), seed norms fold once per seed inside the broadcast
    # frames — bit-identical doubles.
    seeds_c = emb.filter(F.col("vec_id") < N_COARSE).select(
        F.col("vec_id").alias("ccell"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("_cn"),
    )
    rank1 = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), "ccell")
    a1 = (
        emb.withColumn("_vn", l2_norm(F.col("embedding")))
        .crossJoin(F.broadcast(seeds_c))
        .withColumn(
            "csim",
            dot(F.col("embedding"), F.col("cv"))
            / (F.col("_vn") * F.col("_cn")),
        )
        .withColumn("rn", F.row_number().over(rank1))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "ccell", "_vn")
    )
    fine_rank = W.partitionBy("ccell").orderBy("vec_id")
    seeds_f = (
        a1.withColumn("rk", F.row_number().over(fine_rank))
        .filter(F.col("rk") <= N_FINE)
        .select(
            "ccell",
            F.col("vec_id").alias("fcell"),
            F.col("embedding").alias("fv"),
            F.col("_vn").alias("_fn"),
        )
    )
    rank2 = W.partitionBy("vec_id").orderBy(F.col("fsim").desc(), "fcell")
    return (
        a1.join(F.broadcast(seeds_f), "ccell")
        .withColumn(
            "fsim",
            dot(F.col("embedding"), F.col("fv"))
            / (F.col("_vn") * F.col("_fn")),
        )
        .withColumn("rn", F.row_number().over(rank2))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "ccell", "fcell")
    )


def _hier_sql() -> str:
    """DuckDB twin of ``_hier_assign``: CTEs ``hasg(vec_id, embedding,
    ccell, fcell)`` — same seeds, same tie-breaks, bit-identical
    cosines."""
    return f"""seeds_c AS (
      SELECT vec_id AS ccell, embedding AS cv
      FROM embeddings WHERE vec_id < {N_COARSE}
    ), a1 AS (
      SELECT vec_id, embedding, ccell FROM (
        SELECT e.vec_id, e.embedding, s.ccell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql("e.embedding", "s.cv")} DESC, s.ccell
               ) AS rn
        FROM embeddings e CROSS JOIN seeds_c s
      ) WHERE rn = 1
    ), seeds_f AS (
      SELECT ccell, vec_id AS fcell, embedding AS fv FROM (
        SELECT ccell, vec_id, embedding,
               row_number() OVER (PARTITION BY ccell ORDER BY vec_id) AS rk
        FROM a1
      ) WHERE rk <= {N_FINE}
    ), hasg AS (
      SELECT vec_id, embedding, ccell, fcell FROM (
        SELECT a.vec_id, a.embedding, a.ccell, f.fcell,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_cos_sql("a.embedding", "f.fv")} DESC, f.fcell
               ) AS rn
        FROM a1 a JOIN seeds_f f ON a.ccell = f.ccell
      ) WHERE rn = 1
    )"""


def _x63_oracle() -> str:
    return f"""
    WITH {_hier_sql()},
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM hasg a JOIN hasg b
        ON a.ccell = b.ccell AND a.fcell = b.fcell AND a.vec_id < b.vec_id
      WHERE {_cos_sql("a.embedding", "b.embedding")} >= {NEARDUP_T}
    )
    SELECT g.vec_id, g.ccell, g.fcell, (d.vec_id IS NULL) AS kept
    FROM hasg g LEFT JOIN dropped d ON g.vec_id = d.vec_id
    """


@query("x63_semdedup_hier", oracle=_x63_oracle())
def x63_semdedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical SemDeDup — the DEFAULT semantic-dedup path.

    (x62 is the flat differential twin; it hits a measured O(n^2/cell)
    assignment wall at 100x and is superseded at scale by this entry.)

    Same drop rule as x62 (cosine >= NEARDUP_T to any lower-id
    cellmate, kept or not), but cells come from a TWO-LEVEL quantizer:
    nearest of N_COARSE coarse seeds, then nearest of N_FINE fine
    seeds within that coarse cell. Assignment cost is
    n x (N_COARSE + N_FINE) cosines versus flat IVF's n x k — at the
    SCALE.md 100x point (k=800) that is 57 vs 800 per vector, turning
    the measured O(n^2/cell_target) wall back into O(n sqrt(k)).

    Scale (100 TB): both seed frames are broadcast (bounded by
    N_COARSE and N_FINE, which grow as sqrt(k)); the dedup scan
    shuffles once on the (ccell, fcell) pair key and reuses that
    exchange on both join sides, exactly like x62's single-key
    variant. Fully oracle-checked end to end — seeds, tie-breaks and
    cosines are engine-portable.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _hier_assign(emb)
    # Same norm hoist as the flat-IVF form above — bit-identical.
    a = assigned.select(
        "ccell", "fcell", F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    b = assigned.select(
        "ccell", "fcell", F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    dropped = (
        a.join(b, ["ccell", "fcell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
            >= F.lit(NEARDUP_T)
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "ccell",
            "fcell",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# X65 product quantization + asymmetric distance (IVF-PQ's storage half)
# ---------------------------------------------------------------------------

PQ_M = 8      #: subspaces (64 dims -> 8 x 8)
PQ_SUB = 8    #: dims per subspace
PQ_K = 16     #: codes per subspace codebook
PQ_NQ = 3     #: query batch: vec_id < 3
PQ_TOPK = 5


def _l2sq_sql(a: str, b: str) -> str:
    """Portable squared-L2 over two 8-dim list exprs: sequential left
    fold of squared diffs (x*x, never pow) — bit-identical on both
    engines (0.0-init vs first-element-init agree because 0.0+x == x)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _l2sq_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {PQ_SUB} + 1), i -> "
        f"(CAST(({a})[i] AS DOUBLE) - CAST(({b})[i] AS DOUBLE)) * "
        f"(CAST(({a})[i] AS DOUBLE) - CAST(({b})[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _x65_oracle() -> str:
    """DuckDB twin of x65, generated from the same PQ_* constants —
    codebook build, encode (argmin with lowest-code tie-break), query
    LUT, ADC accumulation in fixed m-order, and the per-query top-k."""
    return f"""
    WITH cb AS (
      SELECT t.m, vec_id AS k,
             list_slice(embedding, t.m * {PQ_SUB} + 1,
                        t.m * {PQ_SUB} + {PQ_SUB}) AS cbv
      FROM embeddings, range({PQ_M}) t(m)
      WHERE vec_id < {PQ_K}
    ), cbm AS (
      SELECT m, list(cbv ORDER BY k) AS cbs FROM cb GROUP BY m
    ), dbv AS (
      SELECT vec_id, t.m,
             list_slice(embedding, t.m * {PQ_SUB} + 1,
                        t.m * {PQ_SUB} + {PQ_SUB}) AS sv
      FROM embeddings, range({PQ_M}) t(m)
      WHERE vec_id >= {PQ_K}
    ), enc AS (
      SELECT vec_id, m,
             CAST(list_position(dists, list_min(dists)) - 1 AS BIGINT)
               AS code
      FROM (
        SELECT d.vec_id, d.m,
               list_transform(c.cbs, cv -> {_l2sq_duck("d.sv", "cv")})
                 AS dists
        FROM dbv d JOIN cbm c USING (m)
      )
    ), qlut AS (
      SELECT q.vec_id AS qid, c.m,
             list_transform(c.cbs, cv ->
               {_l2sq_duck(
                   "list_slice(q.embedding, c.m * %d + 1, c.m * %d + %d)"
                   % (PQ_SUB, PQ_SUB, PQ_SUB), "cv")}) AS d2s
      FROM embeddings q CROSS JOIN cbm c
      WHERE q.vec_id < {PQ_NQ}
    ), adc AS (
      SELECT qid, vec_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE), list(d2 ORDER BY m)),
               (acc, v) -> acc + v) AS dist
      FROM (
        SELECT l.qid, e.vec_id, e.m, l.d2s[e.code + 1] AS d2
        FROM enc e JOIN qlut l USING (m)
      )
      GROUP BY qid, vec_id
    )
    SELECT qid, vec_id, rnk, {floor_round_sql("dist", 6)} AS adc_dist
    FROM (
      SELECT qid, vec_id, dist,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY dist, vec_id) AS INTEGER) AS rnk
      FROM adc
    )
    WHERE rnk <= {PQ_TOPK}
    ORDER BY qid, rnk
    """


@query("x65_pq_adc_topk", oracle=_x65_oracle())
def x65_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k — IVF-PQ's storage/search half.

    PQ is how billion-vector ANN indexes actually store vectors at
    100 TB: each 64-dim float vector (256 B) becomes {PQ_M} 4-bit codes
    (4 B here, 64x smaller), and query-time distance is the sum of
    {PQ_M} table lookups (ADC, Jegou et al. 2011) — no float vector is
    ever touched after encoding. Composes with x27's IVF cells (coarse
    quantizer -> per-cell PQ scan) for the full IVF-PQ design.

    Scale shape: the codebook ({PQ_M} x {PQ_K} subvectors — CONSTANT
    size regardless of corpus) broadcasts; encoding is a narrow map
    (argmin over the broadcast codebook per subspace, lowest-code tie-
    break); the per-query LUT ({PQ_NQ} x {PQ_M} x {PQ_K} distances) also
    broadcasts; ADC accumulates per (query, vector) in fixed m-order —
    a deterministic fold, partial-aggregation-friendly, one shuffle.
    Codebooks are seed vectors (vec_id < {PQ_K} per subspace) — the
    Lloyd-refinement pattern that would train them at quality is
    demonstrated in ``_ivf_centroids``; arithmetic, not quality, is
    what the oracle pins here.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sub = (
        f"transform(sequence(0, {PQ_M - 1}), "
        f"m -> slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB}))"
    )
    # codebook: (m, cbs = [16 subvectors ordered by seed id])
    cbm = (
        emb.filter(F.col("vec_id") < PQ_K)
        .selectExpr("vec_id AS k", f"posexplode({sub}) AS (m, cbv)")
        .groupBy("m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("k", "cbv"))),
                lambda s: s["cbv"],
            ).alias("cbs")
        )
    )
    # encode: narrow map against the broadcast codebook
    enc = (
        emb.filter(F.col("vec_id") >= PQ_K)
        .selectExpr("vec_id", f"posexplode({sub}) AS (m, sv)")
        .join(F.broadcast(cbm), "m")
        .selectExpr(
            "vec_id",
            "m",
            f"transform(cbs, cv -> {_l2sq_sql('sv', 'cv')}) AS dists",
        )
        .selectExpr(
            "vec_id",
            "m",
            "CAST(array_position(dists, array_min(dists)) - 1 AS BIGINT)"
            " AS code",
        )
    )
    # per-query distance lookup tables (constant size -> broadcast)
    qlut = (
        emb.filter(F.col("vec_id") < PQ_NQ)
        .selectExpr("vec_id AS qid", f"posexplode({sub}) AS (m, qsv)")
        .join(F.broadcast(cbm), "m")
        .selectExpr(
            "qid", "m",
            f"transform(cbs, cv -> {_l2sq_sql('qsv', 'cv')}) AS d2s",
        )
    )
    adc = (
        enc.join(F.broadcast(qlut), "m")
        .selectExpr("qid", "vec_id", "m", "d2s[CAST(code AS INT)] AS d2")
        .groupBy("qid", "vec_id")
        .agg(
            # fixed m-order fold => bit-identical to the oracle's
            # ORDER BY m reduce (parallel sum() would be order-unstable)
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "d2"))),
                    lambda s: s["d2"],
                ),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            ).alias("dist")
        )
    )
    w = W.partitionBy("qid").orderBy("dist", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select(
            "qid", "vec_id", "rnk", floor_round(F.col("dist"), 6).alias("adc_dist")
        )
        .orderBy("qid", "rnk")
    )


# --- x69: PageRank over the k-NN graph (iterative, unrolled oracle) ----

PR_ITERS = 3  # power-iteration rounds (unrolled in the oracle)
PR_DAMP = 0.85  # standard damping factor


def _x69_oracle() -> str:
    """x69's DuckDB twin: the SAME generated band-key/knn construction
    as x44's oracle (shared generators, never hand-copied) with the
    PR_ITERS power iterations UNROLLED as chained CTEs — an iterative
    algorithm with a full value-hash oracle. All literals are cast to
    DOUBLE (DuckDB parses 1.0 as DECIMAL; Spark uses double) so the
    arithmetic is IEEE-identical on both engines."""
    knn = f"""
    {_capped_pairs_sql(keep_self=True)}, knn AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (
                 PARTITION BY src
                 ORDER BY {_cos_sql("ea", "eb")} DESC, dst
               ) AS rnk
        FROM pairs
      ) WHERE rnk <= {KNN_K}
    ), outd AS (
      SELECT src, count(*) AS od FROM knn GROUP BY src
    ), nodes AS (SELECT vec_id AS v FROM embeddings),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (
      SELECT v, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn
    )"""
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
    r{k} AS (
      SELECT nodes.v,
             CAST({1 - PR_DAMP} AS DOUBLE) / nn.n
               + CAST({PR_DAMP} AS DOUBLE) * coalesce(m.inflow, 0) AS r
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS v, SUM(p.r / o.od) AS inflow
        FROM knn e JOIN r{k - 1} p ON e.src = p.v
        JOIN outd o ON e.src = o.src
        GROUP BY e.dst
      ) m ON m.v = nodes.v
    )""")
    return f"""
    WITH {_band_keys_sql()},{knn},{",".join(iters)}
    SELECT v AS vec_id, {floor_round_sql("r", 6)} AS pagerank
    FROM r{PR_ITERS}
    ORDER BY pagerank DESC, vec_id
    LIMIT 10
    """


@query("x69_knn_pagerank", oracle=_x69_oracle())
def x69_knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the x44 k-NN graph: the top-10 most
    central vectors in the embedding manifold.

    The graph-analytics member of the similarity family: x44's kNN
    edges (banded candidates, exact cosine rerank, top-{KNN_K} per
    vector) power-iterated {PR_ITERS} rounds with damping {PR_DAMP} —
    the representativeness/diversity score used to pick exemplar
    documents for curriculum or coreset selection. Simplified variant
    without dangling-mass redistribution (a vector with no banded
    candidates contributes nothing) — both engines compute the
    identical rule, and the oracle UNROLLS the iterations as chained
    CTEs, so even this iterative algorithm carries a full value-hash
    oracle (unlike x29/x67, whose iteration counts are data-dependent).

    Scale shape: the edge frame is built once and persisted (~{KNN_K}
    rows/vector); each iteration is one dst-keyed partial-aggregable
    shuffle of rank contributions plus a broadcast of the single-row
    node count — the canonical distributed PageRank, linear per round.
    At 100 TB you would checkpoint ranks every ~10 rounds; at
    {PR_ITERS} rounds lineage is fine.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    edges = (
        x44_knn_graph(spark, sf_dir).select("src", "dst").persist()
    )
    outd = edges.groupBy("src").agg(F.count("*").alias("od"))
    e = (
        edges.join(outd, "src")
        .select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"), "od")
        .persist()
    )
    nodes = emb.select(F.col("vec_id").alias("v"))
    nn = nodes.agg(F.count("*").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "v", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(PR_ITERS):
        inflow = (
            e.join(ranks, e["e_src"] == ranks["v"])
            .select(
                F.col("e_dst").alias("iv"),
                (F.col("r") / F.col("od")).alias("c"),
            )
            .groupBy("iv")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(inflow, F.col("v") == F.col("iv"), "left")
            .select(
                "v",
                (
                    F.lit(1 - PR_DAMP) / F.col("n")
                    + F.lit(PR_DAMP) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("r"),
            )
        )
    out = (
        ranks.select("v", floor_round(F.col("r"), 6).alias("pagerank"))
        .select(F.col("v").alias("vec_id"), "pagerank")
        .orderBy(F.col("pagerank").desc(), "vec_id")
        .limit(10)
    )
    # r14 hygiene: the two persisted frames (raw kNN edges + the
    # outdegree-joined edge frame the iterations replay) were never
    # released — tie them to the result like every other operator so
    # long sessions don't accumulate dead blocks.
    return unpersist_with(unpersist_with(out, e), edges)


# --- x70: Lloyd's k-means, multi-round, unrolled-iteration oracle ----

LLOYD_ITERS = 3  # refinement rounds (unrolled in the oracle)


def _lloyd_oracle() -> str:
    """x70's DuckDB twin: x27's seed/assign/quantized-remean fragments
    (same generators and constants) repeated LLOYD_ITERS times as
    chained CTEs. The QSCALE quantized mean makes every round's
    centroids BIT-identical across engines (integer sums, one double
    division), so assignments — and therefore the whole iteration
    chain — never diverge and the output needs no rounding."""
    k = LLOYD_ITERS
    return f"""
    WITH {_lloyd_ctes()},
    sizes AS (
      SELECT cell, CAST(count(*) AS BIGINT) AS n_members
      FROM a{k} GROUP BY cell
    )
    SELECT m.cell, CAST(m.pos AS INTEGER) AS pos, m.c AS centroid_val,
           s.n_members
    FROM m{k} m JOIN sizes s USING (cell)
    ORDER BY m.cell, pos
    """


def _lloyd_ctes() -> str:
    """Shared WITH-body for the Lloyd chain: ``c0 → (a{k}, pd{k},
    m{k}, c{k}) × LLOYD_ITERS`` — consumed by x70 (codebook output)
    and x72 (per-cell exemplar output)."""
    blocks = [
        f"""c0 AS (
      SELECT vec_id AS cell, embedding AS cv
      FROM embeddings WHERE vec_id < {N_CELLS}
    )"""
    ]
    for k in range(1, LLOYD_ITERS + 1):
        cos = _cos_sql("e.embedding", "c.cv")
        blocks.append(
            f"""a{k} AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos} DESC, c.cell) AS rn
        FROM embeddings e CROSS JOIN c{k - 1} c
      ) WHERE rn = 1
    ), pd{k} AS (
      SELECT a{k}.cell,
             unnest(range(0, len(e.embedding))) AS pos,
             unnest(list_transform(e.embedding,
                    v -> CAST(floor(CAST(v AS DOUBLE) * {QSCALE}) AS BIGINT)))
               AS q
      FROM embeddings e JOIN a{k} USING (vec_id)
    ), m{k} AS (
      SELECT cell, pos,
             (CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / {QSCALE}
               AS c
      FROM pd{k} GROUP BY cell, pos
    ), c{k} AS (
      SELECT cell, list(c ORDER BY pos) AS cv FROM m{k} GROUP BY cell
    )"""
        )
    return ", ".join(blocks)


def _quantized_mean():
    return (
        (
            F.sum(
                F.floor(F.col("v").cast("double") * QSCALE).cast("long")
            ).cast("double")
            / F.count("*").cast("double")
        )
        / QSCALE
    ).alias("m")


@query("x70_kmeans_lloyd", oracle=_lloyd_oracle())
def x70_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings: LLOYD_ITERS assign/remean
    rounds from deterministic seeds; output the final codebook
    (cell, pos, centroid_val) with each cell's final member count.

    The distributed ML-training-step showpiece: x27's codebook is
    seeds + ONE refinement; this runs the full iterative loop. Each
    round broadcasts the tiny codebook, assigns every vector to its
    nearest centroid (per-vector window, lowest-cell tie-break), and
    re-averages per (cell, pos) with the QSCALE quantized mean —
    order-independent integer sums, so centroids are BIT-identical to
    the oracle's and the rounds can never drift apart. Like x69 the
    iteration count is fixed, so the oracle simply unrolls it as
    chained CTEs — full value-hash coverage for an iterative
    algorithm, no rounding anywhere.

    Scale shape: per round, one corpus-wide broadcast-join +
    per-vector window (no shuffle of embeddings beyond the vec_id
    window) and one (cell, pos)-keyed map-side-combinable shuffle of
    quantized partial sums — the canonical distributed Lloyd step. At
    100 TB checkpoint the assignment every few rounds to truncate
    lineage; N_CELLS scales as n / target_cell_size (x62's codebook
    discipline).
    """
    per_dim, assigned, _ = _lloyd_loop(
        load_table(spark, sf_dir, "embeddings")
    )
    sizes = assigned.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    return (
        per_dim.join(sizes, "cell")
        .select(
            "cell",
            F.col("pos").cast("int").alias("pos"),
            F.col("m").alias("centroid_val"),
            "n_members",
        )
        .orderBy("cell", "pos")
    )


def _lloyd_loop(emb: DataFrame):
    """LLOYD_ITERS assign/remean rounds from the deterministic seeds.

    Returns ``(per_dim, assigned, cents)`` for the FINAL round:
    per-dimension quantized means, the (vec_id, embedding, cell)
    assignment, and the rebuilt codebook — the Spark twin of
    ``_lloyd_ctes``'s ``m{K} / a{K} / c{K}``."""
    cents = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cv")
    )
    assigned = None
    per_dim = None
    for _ in range(LLOYD_ITERS):
        assigned = _assign_cells(emb, cents)
        per_dim = (
            assigned.select(
                "cell", F.posexplode("embedding").alias("pos", "v")
            )
            .groupBy("cell", "pos")
            .agg(_quantized_mean())
        )
        cents = per_dim.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.m,
            ).alias("cv")
        )
    return per_dim, assigned, cents


@query(
    "x72_cell_exemplars",
    oracle=f"""
    WITH {{ctes}},
    scored AS (
      SELECT a.cell, a.vec_id,
             {{cos}} AS sim,
             row_number() OVER (
               PARTITION BY a.cell
               ORDER BY {{cos}} DESC, a.vec_id) AS rn
      FROM a{LLOYD_ITERS} a
      JOIN embeddings e USING (vec_id)
      JOIN c{LLOYD_ITERS} c ON a.cell = c.cell
    )
    SELECT cell, vec_id AS exemplar_id, sim
    FROM scored WHERE rn = 1
    ORDER BY cell
    """.replace("{ctes}", _lloyd_ctes()).replace(
        "{cos}", _cos_sql("e.embedding", "c.cv")
    ),
)
def x72_cell_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset exemplars: the most-central member of every k-means
    cell — one representative vector per region of the embedding
    manifold (k-center-style coreset selection for curriculum seeds or
    few-shot pools).

    Composes the x70 Lloyd chain: after the final round, each cell's
    members are scored by cosine against the cell's (bit-identical,
    QSCALE-quantized) centroid and the argmax wins, lowest vec_id on
    ties. Cosines are double left-folds on both engines, so the sim
    column hashes exactly with no rounding — the full oracle extends
    x70's unrolled CTEs by one window.

    Scale shape: everything x70 pays, plus one broadcast of the tiny
    codebook and a per-cell window over the final assignment (cell-
    keyed shuffle of (vec_id, sim) pairs — vectors themselves stay
    put). N_CELLS exemplars out, whatever the corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    _, assigned, cents = _lloyd_loop(emb)
    scored = (
        assigned.join(F.broadcast(cents), "cell")
        .withColumn(
            "sim", cosine_similarity(F.col("embedding"), F.col("cv"))
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("cell").orderBy(F.col("sim").desc(), "vec_id")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return scored.select(
        "cell", F.col("vec_id").alias("exemplar_id"), "sim"
    ).orderBy("cell")


# ---------------------------------------------------------------------------
# x75: hard-negative mining — triplet construction for contrastive
# embedding training (anchor, hardest positive, hardest negative). The
# standard retrieval-training data op (e.g. DPR/SimCSE pipelines):
# negatives that are NEAR the anchor but differently labeled teach the
# margin; easy random negatives teach nothing.
# ---------------------------------------------------------------------------

#: Anchors for the registered entry: the first N_ANCHOR vectors (small,
#: broadcastable side — the corpus side stays unreduced).
N_ANCHOR = 20


def _x75_oracle() -> str:
    cos = _cos_sql("a.ed", "c.ed")
    return f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS ed
      FROM embeddings
    ), a AS (SELECT * FROM e WHERE vec_id < {N_ANCHOR}),
    s AS (
      SELECT a.vec_id AS anchor_id, a.label AS al,
             c.vec_id AS cid, c.label AS cl, {cos} AS sim
      FROM a JOIN e c ON c.vec_id <> a.vec_id
    ), pos AS (
      SELECT anchor_id, cid, sim,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY sim DESC, cid) AS rn
      FROM s WHERE cl = al
    ), neg AS (
      SELECT anchor_id, cid, sim,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY sim DESC, cid) AS rn
      FROM s WHERE cl <> al
    )
    SELECT p.anchor_id, p.cid AS pos_id,
           {floor_round_sql("p.sim", 6)} AS pos_sim,
           n.cid AS neg_id, {floor_round_sql("n.sim", 6)} AS neg_sim,
           {floor_round_sql("p.sim - n.sim", 6)} AS margin
    FROM pos p JOIN neg n USING (anchor_id)
    WHERE p.rn = 1 AND n.rn = 1
    ORDER BY p.anchor_id
    """


@query("x75_hard_negatives", oracle=_x75_oracle())
def x75_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-anchor hardest positive + hardest negative (triplet mining).

    For each anchor (vec_id < N_ANCHOR): the highest-cosine SAME-label
    neighbor (the hardest positive — furthest in-class member by the
    mirror argument) and the highest-cosine OTHER-label neighbor (the
    hardest negative); ``margin = pos_sim - neg_sim`` is the triplet's
    difficulty. Ranking uses the raw fold-exact cosine (bit-identical
    across engines — functions/vectors.py discipline), ties broken by
    vec_id; only the OUTPUT sims are rounded.

    Both argmaxes come from ONE pass over the scored pairs: min(struct)
    aggregates (map-side combinable) over the same cross product, not
    two window sorts. The anchor side is the broadcast (N_ANCHOR rows);
    the corpus side streams through narrowly.

    Scale (100 TB): anchors-broadcast x corpus scan is O(|A| * n)
    cosines — the exact-mining shape, linear in the corpus for a
    bounded anchor batch (training loops mine in such batches). For
    corpus-scale anchor sets, prune candidates with x6's band keys or
    x27's IVF cells first and mine within buckets; this entry is the
    exactness anchor those approximations are measured against.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < N_ANCHOR).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("al"),
        F.col("embedding").alias("av"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "al",
            "label",
            "vec_id",
            cosine_similarity(F.col("embedding"), F.col("av")).alias("sim"),
        )
    )
    # argmax as min(struct(-sim, id)): partial-aggregable, one shuffle.
    # NULL-safe sort key: an undefined cosine (zero vector) must rank
    # LAST like the oracle's ORDER BY sim DESC (NULLS LAST), but a NULL
    # struct field sorts FIRST under min() — coalesce to +inf instead
    # (found by tests/test_fuzz_differential.py's zero-vector probe).
    def best(cond):
        return F.min(
            F.when(
                cond,
                F.struct(
                    F.coalesce(-F.col("sim"), F.lit(float("inf"))).alias(
                        "neg"
                    ),
                    F.col("vec_id").alias("id"),
                    F.col("sim").alias("sim"),
                ),
            )
        )

    agg = scored.groupBy("anchor_id").agg(
        best(F.col("label") == F.col("al")).alias("p"),
        best(F.col("label") != F.col("al")).alias("n"),
    )
    # Triplet semantics: an anchor with no same-label or no other-label
    # candidate yields NO triplet (matches the oracle's inner joins) —
    # found by tests/test_fuzz_differential.py on a 2-vector corpus.
    agg = agg.filter(F.col("p").isNotNull() & F.col("n").isNotNull())
    return agg.select(
        "anchor_id",
        F.col("p.id").alias("pos_id"),
        floor_round(F.col("p.sim"), 6).alias("pos_sim"),
        F.col("n.id").alias("neg_id"),
        floor_round(F.col("n.sim"), 6).alias("neg_sim"),
        floor_round(F.col("p.sim") - F.col("n.sim"), 6).alias("margin"),
    ).orderBy("anchor_id")


# ---------------------------------------------------------------------------
# x84: dimension-truncation recall — does a 16-dim prefix of the
# embedding preserve the 64-dim neighbor structure? The measurement
# behind matryoshka-style storage tiering: serve ANN from a short
# prefix (4x less memory/bandwidth), re-rank survivors at full width.
# ---------------------------------------------------------------------------

TRUNC_DIMS = 16
TRUNC_K = 10
TRUNC_QUERIES = 10  # vec_id < this are the probe queries


def _x84_oracle() -> str:
    full_cos = _cos_sql("q.ed", "c.ed")
    trunc_cos = _cos_sql("q.td", "c.td")
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS ed,
             list_transform(embedding[1:{TRUNC_DIMS}],
                            v -> CAST(v AS DOUBLE)) AS td
      FROM embeddings
    ), q AS (SELECT * FROM e WHERE vec_id < {TRUNC_QUERIES}),
    full_rank AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {full_cos} DESC, c.vec_id) AS rn
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ), trunc_rank AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {trunc_cos} DESC, c.vec_id) AS rn
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    )
    SELECT f.qid AS query_id,
           CAST(count(t.cid) AS BIGINT) AS n_overlap,
           floor(CAST(count(t.cid) AS DOUBLE) / {float(TRUNC_K)!r}
                 * 1000000.0 + 0.5) / 1000000.0 AS recall
    FROM full_rank f
    LEFT JOIN trunc_rank t
      ON t.qid = f.qid AND t.cid = f.cid AND t.rn <= {TRUNC_K}
    WHERE f.rn <= {TRUNC_K}
    GROUP BY f.qid ORDER BY f.qid
    """


@query("x84_truncation_recall", oracle=_x84_oracle())
def x84_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of prefix-truncated cosine against full-width cosine.

    For each probe query (vec_id < TRUNC_QUERIES): rank the corpus by
    64-dim cosine and by 16-dim-prefix cosine, and count how many of
    the full-width top-10 survive in the truncated top-10. Per-query
    ``recall`` near 1.0 licenses serving the short prefix from memory
    and re-ranking at full width — the standard two-tier ANN layout.
    Ranking uses raw fold-exact cosines (ties by vec_id); only the
    recall ratio is rounded.

    Scale (100 TB): both rankings share ONE corpus scan with the probe
    side broadcast (TRUNC_QUERIES rows); per (query, candidate) row the
    two cosines differ only in fold length, so the scan is
    O(|Q| * n * d) — the same cost class as x5, twice. The per-query
    top-k is a partial-aggregable window at |Q| keys. At production
    scale the full-width ranking would come from x27's IVF path and
    the truncated one from the prefix — this entry is the exactness
    anchor measuring what the truncation alone loses.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < TRUNC_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_similarity(F.col("embedding"), F.col("qv")).alias("fc"),
            cosine_similarity(
                F.slice(F.col("embedding"), 1, TRUNC_DIMS),
                F.slice(F.col("qv"), 1, TRUNC_DIMS),
            ).alias("tc"),
        )
    )
    fw = W.partitionBy("qid").orderBy(F.col("fc").desc(), "vec_id")
    tw = W.partitionBy("qid").orderBy(F.col("tc").desc(), "vec_id")
    ranked = scored.select(
        "qid",
        "vec_id",
        F.row_number().over(fw).alias("frn"),
        F.row_number().over(tw).alias("trn"),
    )
    return (
        ranked.filter(F.col("frn") <= TRUNC_K)
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.sum(F.when(F.col("trn") <= TRUNC_K, 1).otherwise(0))
            .cast("bigint")
            .alias("n_overlap"),
            (
                F.floor(
                    F.sum(F.when(F.col("trn") <= TRUNC_K, 1).otherwise(0))
                    .cast("double")
                    / F.lit(float(TRUNC_K))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# x87: ANN recall evaluation — x74's pattern applied to vectors: how
# much of the EXACT cosine top-10 does the banded-LSH candidate set
# (x6's construction) retain, per probe query? The measurement that
# tunes (N_BANDS, BAND_BITS) on a new embedding distribution before
# trusting the ANN path in production.
# ---------------------------------------------------------------------------

ANN_EVAL_QUERIES = 10
ANN_EVAL_K = 10


def _x87_oracle() -> str:
    cos = _cos_sql("q.ed", "c.ed")
    return f"""
    WITH {_band_keys_sql()},
    e AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS ed
      FROM embeddings
    ), q AS (SELECT * FROM e WHERE vec_id < {ANN_EVAL_QUERIES}),
    exact AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {cos} DESC, c.vec_id) AS rn
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ), qb AS (
      SELECT vec_id AS qid, band, bkey FROM bk
      WHERE vec_id < {ANN_EVAL_QUERIES}
    ), cand AS (
      SELECT DISTINCT qb.qid, b.vec_id AS cid
      FROM bk b JOIN qb ON b.band = qb.band AND b.bkey = qb.bkey
      WHERE b.vec_id <> qb.qid
    ), ann AS (
      SELECT cand.qid, cand.cid,
             row_number() OVER (PARTITION BY cand.qid
                                ORDER BY {cos} DESC, c.vec_id) AS rn
      FROM cand
      JOIN q ON q.vec_id = cand.qid
      JOIN e c ON c.vec_id = cand.cid
    )
    SELECT x.qid AS query_id,
           CAST(count(a.cid) AS BIGINT) AS n_overlap,
           floor(CAST(count(a.cid) AS DOUBLE) / {float(ANN_EVAL_K)!r}
                 * 1000000.0 + 0.5) / 1000000.0 AS recall
    FROM exact x
    LEFT JOIN ann a
      ON a.qid = x.qid AND a.cid = x.cid AND a.rn <= {ANN_EVAL_K}
    WHERE x.rn <= {ANN_EVAL_K}
    GROUP BY x.qid ORDER BY x.qid
    """


@query("x87_ann_recall_eval", oracle=_x87_oracle())
def x87_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the banded-LSH candidate ranking vs exact cosine.

    For each probe (vec_id < ANN_EVAL_QUERIES): the exact top-10 by
    full-corpus cosine, and the top-10 AMONG x6-style band-collision
    candidates only; ``recall`` is their overlap over k. Recall < 1
    decomposes the ANN error into the banding miss (the neighbor never
    collided) — which (N_BANDS, BAND_BITS) tunes — as distinct from
    x84's truncation loss. Raw fold-exact cosines rank; only the
    recall ratio is rounded.

    Scale (100 TB): the exact side is the audit (O(|Q| * n) — run on a
    probe sample, like x74's truth side); the candidate side is the
    production shape — the probes' band keys broadcast against the
    banded corpus, so the scan is the colliding fraction only. Both
    rankings are |Q|-key partial windows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < ANN_EVAL_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_similarity(F.col("embedding"), F.col("qv")).alias("sim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
            ),
        )
        .filter(F.col("rn") <= ANN_EVAL_K)
        .select("qid", "vec_id")
    )
    banded = emb.select(
        "vec_id",
        "embedding",
        F.explode(_band_keys(F.col("embedding"))).alias("bk"),
    ).select("vec_id", "embedding", F.col("bk.band"), F.col("bk.bkey"))
    qb = banded.filter(F.col("vec_id") < ANN_EVAL_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        "band",
        "bkey",
    )
    ann = (
        banded.join(F.broadcast(qb), ["band", "bkey"])
        .filter(F.col("vec_id") != F.col("qid"))
        .dropDuplicates(["qid", "vec_id"])
        .select(
            "qid",
            "vec_id",
            cosine_similarity(F.col("embedding"), F.col("qv")).alias("sim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
            ),
        )
        .filter(F.col("rn") <= ANN_EVAL_K)
        .select("qid", F.col("vec_id").alias("cid"))
    )
    hit = F.when(F.col("cid").isNotNull(), 1).otherwise(0)
    return (
        exact.join(
            ann,
            (exact.qid == ann.qid) & (exact.vec_id == ann.cid),
            "left",
        )
        .select(exact.qid.alias("query_id"), ann.cid)
        .groupBy("query_id")
        .agg(
            F.sum(hit).cast("bigint").alias("n_overlap"),
            (
                F.floor(
                    F.sum(hit).cast("double")
                    / F.lit(float(ANN_EVAL_K))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# x105: embedding distribution drift — compare the mean vector of two
# corpus slices (vec_id parity stands in for baseline/current snapshot;
# a deployment keys the split on ingest batch). x73 monitors TOKEN
# drift; this is the embedding-space counterpart guarding retrieval and
# dedup quality after a model or crawl change. Engine-exactness: per-
# dim means use the QSCALE integer-sum trick (order-independent), the
# cross-dim folds run over dim-SORTED arrays (identical IEEE order in
# both engines — the x5 cosine discipline).
# ---------------------------------------------------------------------------


@query(
    "x105_embedding_drift",
    oracle=f"""
    WITH q AS (
      SELECT vec_id % 2 AS h, d.i AS dim,
             CAST(floor(CAST(embedding[d.i] AS DOUBLE) * {QSCALE})
                  AS BIGINT) AS qv
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) d
    ), m AS (
      SELECT h, dim,
             floor(CAST(sum(qv) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / {QSCALE} * 1000000000.0 + 0.5) / 1000000000.0
               AS mean_v,
             count(*) AS cnt
      FROM q GROUP BY 1, 2
    ), v AS (
      SELECT h, list(mean_v ORDER BY dim) AS mv, min(cnt) AS n
      FROM m GROUP BY 1
    ), ab AS (
      SELECT a.mv AS ma, b.mv AS mb, a.n AS n_base, b.n AS n_cur
      FROM v a JOIN v b ON a.h = 0 AND b.h = 1
    )
    SELECT CAST(n_base AS BIGINT) AS n_base,
           CAST(n_cur AS BIGINT) AS n_cur,
           floor(({_cos_sql('ma', 'mb')}) * 1000000.0 + 0.5) / 1000000.0
             AS mean_cosine,
           floor(sqrt(list_reduce(
               list_transform(range(1, len(ma) + 1),
                              i -> (ma[i] - mb[i]) * (ma[i] - mb[i])),
               (acc, x) -> acc + x)) * 1000000.0 + 0.5) / 1000000.0
             AS mean_l2,
           floor(list_reduce(
               list_transform(range(1, len(ma) + 1),
                              i -> abs(ma[i] - mb[i])),
               (acc, x) -> greatest(acc, x)) * 1000000.0 + 0.5) / 1000000.0
             AS max_dim_shift
    FROM ab
    """,
)
def x105_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-vector drift between two embedding slices, hash-exact.

    Per-dim means over integer-quantized components (exact under any
    accumulation order), assembled into dim-sorted arrays; cosine, L2
    and max per-dim shift between the two mean vectors are then
    fixed-order left folds. mean_cosine near 1 and small max_dim_shift
    = distributions agree; a drop signals re-embedding or crawl drift
    before it degrades ANN recall (x87 measures the symptom, x105 the
    cause).

    Scale (100 TB): one (slice, dim)-keyed combinable integer-sum
    shuffle — 64 x 2 cells regardless of corpus size — then O(dims)
    driver-free arithmetic on two 1-row frames. The cheapest possible
    full-corpus monitor.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        (F.col("vec_id") % 2).alias("h"),
        F.posexplode("embedding").alias("dim0", "v"),
    ).select(
        "h",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * QSCALE)
        .cast("bigint")
        .alias("qv"),
    )
    m = q.groupBy("h", "dim").agg(
        (
            F.floor(
                F.sum("qv").cast("double")
                / F.count("*").cast("double")
                / QSCALE
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000000.0)
        ).alias("mean_v"),
        F.count("*").alias("cnt"),
    )
    v = m.groupBy("h").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "mean_v"))),
            lambda s: s["mean_v"],
        ).alias("mv"),
        F.min("cnt").alias("n"),
    )
    a = v.filter(F.col("h") == 0).select(
        F.col("mv").alias("ma"), F.col("n").alias("n_base")
    )
    b = v.filter(F.col("h") == 1).select(
        F.col("mv").alias("mb"), F.col("n").alias("n_cur")
    )
    ab = a.crossJoin(F.broadcast(b))
    diff = F.zip_with("ma", "mb", lambda x, y: x - y)
    l2 = F.sqrt(
        F.aggregate(
            diff, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    maxshift = F.aggregate(
        diff, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    fr6 = lambda c: (  # noqa: E731 — portable floor-round
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    return ab.select(
        F.col("n_base").cast("bigint").alias("n_base"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        fr6(cosine_similarity(F.col("ma"), F.col("mb"))).alias("mean_cosine"),
        fr6(l2).alias("mean_l2"),
        fr6(maxshift).alias("max_dim_shift"),
    )


# ---------------------------------------------------------------------------
# x106: ANN tuning curve — the band-width knob (SCALE.md) as an
# oracle-checked operator. For each band_bits setting, report the
# candidate-set size and recall@10 against the exact cosine top-10:
# the table a deployment reads to pick band_bits for its corpus size
# (recall falls as buckets narrow; candidates — the COST — fall
# ~2^-Δbits). Every sweep point is generated from the same
# deterministic weight sequence on both engines.
# ---------------------------------------------------------------------------

BB_SWEEP: tuple[int, ...] = (2, 3, 4)


def _x106_oracle() -> str:
    frags = ", ".join(
        _band_keys_sql(bb, cte=f"bk{bb}") for bb in BB_SWEEP
    )
    sels = []
    for bb in BB_SWEEP:
        sels.append(f"""
    cand{bb} AS (
      SELECT DISTINCT b.vec_id, b.embedding
      FROM bk{bb} b JOIN (SELECT band, bkey FROM bk{bb} WHERE vec_id = 0) q
        USING (band, bkey)
      WHERE b.vec_id <> 0
    ), ann{bb} AS (
      SELECT c.vec_id
      FROM cand{bb} c CROSS JOIN qv
      ORDER BY {_cos_sql("c.embedding", "qv.v")} DESC, c.vec_id
      LIMIT 10
    )""")
    picks = "\nUNION ALL\n".join(
        f"""SELECT {bb} AS band_bits,
           (SELECT CAST(count(*) AS BIGINT) FROM cand{bb}) AS n_candidates,
           {floor_round_sql(
               f"CAST((SELECT count(*) FROM ann{bb} JOIN exact"
               f" USING (vec_id)) AS DOUBLE) / 1e1", 6)} AS recall10"""
        for bb in BB_SWEEP
    )
    return f"""
    WITH {frags},
    qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
    exact AS (
      SELECT e.vec_id
      FROM embeddings e CROSS JOIN qv
      WHERE e.vec_id <> 0
      ORDER BY {_cos_sql("e.embedding", "qv.v")} DESC, e.vec_id
      LIMIT 10
    ),
    {", ".join(s.strip() for s in sels)}
    SELECT * FROM ({picks}) ORDER BY band_bits
    """


@query("x106_ann_tuning_curve", oracle=_x106_oracle())
def x106_ann_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 and candidate volume per band_bits sweep point.

    One row per setting in BB_SWEEP: candidates = vectors sharing any
    band key with the query (vec_id 0); recall@10 compares the banded
    top-10 against the exact cosine top-10. Everything is lazy
    DataFrame composition — counts are aggregates in the plan, not
    driver actions — and the exact top-10 is computed once and reused
    across sweep points.

    Scale (100 TB): each sweep point is x6's query-probe shape (the
    query side's ~N_BANDS keys broadcast against the banded corpus);
    the sweep multiplies cost by |BB_SWEEP| — run it on a sample, pick
    the knee, set band_bits for the full corpus. The curve's whole
    point is that the FULL-corpus run happens once, at the right
    setting.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("v")
    )
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            cosine_similarity(F.col("embedding"), F.col("v")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    rows = []
    for bb in BB_SWEEP:
        keys = emb.select(
            "vec_id",
            "embedding",
            F.explode(_band_keys(F.col("embedding"), bb)).alias("bk"),
        ).select("vec_id", "embedding", "bk.band", "bk.bkey")
        qk = (
            keys.filter(F.col("vec_id") == 0)
            .select("band", "bkey")
            .distinct()
        )
        cand = (
            keys.join(F.broadcast(qk), ["band", "bkey"])
            .filter(F.col("vec_id") != 0)
            .select("vec_id", "embedding")
            .distinct()
        )
        ann = (
            cand.crossJoin(F.broadcast(qv))
            .select(
                "vec_id",
                cosine_similarity(
                    F.col("embedding"), F.col("v")
                ).alias("sim"),
            )
            .orderBy(F.col("sim").desc(), "vec_id")
            .limit(10)
            .select("vec_id")
        )
        n_cand = cand.agg(
            F.count("*").cast("bigint").alias("n_candidates")
        )
        hits = ann.join(exact, "vec_id").agg(
            floor_round(
                F.count("*").cast("double") / F.lit(10.0), 6
            ).alias("recall10")
        )
        rows.append(
            n_cand.crossJoin(F.broadcast(hits)).select(
                F.lit(bb).alias("band_bits"), "n_candidates", "recall10"
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("band_bits")


# ---------------------------------------------------------------------------
# x112: embedding-norm hygiene audit. Degenerate vectors break cosine
# pipelines silently (zero vectors make NaN similarities; near-zero
# norms amplify noise; giant norms dominate IP-based ANN). One pass
# reports the norm distribution and the degenerate counts — the check
# that runs BEFORE x5/x27/x62 ever see the table. Norms are per-row
# fixed-order folds (exact); percentiles use the proven
# percentile()/quantile_cont pairing.
# ---------------------------------------------------------------------------

NORM_EPS = 1e-6


@query(
    "x112_norm_audit",
    oracle=f"""
    WITH n AS (
      SELECT vec_id,
             sqrt(list_reduce(list_transform(embedding,
                    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
                  (a, x) -> a + x)) AS nrm
      FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN nrm < {NORM_EPS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero,
           floor(min(nrm) * 1000000.0 + 0.5) / 1000000.0 AS min_norm,
           floor(quantile_cont(nrm, 0.5) * 1000000.0 + 0.5) / 1000000.0
             AS p50_norm,
           floor(quantile_cont(nrm, 0.9) * 1000000.0 + 0.5) / 1000000.0
             AS p90_norm,
           floor(max(nrm) * 1000000.0 + 0.5) / 1000000.0 AS max_norm
    FROM n
    """,
)
def x112_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution + zero-vector count over the embeddings.

    Scale (100 TB): the norm is a narrow per-row fold; the summary is
    one combinable aggregate plus a percentile (swap to
    approx_percentile at scale, per g9). Zero shuffle beyond the
    single aggregation."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda a, v: a + v.cast("double") * v.cast("double"),
        )
    )
    n = emb.select(nrm.alias("nrm"))
    fr6 = lambda c: (  # noqa: E731 — portable floor-round (ROUND splits
        # between engines on representation; min/max/percentile inputs
        # here are deterministic per-row folds, so floor-round closes it)
        F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    )
    return n.agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("nrm") < NORM_EPS, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
        fr6(F.min("nrm")).alias("min_norm"),
        fr6(F.expr("percentile(nrm, 0.5)")).alias("p50_norm"),
        fr6(F.expr("percentile(nrm, 0.9)")).alias("p90_norm"),
        fr6(F.max("nrm")).alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# x137 — k-NN graph triangle census / global clustering coefficient
# ---------------------------------------------------------------------------


def _census_sql_tail() -> str:
    """kNN-graph triangle-census CTE chain + final SELECT over a
    ``pairs(src, dst, ea, eb)`` CTE — the oracle twin of
    `_rerank_topk` → `_census`, shared by the banded
    x137/x137b and the IVF x142 so the census semantics are written
    once."""
    return f"""knn AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (
                 PARTITION BY src
                 ORDER BY {_cos_sql("ea", "eb")} DESC, dst
               ) AS rnk
        FROM pairs
      ) WHERE rnk <= {KNN_K}
    ), und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM knn
    ), deg AS (
      SELECT v, count(*) AS d
      FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
      GROUP BY v
    ), tri AS (
      SELECT count(*) AS n_tri
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
           CAST(n_tri AS BIGINT) AS n_triangles,
           CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT)
             AS n_triads,
           CAST((3 * n_tri * 1000000)
                // greatest((SELECT sum(d * (d - 1) // 2) FROM deg), 1)
                AS BIGINT) AS global_cc_ppm
    FROM tri
    """


def _x137_oracle() -> str:
    return f"""
    WITH {_band_keys_sql()},
    {_capped_pairs_sql(keep_self=True)}, {_census_sql_tail()}"""


#: Auto-sizing calibration for x137's banded candidate generation: the
#: corpus size at which the DEFAULT BAND_BITS is known-good (the sf0.1
#: fixture's 2,000 vectors — every registered-oracle scale is <= this).
#: Above it, bits grow as ceil(log2(n / N0)) so per-bucket candidate
#: volume stays ~constant: the stats-driven sizing that r7's 10x trial
#: had to apply OUT OF THE LOOP (a special case in the trial script,
#: after the fixed-width run died disk-full) now lives in the
#: operator — a default invocation self-sizes instead of disk-dying
#: (VERDICT r7 item 2).
AUTO_BAND_N0 = 2000


def _auto_band_bits(n_vecs: int) -> int:
    """BAND_BITS grown with corpus size: ceil(log2(n/N0)) extra bits
    keeps 2^bits buckets ~proportional to n, bounding the banded
    self-join's candidate pairs at O(n²/2^bits) ~ O(n · N0)."""
    import math

    return BAND_BITS + max(0, math.ceil(math.log2(max(n_vecs, 1) / AUTO_BAND_N0)))


def _parquet_rows(sf_dir: str, table: str) -> int:
    """Exact row count from parquet FOOTERS — a driver-side metadata
    read (no Spark job), i.e. the table statistic a warehouse catalog
    hands the planner. Registered callables must never materialize a
    DataFrame at plan-build time (tests/test_plans.py's lazy-build
    gate), and footer/schema reads are the sanctioned exception.
    Handles both single-file and directory-of-parts layouts."""
    import os

    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(p):
        return sum(
            pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(p).metadata.num_rows


def _sized_band_bits(sf_dir: str, op: str) -> int:
    """Read the corpus size (footer metadata), auto-size the band
    width, and warn (oracle void) when the size departs the default —
    shared by x137/x137b so the twins cannot drift apart on sizing
    policy.

    The footer read is a LOCAL-filesystem fast path (ADVICE r8): a
    remote sf_dir (hdfs://, s3://) or a layout this helper doesn't
    recognize must not turn a previously-working default invocation
    into a plan-build error — fall back to the calibrated default
    width with a warning."""
    import warnings

    try:
        n = _parquet_rows(sf_dir, "embeddings")
    except (OSError, ValueError) as e:  # FileNotFoundError is an OSError
        warnings.warn(
            f"{op} could not read parquet footers under {sf_dir!r} "
            f"({e}); falling back to the default BAND_BITS={BAND_BITS}.",
            stacklevel=3,
        )
        return BAND_BITS
    bits = _auto_band_bits(n)
    if bits != BAND_BITS:
        warnings.warn(
            f"{op} auto-sized band_bits to {bits} (corpus > "
            f"{AUTO_BAND_N0} vectors): the registered DuckDB oracle is "
            f"generated at BAND_BITS={BAND_BITS} and is VOID for this "
            "input — regenerate it at the same width before comparing.",
            stacklevel=3,
        )
    return bits


@query("x137_knn_clustering_coeff", oracle=_x137_oracle())
def x137_knn_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the k-NN graph.

    The manifold-quality diagnostic downstream of x44: real embedding
    neighborhoods are transitive (my neighbor's neighbor is often my
    neighbor), so a healthy corpus shows a high clustering coefficient,
    while a near-random or collapsed embedding space shows almost no
    triangles relative to open triads. global_cc = 3·triangles / open
    triads, reported in exact integer ppm. Inputs are x44's banded-LSH
    kNN edges made undirected ((least, greatest) DISTINCT), so the
    census is over the graph the dedup/diversity pipeline actually
    consumes.

    Triangle counting is the canonical edge-edge join (a<b<c node
    ordering counts each triangle exactly once): e1=(a,b) ⋈ e2=(b,c)
    ⋈ edge-exists(a,c). Every count is an exact integer, so the oracle
    is hash-exact (the HUGEINT triad sum is cast per the dtype gate).

    Scale (100 TB): the kNN graph has out-degree K, so |edges| ≈ K·n
    and the first join's fan-out is bounded by per-node degree. The
    production guard for hub nodes (a vector that appears in MANY
    others' top-K keeps unbounded IN-degree) is degree ordering —
    iterate each triangle from its lowest-degree vertex, the standard
    node-iterator++ bound of O(m^{3/2}) — x137b runs exactly that
    oriented form (``_census(..., oriented=True)``); at fixture scale
    this entry keeps the raw join as the honest oracle-mirrorable form.
    Shuffles: two keyed joins on node ids + one global count — all
    combinable.

    Band sizing is STATS-DRIVEN (VERDICT r7 item 2): the operator
    counts the corpus and applies ``_auto_band_bits`` — bits grow
    ceil(log2(n / {AUTO_BAND_N0})) above the calibration size, so the
    banded self-join's candidate volume stays ~O(n · N0) instead of
    O(n²/2^const); r7's fixed-width 10x trial died DISK-FULL before
    this sizing existed. At every fixture scale (<= {AUTO_BAND_N0}
    vectors) the auto size IS BAND_BITS, so the registered oracle
    pairing holds; when auto-sizing grows bits it warns that the
    oracle is void for that input.
    """
    bits = _sized_band_bits(sf_dir, "x137_knn_clustering_coeff")
    knn = _banded_knn_graph(spark, sf_dir, bits).select("src", "dst")
    return _census(knn, oriented=False)


@query("x137b_triangle_census_graph", oracle=_x137_oracle())
def x137b_triangle_census_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x137's census in its PRODUCTION posture: degree-ordered counting.

    Node-iterator++ ("forward") triangle counting with the same
    contract, oracle, graph and band sizing as x137 (pytest pins row
    equality); the one difference is ``_census``'s ``oriented``
    argument, the shape SCALE.md r7 prescribed: edges are ORIENTED from
    the lower-(degree, id) endpoint to the higher before the edge-edge
    join. Every triangle has exactly one source vertex under that
    total order, and each oriented out-neighborhood is bounded by
    O(sqrt(m)) on any graph — the standard O(m^(3/2)) triangle bound —
    so a degenerate hub (a vector in millions of top-K lists) caps the
    join fan-out at its LOW-degree neighbors instead of exploding
    quadratically in its own degree. x137's unoriented form pays deg²
    on such a hub.
    """
    bits = _sized_band_bits(sf_dir, "x137b_triangle_census_graph")
    knn = _banded_knn_graph(spark, sf_dir, bits).select("src", "dst")
    return _census(knn, oriented=True)


def _census(knn: DataFrame, oriented: bool) -> DataFrame:
    """The census row of a (src, dst) k-NN edge frame: x137's raw
    edge-edge triangle join (``oriented=False``), or x137b's and x142's
    degree-ordered one.

    The undirected edge list is built ONCE and ``persist()``ed before
    the census — the self-join branches read the cached edges instead
    of re-running the candidate generation + rank window per branch.
    (An earlier x137b ``localCheckpoint(eager=True)``'d here, which
    EXECUTED the full kNN job at plan-build time — violating the
    registry's lazy-build contract; ADVICE r8. Lineage depth here is
    fixed, so persist is sufficient.) n_nodes/n_edges/n_triads read
    that same undirected frame in both forms, so their output is
    bit-identical."""
    und, deg = _undirected(knn)
    if oriented:
        # Orient each edge from the lower (degree, id) endpoint to the
        # higher: join degrees onto both endpoints once, then flip.
        da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
        db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
        lower_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        edges = (
            und.join(da, "a")
            .join(db, "b")
            .select(
                F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
                F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            )
        ).persist()
    else:
        edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    # src->mid, mid->top, src->top: each triangle appears exactly once
    # (from its minimum vertex under the id or the (degree, id) order).
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    out = unpersist_with(_census_row(tri, deg, und), und)
    return unpersist_with(out, edges) if oriented else out


def _undirected(knn: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The k-NN graph's distinct undirected edges ``(a, b)``, a < b,
    persisted for the census's several reads, and its degrees
    ``(v, d)``."""
    und = (
        knn.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return und, deg


def _census_row(tri: DataFrame, deg: DataFrame, und: DataFrame) -> DataFrame:
    """The one census row from the triangle count ``tri`` (``n_tri``),
    the degree frame ``deg`` (v, d) and the undirected edges ``und``."""
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    triads = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("bigint").alias("n_triads")
    )
    return (
        tri.crossJoin(F.broadcast(nodes))
        .crossJoin(F.broadcast(edges))
        .crossJoin(F.broadcast(triads))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_tri").cast("bigint").alias("n_triangles"),
            F.col("n_triads").cast("bigint").alias("n_triads"),
            F.expr(
                "CAST((3 * n_tri * 1000000) DIV greatest(n_triads, 1)"
                " AS BIGINT)"
            ).alias("global_cc_ppm"),
        )
    )


def _x141_oracle() -> str:
    return f"""
    WITH {_ivf_pairs_sql()}
    {_rerank_sql_tail()}"""


@query("x141_ivf_knn_graph", oracle=_x141_oracle())
def x141_ivf_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x44's k-NN graph over IVF-partitioned candidates.

    The scale path for the census candidate wall (VERDICT r9 item 3),
    registered and oracle-paired (VERDICT r10 item 1).

    Same contract as x44 (exact cosine rerank, top-KNN_K per source,
    deterministic tie-break — `_rerank_topk` is shared code) over
    `_ivf_candidate_pairs`: N_CELLS codebook, N_PROBE multi-probe,
    KNN_MAX_BUCKET primary-member skew cap. The oracle regenerates
    bit-identical centroids via the QSCALE quantized mean (the x62/x63
    discipline that already proved IVF assignment hash-exact
    cross-engine) and shares the rerank tail with x44's oracle. With
    the codebook scaled to the corpus, per-vector candidate volume is
    FLAT under corpus growth — 1,992.7/vec at ×10 → 2,001.5 at ×30
    (SCALE.md r10) — where the banded x44's grows unboundedly. Recall
    floor pytest-gated in tests/test_similarity.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = _ivf_candidate_pairs(emb)
    # Lifetime chain: the rerank result holds `pairs` (via the
    # finalizer closure), whose own finalizer releases the persisted
    # centroid/assignment frames — without this the caches died the
    # moment this function returned (weakref fires on the LOCAL frame)
    # and every branch re-expanded the full IVF lineage.
    return unpersist_with(_rerank_topk(pairs), pairs)


def _x142_oracle() -> str:
    return f"""
    WITH {_ivf_pairs_sql()}, {_census_sql_tail()}"""


@query("x142_ivf_triangle_census", oracle=_x142_oracle())
def x142_ivf_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x137b's degree-ordered census over the IVF k-NN graph (x141).

    This is the answer to the x44 candidate wall behind the census
    ops: the census joins were never the cost (SCALE.md r8) — the
    banded candidate VOLUME was (85.2M pairs at 10x for a K=3 graph).
    With the codebook scaled to corpus size, candidate volume per
    vector is flat in corpus growth, so the whole census pipeline
    scales linearly. The graph is the IVF approximation of the banded
    graph (recall pytest-gated), so census COUNTS are approximate
    relative to x137b's — the diagnostic reading (clustering
    coefficient as manifold health) is unchanged, and the
    IVF-vs-banded deltas are pinned by a pytest tolerance gate on the
    sf0.001 graph. Same five-column census contract, with a full
    DuckDB oracle built from `_ivf_pairs_sql` + the shared
    `_census_sql_tail`. Measured walls: 76 s at ×10 vs 200 s banded,
    exponent ≈1.23 (SCALE.md r10).
    """
    knn = x141_ivf_knn_graph(spark, sf_dir)
    # Same lifetime chain as x141: the census result keeps the knn
    # frame (and through it the IVF caches) alive until the caller
    # releases it.
    return unpersist_with(_census(knn.select("src", "dst"), oriented=True), knn)
