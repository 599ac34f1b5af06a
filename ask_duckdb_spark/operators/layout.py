"""Data-layout & incremental-maintenance operators (x115-x123).

A 100 TB corpus is not re-read per query: it is maintained. Between
the reference's ad-hoc SQL surface (query_db.py:63-76) and a
production lake sit the operations that keep the data cheap to query —
detecting what changed between snapshots, upserting the changes,
pre-filtering shuffles with runtime bloom filters, laying files out in
multi-dimensional (Z-order) clusters, auditing how much a predicate
can skip via zone maps, and merging partial aggregate states instead
of rescanning. Each is expressed as a declarative DataFrame plan with
a DuckDB oracle twin, on the exact-integer arithmetic discipline of
``_util`` (no hashed float aggregates — VERDICT r5 item 2).

The second batch (x121-x123) covers dimension-history maintenance
(SCD Type-2 interval builder), order-preserving small-file compaction
planning, and deterministic weight-proportional sampling via the
portable-hash layer.

All are pure Catalyst plans: no ``collect()``, no Python UDFs; the
bloom build/probe (x117) is the one op with engine-specific internals
(Spark ``xxhash64``), and its RESULT is still engine-neutral because
the exact semi-join removes bloom false positives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ._util import (
    icents,
    icents_sql,
    money,
    money_sql,
    rev_units,
    rev_units_sql,
    unpersist_with,
)
from .registry import query

# ---------------------------------------------------------------------------
# x115 — snapshot CDC diff
# ---------------------------------------------------------------------------

_CDC_D1 = "1997-01-01"
_CDC_D2 = "1997-07-01"

_X115_ORACLE = f"""
WITH a AS (
  SELECT o_orderkey AS k, {icents_sql('o_totalprice')} AS units
  FROM orders WHERE o_orderdate < TIMESTAMP '{_CDC_D1}'
), b AS (
  SELECT o_orderkey AS k,
         {icents_sql('o_totalprice')}
           + CASE WHEN o_orderkey % 11 = 0 THEN 100 ELSE 0 END AS units
  FROM orders
  WHERE o_orderdate < TIMESTAMP '{_CDC_D2}' AND o_orderkey % 97 <> 0
), d AS (
  SELECT CASE WHEN a.k IS NULL THEN 'insert'
              WHEN b.k IS NULL THEN 'delete'
              WHEN a.units <> b.units THEN 'update'
              ELSE 'unchanged' END AS change_kind,
         coalesce(a.k, b.k) AS k,
         coalesce(b.units, 0) - coalesce(a.units, 0) AS delta
  FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT change_kind,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(k) AS BIGINT) AS min_key,
       CAST(max(k) AS BIGINT) AS max_key,
       CAST(sum(delta) AS BIGINT) AS delta_units
FROM d GROUP BY change_kind ORDER BY change_kind
"""


@query("x115_snapshot_cdc_diff", oracle=_X115_ORACLE)
def x115_snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify row-level changes between two table snapshots (CDC).

    Snapshot A is ``orders`` as of {D1}; snapshot B as of {D2} with a
    deterministic mutation model (keys divisible by 97 deleted, prices
    of keys divisible by 11 bumped one dollar) so all four change
    kinds occur. A full-outer join on the key classifies each row as
    insert / delete / update / unchanged; the summary aggregates per
    kind with the exact integer-cents delta.

    Scale (100 TB): the diff is ONE co-partitioned full-outer join on
    the snapshot key — with both snapshots bucketed (or both written
    by the same partitioner) it is shuffle-free; the classify and the
    per-kind rollup are projection + a 4-group aggregate. This is the
    change-detection primitive under incremental pipeline re-runs:
    feed 'insert'+'update' keys downstream instead of rescanning B.
    All arithmetic is integer cents (order-independent, hash-portable).
    """
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderdate") < F.lit(_CDC_D1).cast("timestamp")).select(
        F.col("o_orderkey").alias("k"), icents("o_totalprice").alias("units")
    )
    b = (
        o.filter(
            (F.col("o_orderdate") < F.lit(_CDC_D2).cast("timestamp"))
            & (F.col("o_orderkey") % 97 != 0)
        ).select(
            F.col("o_orderkey").alias("k"),
            (
                icents("o_totalprice")
                + F.when(F.col("o_orderkey") % 11 == 0, F.lit(100)).otherwise(0)
            ).alias("units"),
        )
    )
    d = a.alias("a").join(b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    kind = (
        F.when(F.col("a.k").isNull(), "insert")
        .when(F.col("b.k").isNull(), "delete")
        .when(F.col("a.units") != F.col("b.units"), "update")
        .otherwise("unchanged")
    )
    return (
        d.select(
            kind.alias("change_kind"),
            F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
            (
                F.coalesce(F.col("b.units"), F.lit(0))
                - F.coalesce(F.col("a.units"), F.lit(0))
            ).alias("delta"),
        )
        .groupBy("change_kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("k").cast("bigint").alias("min_key"),
            F.max("k").cast("bigint").alias("max_key"),
            F.sum("delta").cast("bigint").alias("delta_units"),
        )
        .orderBy("change_kind")
    )


# ---------------------------------------------------------------------------
# x116 — MERGE (upsert) semantics as a declarative plan
# ---------------------------------------------------------------------------

_X116_ORACLE = f"""
WITH src AS (
  SELECT o_custkey + CASE WHEN o_custkey % 50 = 0 THEN 1000000 ELSE 0 END AS k,
         CAST(sum({icents_sql('o_totalprice')}) AS BIGINT) AS delta_units
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  GROUP BY 1
)
SELECT coalesce(t.c_custkey, s.k) AS c_custkey,
       coalesce(t.c_name, 'Customer#new#' || CAST(s.k AS VARCHAR)) AS c_name,
       CAST(coalesce(t.c_nationkey, -1) AS INTEGER) AS c_nationkey,
       {money_sql(f"coalesce({icents_sql('t.c_acctbal')}, 0) + coalesce(s.delta_units, 0)", 100)} AS c_acctbal,
       coalesce(t.c_mktsegment, 'UNKNOWN') AS c_mktsegment
FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.k
"""


# The r12 MERGE plan, shared by x116 and the streaming CDC apply
# (streaming/upsert.py). MERGE under the hood of every lakehouse writer
# IS this operation, and this is the shape a small-source MERGE must
# take at 100 TB: the corpus-sized TARGET is never shuffled. The naive
# single full-outer join (x116's r7-r11 form, and what its SQL oracle
# literally states) hash-partitions the whole target on the merge key
# per MERGE — a corpus shuffle for a batch-sized change set. Instead
# the full-outer is decomposed, exactly (both key columns are unique —
# c_custkey is the target PK, k is post-groupBy), into:
#
# - UPDATE ∪ KEEP: target LEFT JOIN source — source is batch-sized,
#   AQE broadcasts it, target is STREAMED;
# - INSERT: source keys absent from the target, found WITHOUT
#   shuffling the target by first semi-reducing the target against
#   the broadcast source (``touched`` <= |source| rows), then
#   anti-joining the source against that small set (broadcast).
#
# Target cost: two streaming scans, zero exchanges — scans are the
# cheap currency at 100 TB, shuffles the expensive one. A streaming
# MERGE pays this join per micro-batch forever, so the removed target
# shuffle is the difference between a sink that keeps up and one that
# falls behind as the target grows. If the source outgrows broadcast,
# AQE degrades each join to shuffled form and the symmetric full-outer
# becomes competitive again — that regime choice belongs to the
# planner, not a hint (no forced broadcasts here). The source aggregate
# stays map-side combinable; balances ride exact integer cents
# (``bal_units``) until one identical closing division on both engines.
# The source feeds three consumers (update join, touched semi, insert
# anti), so callers persist it: without that each consumer re-ran the
# orders scan + aggregate (measured 12-exchange plan at sf0.1x10).


def merge_source(orders: DataFrame) -> DataFrame:
    """Order revenue per merge key as exact cents: ``(k, delta_units)``.

    Every 50th customer key is displaced out of the target's key range
    so NOT-MATCHED-BY-TARGET inserts occur.
    """
    return (
        orders.select(
            (
                F.col("o_custkey")
                + F.when(F.col("o_custkey") % 50 == 0, F.lit(1000000)).otherwise(0)
            ).alias("k"),
            icents("o_totalprice").alias("u"),
        )
        .groupBy("k")
        .agg(F.sum("u").cast("bigint").alias("delta_units"))
    )


def cents_state(customer: DataFrame) -> DataFrame:
    """The customer table with its balance as integer cents ``bal_units``."""
    return customer.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        icents("c_acctbal").alias("bal_units"),
        "c_mktsegment",
    )


def merge_cents(target: DataFrame, src: DataFrame) -> DataFrame:
    """MERGE ``src`` into a :func:`cents_state` target, in cents.

    WHEN MATCHED THEN UPDATE (balance += delta), WHEN NOT MATCHED BY
    SOURCE THEN keep, WHEN NOT MATCHED THEN INSERT a synthesized row —
    the full MERGE matrix, planned as the decomposition above.
    """
    # update and keep: one broadcast left join, target streamed
    upd = target.alias("t").join(
        src.alias("s"), F.col("t.c_custkey") == F.col("s.k"), "left"
    ).select(
        F.col("t.c_custkey").alias("c_custkey"),
        F.col("t.c_name").alias("c_name"),
        F.col("t.c_nationkey").cast("int").alias("c_nationkey"),
        (
            F.coalesce(F.col("t.bal_units"), F.lit(0))
            + F.coalesce(F.col("s.delta_units"), F.lit(0))
        ).alias("bal_units"),
        F.col("t.c_mktsegment").alias("c_mktsegment"),
    )
    # insert: the target is semi-reduced against the broadcast source
    # first, so the anti-join's build side is batch-sized — the target
    # itself is never a join build side and never shuffles
    touched = target.select(F.col("c_custkey").alias("k")).join(
        src.select("k"), "k", "left_semi"
    )
    ins = src.join(touched, "k", "left_anti").select(
        F.col("k").alias("c_custkey"),
        F.concat(F.lit("Customer#new#"), F.col("k").cast("string")).alias(
            "c_name"
        ),
        F.lit(-1).cast("int").alias("c_nationkey"),
        F.col("delta_units").alias("bal_units"),
        F.lit("UNKNOWN").alias("c_mktsegment"),
    )
    return upd.unionByName(ins)


def dollars_view(state: DataFrame) -> DataFrame:
    """A cents state projected to x116's output schema (dollars)."""
    return state.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        money(F.col("bal_units"), 100).alias("c_acctbal"),
        "c_mktsegment",
    )


@query("x116_merge_upsert", oracle=_X116_ORACLE)
def x116_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO as one declarative plan.

    Source = 1998 order revenue per customer key (:func:`merge_source`);
    target = ``customer``. Semantics: the full MERGE matrix, which a
    single full-outer join + coalesce projection expresses exactly (the
    oracle). The plan is the r12 decomposition described above
    :func:`merge_source`: the target is only ever streamed.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    src = merge_source(
        o.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
    ).persist()
    return unpersist_with(dollars_view(merge_cents(cents_state(c), src)), src)


# ---------------------------------------------------------------------------
# x117 — bloom-filter semi-join (runtime-filter pattern, collect-free)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 17  # m: 131072 bits = 2048 64-bit words
_BLOOM_K = 3  # hash functions

_X117_ORACLE = f"""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       {money_sql(f"sum({rev_units_sql()})", 10000)} AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _bloom_pos(key: Column, seed: Column | int, m_bits: int = _BLOOM_BITS) -> Column:
    """Bit position of hash function ``seed`` for ``key`` in [0, m)."""
    seed_c = F.lit(seed) if isinstance(seed, int) else seed
    return F.pmod(F.xxhash64(key, seed_c), F.lit(m_bits))


def _word_mask(pos_col: str) -> tuple[Column, Column]:
    """(word index, bit mask) of a materialized position column.

    The mask's bit count is data-dependent, which the Python
    ``shiftleft`` DSL rejects (int-only) — use the SQL expression.
    """
    word = F.shiftright(F.col(pos_col), 6)
    mask = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({pos_col}, 64) AS INT))"
    )
    return word, mask


@query("x117_bloom_semijoin", oracle=_X117_ORACLE)
def x117_bloom_semijoin(
    spark: SparkSession, sf_dir: str, m_bits: int = _BLOOM_BITS
) -> DataFrame:
    """Semi-join with a distributed bloom-filter pre-filter.

    The runtime-filter pattern Spark itself applies under
    ``spark.sql.optimizer.runtime.bloomFilter.enabled``, built
    explicitly and collect-free: (1) the build side (urgent orders)
    hashes each key with k=3 ``xxhash64`` seeds into an m=2^17-bit
    filter materialized as a ≤2048-row (word, bits) table via
    ``bit_or`` aggregation; (2) the probe side (lineitem) checks all
    three bits through three BROADCAST joins against that table — no
    shuffle of the big side — dropping most non-matching rows early;
    (3) an exact left-semi join removes bloom false positives, so the
    result is bit-identical to the plain semi-join oracle even though
    the filter internals are engine-specific.

    Scale (100 TB): the win is shuffle-volume reduction — the exact
    semi-join shuffles only bloom survivors (~p + fp of the probe).
    The filter table is O(m/64) rows regardless of data size;
    broadcasting it costs 16 KB. False-positive rate at n build keys:
    (1 - e^{-kn/m})^k — so ``m_bits`` MUST grow with build cardinality
    (≈13 bits/key holds fp under 3% at k=3; the default 2^17 is sized
    for the fixture's ~10^4 urgent orders and saturates at 100x —
    scripts/scale_trial.py passes m_bits = 2^17 * factor, the same
    stats-driven sizing Spark's own injected runtime filter performs).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # No .distinct() (r12): o_orderkey is the orders PK, and BOTH
    # consumers of the build side are duplicate-insensitive anyway —
    # bit_or aggregation (idempotent, map-side combining) and the
    # exact left-semi. The dedup was a full extra shuffle + stage of
    # pure waste.
    build = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("bk")
    )
    # Bloom build: k hash positions per key -> OR-aggregated words.
    seeds = F.explode(F.array(*[F.lit(s) for s in range(_BLOOM_K)])).alias("seed")
    positions = build.select("bk", seeds).select(
        _bloom_pos(F.col("bk"), F.col("seed"), m_bits).alias("pos")
    )
    bword, bmask = _word_mask("pos")
    words = (
        positions.select(bword.alias("word"), bmask.alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    # Bloom probe: three broadcast lookups; a missing word or an unset
    # bit is a definite miss (null-propagating filter drops the row).
    probe = li
    for s in range(_BLOOM_K):
        probe = probe.withColumn(
            f"_p{s}", _bloom_pos(F.col("l_orderkey"), s, m_bits)
        )
        w, m = _word_mask(f"_p{s}")
        ws = words.select(
            F.col("word").alias(f"bw{s}"), F.col("bits").alias(f"bb{s}")
        )
        probe = (
            probe.withColumn(f"_w{s}", w)
            .withColumn(f"_m{s}", m)
            .join(F.broadcast(ws), F.col(f"_w{s}") == F.col(f"bw{s}"), "left")
            .filter((F.col(f"bb{s}").bitwiseAND(F.col(f"_m{s}"))) != 0)
        )
    survivors = probe.select(li.columns)
    exact = survivors.join(
        build, survivors["l_orderkey"] == build["bk"], "left_semi"
    )
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            money(F.sum(rev_units()), 10000).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@query("x117b_plain_semijoin", oracle=_X117_ORACLE)
def x117b_plain_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x117's semi-join WITHOUT the bloom pre-filter — the honest
    fixture-scale winner, registered as a same-oracle twin (the
    x133<->x133b discipline; VERDICT r8 item 4).

    scripts/x117_crossover.py measured the real trade at r8: on
    local[32] the plain left-semi runs 1.31 s at sf0.1 vs the bloom
    form's 2.84 s, and the bloom's fixed build cost only amortizes
    past ~x12-13 the fixture volume — AND the local testbed
    structurally lacks the network shuffle the bloom exists to cut
    (local "shuffle" is a page-cache copy, so plain-shuffle ~=
    plain-broadcast there). This twin makes that a REGISTERED plan
    choice: a deployment reads x117's docstring for the at-scale
    insurance form and picks this one below the crossover, instead of
    paying ~0.7 s of bloom build for nothing. Output is bit-identical
    by construction (same oracle row pins both — tests/
    test_layout_ops.py asserts row equality and the broadcast-semi
    plan shape).

    Scale (100 TB): the build side (urgent-order keys) broadcasts
    while it fits (AQE decides); beyond that this becomes a shuffled
    left-semi of the probe side — exactly the shuffle volume x117's
    bloom filter cuts, which is the crossover at which a deployment
    switches twins.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # No .distinct() on the build side (r12): o_orderkey is the orders
    # PK, so distinct was a full extra shuffle + stage deduplicating
    # an already-unique column — and a left-semi join is insensitive
    # to build-side duplicates anyway (measured at sf0.1x10: the
    # distinct stage was ~0.3 s of this operator's ~0.9 s wall). For a
    # genuinely non-unique build key, dedup before a SHUFFLED semi-
    # join is volume hygiene; before a broadcast it only shrinks the
    # hash table the semi-join builds either way.
    build = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("bk")
    )
    return (
        li.join(build, li["l_orderkey"] == build["bk"], "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            money(F.sum(rev_units()), 10000).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# x118 — Z-order (Morton) clustering audit
# ---------------------------------------------------------------------------

_Z_BITS = 16
_Z_BUCKETS = 64


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _morton_col(x: Column, y: Column) -> Column:
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


_X118_ORACLE = f"""
WITH z AS (
  SELECT l_partkey, l_suppkey,
         {_morton_sql('l_partkey', 'l_suppkey')} AS zkey
  FROM lineitem
), zm AS (
  SELECT max(zkey) AS zmax FROM z
)
SELECT CAST(floor((zkey * {_Z_BUCKETS}) / (zmax + 1)) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_partkey) AS BIGINT) AS min_part,
       CAST(max(l_partkey) AS BIGINT) AS max_part,
       CAST(min(l_suppkey) AS BIGINT) AS min_supp,
       CAST(max(l_suppkey) AS BIGINT) AS max_supp
FROM z, zm GROUP BY 1 ORDER BY 1
"""


@query("x118_zorder_clustering", oracle=_X118_ORACLE)
def x118_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key + per-target-file clustering audit.

    Interleaves the bits of (l_partkey, l_suppkey) into one Z-order
    key — the multi-dimensional layout key behind Delta/Iceberg
    ``OPTIMIZE ZORDER BY`` — then range-buckets rows into 64 target
    "files" and reports each file's covered rectangle (min/max of both
    dimensions). Tight rectangles are the whole point: a zone-map scan
    (x119) over EITHER dimension can then skip most files, which
    one-dimensional sorting only achieves for its leading column.

    Scale (100 TB): the z-key is a pure projection (32 codegen'd bit
    ops/row, no shuffle); the physical re-layout it drives is
    ``repartitionByRange(zkey).write`` — one range shuffle. The bucket
    boundary here derives from max(zkey) (scalar subquery, broadcast
    1-row cross join) so the audit is scale-invariant; a writer would
    use fixed target file sizes instead. Integer-only output.
    """
    li = load_table(spark, sf_dir, "lineitem")
    z = li.select(
        "l_partkey",
        "l_suppkey",
        _morton_col(F.col("l_partkey"), F.col("l_suppkey")).alias("zkey"),
    )
    zm = z.agg(F.max("zkey").alias("zmax"))
    return (
        z.crossJoin(F.broadcast(zm))
        .select(
            F.floor((F.col("zkey") * _Z_BUCKETS) / (F.col("zmax") + 1))
            .cast("bigint")
            .alias("bucket"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("l_partkey").cast("bigint").alias("min_part"),
            F.max("l_partkey").cast("bigint").alias("max_part"),
            F.min("l_suppkey").cast("bigint").alias("min_supp"),
            F.max("l_suppkey").cast("bigint").alias("max_supp"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# x119 — zone-map pruning audit
# ---------------------------------------------------------------------------

_ZM_LO = 20000_00  # predicate: o_totalprice BETWEEN $20k and $40k (cents)
_ZM_HI = 40000_00

_X119_ORACLE = f"""
WITH f AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS file_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min({icents_sql('o_totalprice')}) AS BIGINT) AS min_units,
         CAST(max({icents_sql('o_totalprice')}) AS BIGINT) AS max_units
  FROM orders GROUP BY 1
)
SELECT file_id, n_rows, min_units, max_units,
       (max_units < {_ZM_LO} OR min_units > {_ZM_HI}) AS prunable
FROM f ORDER BY file_id
"""


@query("x119_zone_map_pruning", oracle=_X119_ORACLE)
def x119_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) pruning audit per data file.

    Models the month-partitioned file layout a date-partitioned lake
    write produces: each month is one "file" carrying zone-map stats
    (row count, min/max of the predicate column in exact cents — the
    same footer statistics Parquet already stores). For the predicate
    ``o_totalprice BETWEEN $20k AND $40k`` a file is prunable iff its
    [min,max] range is disjoint from the predicate interval — the scan
    never opens it.

    Scale (100 TB): this audit is how you VERIFY a layout before
    trusting it — the fraction of prunable files directly predicts
    scan cost under the workload's predicates. Computing it is one
    map-side-combinable aggregate over the partition key; at cluster
    scale the stats come free from the Parquet footers (no data scan
    at all). Pairs with x118: Z-ordered files are prunable on BOTH
    dimensions.
    """
    o = load_table(spark, sf_dir, "orders")
    f = (
        o.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("file_id"),
            icents("o_totalprice").alias("u"),
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("u").cast("bigint").alias("min_units"),
            F.max("u").cast("bigint").alias("max_units"),
        )
    )
    return f.select(
        "file_id",
        "n_rows",
        "min_units",
        "max_units",
        ((F.col("max_units") < _ZM_LO) | (F.col("min_units") > _ZM_HI)).alias(
            "prunable"
        ),
    ).orderBy("file_id")


# ---------------------------------------------------------------------------
# x120 — partial-aggregate state merge (incremental rollup maintenance)
# ---------------------------------------------------------------------------

_X120_ORACLE = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       {money_sql(f"sum({icents_sql('o_totalprice')})", 100)} AS total_price
FROM orders GROUP BY 1 ORDER BY 1
"""


@query("x120_partial_agg_merge", oracle=_X120_ORACLE)
def x120_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge daily partial-aggregate states into the monthly rollup.

    Computes per-DAY partials (count, integer-cents sum) first, then
    merges them to months by re-aggregating the partials — never
    touching base rows again. The oracle aggregates the base table
    directly, so the driver's hash check proves the algebraic identity
    partial-merge ≡ recompute, which only holds because the states are
    decomposable (count/sum) and exact (integers: float partials would
    drift by summation order).

    Scale (100 TB): THE incremental pattern — a nightly pipeline
    appends one day of partials (scanning one day of data) and every
    coarser rollup derives from partials at ~1/30 the input. The same
    identity underlies map-side combine, materialized-view refresh,
    and cube maintenance; non-decomposable stats need sketch states
    instead (g10's HLL, x37's GK quantiles).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
            icents("o_totalprice").alias("u"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("u").cast("bigint").alias("units"),
        )
    )
    return (
        daily.groupBy(F.substring("day", 1, 7).alias("month"))
        .agg(
            F.sum("cnt").cast("bigint").alias("n_orders"),
            money(F.sum("units").cast("bigint"), 100).alias("total_price"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# x121 — SCD Type-2 dimension history
# ---------------------------------------------------------------------------

_X121_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, event_type AS state, ts AS valid_from
  FROM seq WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, state, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       CAST(row_number() OVER w2 AS BIGINT) AS version,
       (lead(valid_from) OVER w2 IS NULL) AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
ORDER BY user_id, version
"""


@query("x121_scd2_history", oracle=_X121_ORACLE)
def x121_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build SCD Type-2 validity intervals from an event stream.

    Treats each user's event_type as a tracked dimension attribute:
    consecutive equal states collapse into one version, each state
    CHANGE opens a new version row with ``[valid_from, valid_to)``
    bounds (open-ended + ``is_current`` for the latest). This is the
    slowly-changing-dimension builder every warehouse needs to answer
    "what was the user's state AT time t" with a plain range predicate
    (or j9's as-of join) instead of replaying the event log.

    Scale (100 TB): both windows partition by user_id — ONE shuffle
    key, no global ordering anywhere; per-user sequences are bounded
    by per-user activity. The change-collapse drops the payload to
    |state changes| rows before the second window. Deterministic by
    construction: ties within a user break on event_id.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = seq.filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    ).select("user_id", F.col("event_type").alias("state"), F.col("ts").alias("valid_from"))
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("bigint").alias("version"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    ).orderBy("user_id", "version")


# ---------------------------------------------------------------------------
# x122 — ordered small-file compaction plan
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 2000  # rows per output shard (fixture-scaled knob)

_X122_ORACLE = f"""
WITH files AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS file_id,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1
), planned AS (
  SELECT file_id, n_rows,
         CAST(floor(
           CAST(coalesce(sum(n_rows) OVER (ORDER BY file_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           / {_COMPACT_TARGET}) AS BIGINT) AS shard_id
  FROM files
)
SELECT file_id, n_rows, shard_id,
       CAST(sum(n_rows) OVER (PARTITION BY shard_id) AS BIGINT) AS shard_rows
FROM planned ORDER BY file_id
"""


@query("x122_compaction_plan", oracle=_X122_ORACLE)
def x122_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan small-file compaction into ~target-row shards, IN KEY ORDER.

    Takes the month-file manifest (x119's layout) and assigns each
    file to an output shard by exclusive-cumulative-sum bucketing:
    shard = floor(rows_before / target). Unlike x54's FFD bin packing
    (which reorders freely for tightness), compaction must preserve
    the sort order — merging non-adjacent files would destroy the
    zone-map clustering x119 measures. The cumsum rule is the greedy
    order-preserving packer: every shard lands within one input file
    of the target.

    Scale (100 TB): the input is the file MANIFEST, not the data —
    metadata-scale (one row per file; a 100 TB table at 1 GB files is
    10^5 rows), so the single-partition ordered window is bounded the
    same way x83's cutoff histogram is. The plan's execution is then
    one ``repartitionByRange(shard_id).write`` over the real data.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    files = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("file_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    cum_before = (
        F.coalesce(
            F.sum("n_rows").over(
                Window.orderBy("file_id").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
    )
    planned = files.select(
        "file_id",
        "n_rows",
        F.floor(cum_before.cast("double") / _COMPACT_TARGET)
        .cast("bigint")
        .alias("shard_id"),
    )
    return planned.select(
        "file_id",
        "n_rows",
        "shard_id",
        F.sum("n_rows")
        .over(Window.partitionBy("shard_id"))
        .cast("bigint")
        .alias("shard_rows"),
    ).orderBy("file_id")


# ---------------------------------------------------------------------------
# x123 — deterministic weighted priority sample
# ---------------------------------------------------------------------------

_SAMPLE_K = 200

def _x123_oracle() -> str:
    from ..functions.porthash import PH_P, token_hash60_sql

    h = token_hash60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH scored AS (
      SELECT doc_id, source, n_chars,
             CAST(floor(CAST(({h}) % {PH_P} AS DOUBLE) * 1000000.0
                        / n_chars) AS BIGINT) AS priority
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, priority
    FROM scored ORDER BY priority, doc_id LIMIT {_SAMPLE_K}
    """


@query("x123_weighted_sample", oracle=_x123_oracle())
def x123_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional document sample (top-k by
    hashed priority / weight).

    The distributed form of weighted reservoir sampling (Efraimidis-
    Spirakis by way of integer arithmetic): each doc draws a portable
    pseudo-uniform integer u = porthash(doc_id) mod P and takes
    priority = floor(u * 10^6 / weight); the global sample is the k
    SMALLEST priorities, so inclusion odds grow with weight
    (n_chars — at training time, token count). Everything is integer
    and the hash is the md5-based portable layer, so the sample is
    reproducible across engines, runs and partitionings — the property
    that makes a training mixture auditable. x23 is the uniform
    special case.

    Scale (100 TB): one scan + TakeOrdered top-k (no global sort
    materialization); k log k merge on the driver-side heads only.
    Weights skew inclusion without any per-source pre-aggregation, so
    it composes with x71's per-source mixture quotas.
    """
    from ..functions.porthash import PH_P, token_hash60

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = F.pmod(token_hash60(F.col("doc_id").cast("string")), F.lit(PH_P))
    scored = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.floor(u.cast("double") * F.lit(1000000.0) / F.col("n_chars"))
        .cast("bigint")
        .alias("priority"),
    )
    return scored.orderBy("priority", "doc_id").limit(_SAMPLE_K)


# ---------------------------------------------------------------------------
# x124 — affected-partition scoping for incremental recompute
# ---------------------------------------------------------------------------

_X124_ORACLE = f"""
WITH a AS (
  SELECT o_orderkey AS k, {icents_sql('o_totalprice')} AS units, o_orderdate AS dt
  FROM orders WHERE o_orderdate < TIMESTAMP '{_CDC_D1}'
), b AS (
  SELECT o_orderkey AS k,
         {icents_sql('o_totalprice')}
           + CASE WHEN o_orderkey % 11 = 0 THEN 100 ELSE 0 END AS units,
         o_orderdate AS dt
  FROM orders
  WHERE o_orderdate < TIMESTAMP '{_CDC_D2}' AND o_orderkey % 97 <> 0
), changed AS (
  SELECT strftime(coalesce(b.dt, a.dt), '%Y-%m') AS file_id,
         count(*) AS n_changed
  FROM a FULL OUTER JOIN b ON a.k = b.k
  WHERE a.k IS NULL OR b.k IS NULL OR a.units <> b.units
  GROUP BY 1
), manifest AS (
  SELECT strftime(dt, '%Y-%m') AS file_id,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM b GROUP BY 1
)
SELECT m.file_id, m.n_rows,
       CAST(coalesce(c.n_changed, 0) AS BIGINT) AS n_changed,
       (coalesce(c.n_changed, 0) > 0) AS affected
FROM manifest m LEFT JOIN changed c ON m.file_id = c.file_id
ORDER BY m.file_id
"""


@query("x124_affected_partitions", oracle=_X124_ORACLE)
def x124_affected_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scope an incremental recompute to the partitions the CDC diff
    actually touched.

    Combines x115 (what changed) with x119's manifest view (where data
    lives): each changed key lands in its month partition — B's month
    for inserts/updates, A's for deletes — and the output marks every
    current partition with its changed-key count. A downstream rollup
    (x120's partials, a materialized view) re-reads ONLY ``affected``
    partitions; the rest are byte-identical by construction.

    Scale (100 TB): this is the planning step that turns "the snapshot
    changed" into "re-run 3 of 80 partitions" — the difference between
    an incremental pipeline and a full rescan. Cost: the x115 diff join
    plus two month-keyed combinable aggregates; output is
    manifest-sized (metadata scale). A real lake reads the change set
    from the table format's commit log instead of re-diffing, with the
    identical downstream plan.
    """
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderdate") < F.lit(_CDC_D1).cast("timestamp")).select(
        F.col("o_orderkey").alias("k"),
        icents("o_totalprice").alias("units"),
        F.col("o_orderdate").alias("dt"),
    )
    b = o.filter(
        (F.col("o_orderdate") < F.lit(_CDC_D2).cast("timestamp"))
        & (F.col("o_orderkey") % 97 != 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        (
            icents("o_totalprice")
            + F.when(F.col("o_orderkey") % 11 == 0, F.lit(100)).otherwise(0)
        ).alias("units"),
        F.col("o_orderdate").alias("dt"),
    )
    j = a.alias("a").join(b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    changed = (
        j.filter(
            F.col("a.k").isNull()
            | F.col("b.k").isNull()
            | (F.col("a.units") != F.col("b.units"))
        )
        .select(
            F.date_format(
                F.coalesce(F.col("b.dt"), F.col("a.dt")), "yyyy-MM"
            ).alias("file_id")
        )
        .groupBy("file_id")
        .agg(F.count(F.lit(1)).alias("n_changed"))
    )
    manifest = (
        b.select(F.date_format("dt", "yyyy-MM").alias("file_id"))
        .groupBy("file_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    return (
        manifest.join(changed, "file_id", "left")
        .select(
            "file_id",
            "n_rows",
            F.coalesce(F.col("n_changed"), F.lit(0)).cast("bigint").alias("n_changed"),
            (F.coalesce(F.col("n_changed"), F.lit(0)) > 0).alias("affected"),
        )
        .orderBy("file_id")
    )
