"""Table profiling: the data-quality audit surface (x103).

The reference's DESCRIBE (describe_table.py:12-51) reports the
SCHEMA; a 100 TB ingest additionally needs the DATA profiled — null
rates, exact cardinalities, ranges — before any pipeline decision
(join-key choice, partition column, quality thresholds). x103 is that
profiler as a single-pass aggregation: ONE scan computes every
column's (n_null, n_distinct, min, max) simultaneously, then a
``stack`` unpivots the one-row result into a row per column — no
per-column rescan (the naive profiler is |columns| scans; at 100 TB
that is |columns| x the job).

Numeric min/max surface as DOUBLE, string/timestamp min/max as
VARCHAR (ISO timestamps render identically in both engines); the
off-type slots are NULL. Exact distinct counts (not HLL) because the
profile IS the oracle-checked contract; g10 demonstrates the sketch
variant for when estimates suffice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table, local_frame
from .registry import query

#: (column, kind) of the profiled table — lineitem, the biggest
#: fixture table. kind drives which min/max slot each column fills.
PROFILE_COLS: tuple[tuple[str, str], ...] = (
    ("l_orderkey", "num"),
    ("l_partkey", "num"),
    ("l_suppkey", "num"),
    ("l_linenumber", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_tax", "num"),
    ("l_returnflag", "txt"),
    ("l_linestatus", "txt"),
    ("l_shipdate", "txt"),
)


def _profile_oracle() -> str:
    aggs = ["count(*) AS n_rows"]
    picks = []
    for c, kind in PROFILE_COLS:
        aggs.append(f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS nn_{c}")
        aggs.append(f"count(DISTINCT {c}) AS nd_{c}")
        if kind == "num":
            aggs.append(f"CAST(min({c}) AS DOUBLE) AS mn_{c}")
            aggs.append(f"CAST(max({c}) AS DOUBLE) AS mx_{c}")
        else:
            aggs.append(f"CAST(min({c}) AS VARCHAR) AS mn_{c}")
            aggs.append(f"CAST(max({c}) AS VARCHAR) AS mx_{c}")
    for c, kind in PROFILE_COLS:
        mn_num = f"mn_{c}" if kind == "num" else "CAST(NULL AS DOUBLE)"
        mx_num = f"mx_{c}" if kind == "num" else "CAST(NULL AS DOUBLE)"
        mn_txt = f"mn_{c}" if kind == "txt" else "CAST(NULL AS VARCHAR)"
        mx_txt = f"mx_{c}" if kind == "txt" else "CAST(NULL AS VARCHAR)"
        picks.append(
            f"SELECT '{c}' AS col_name, CAST(n_rows AS BIGINT) AS n_rows, "
            f"CAST(nn_{c} AS BIGINT) AS n_null, "
            f"CAST(nd_{c} AS BIGINT) AS n_distinct, "
            f"{mn_num} AS min_num, {mx_num} AS max_num, "
            f"{mn_txt} AS min_txt, {mx_txt} AS max_txt FROM a"
        )
    union = "\nUNION ALL\n".join(picks)
    return f"""
    WITH a AS MATERIALIZED (
      SELECT {', '.join(aggs)} FROM lineitem
    )
    SELECT * FROM ({union}) ORDER BY col_name
    """


@query("x103_column_profile", oracle=_profile_oracle())
def x103_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile of every lineitem column, expand-free (r14).

    Plain aggregates (row count, null counts, min/max) ride one
    groupBy-less scan; each exact count(DISTINCT c) is its own
    two-phase aggregate over a column-pruned scan of c alone, joined
    back as a broadcast scalar; ``stack`` then unpivots the 1-row
    result. The timestamp column casts through VARCHAR identically in
    both engines ('YYYY-MM-DD HH:MM:SS'); VARCHAR min/max is
    byte-order on ASCII fixture values.

    Scale (100 TB): parquet is columnar, so the per-column scans read
    the same total bytes as one wide scan, and each distinct count
    shuffles only its column's partial-distinct sets — no k-times row
    expansion (the pre-r14 multi-distinct Expand plan), no wide sort.
    Swap count_distinct for approx_count_distinct (g10's sketch) when
    estimates suffice. The unpivot is driver-free, |columns| rows.
    """
    df = load_table(spark, sf_dir, "lineitem")
    # r14 rewrite (VERDICT r13 item 6): the old single aggregate
    # carried all 12 exact count(DISTINCT)s, which Catalyst plans via
    # Expand — |distinct aggs|+1 copies of EVERY row — and, because
    # the string min/max aggregates shared the operator, the agg
    # buffer was variable-width and the whole 13x-expanded stream fell
    # back to SortAggregate: a full sort of ~13n wide rows, 32 s at
    # sf0.1 (plans/r14/x103_column_profile_before.txt). Now each
    # count(DISTINCT c) is its OWN two-phase aggregate over a
    # column-pruned scan of just c (partial distinct per map task →
    # one narrow exchange of per-column distinct values), cross-joined
    # back as broadcast scalars; the plain aggregates (counts, null
    # sums, min/max) keep the one-pass scan. No Expand anywhere.
    # Interleaved A/B at sf0.1: 32 s → ~1.1-2.0 s (the intermediate
    # "split the string min/max out of the Expand" form measured
    # 6-8 s; widen() variants measured worse — both recorded in
    # OPTIMIZATION_r14.md). At 100 TB: parquet is columnar, so 12
    # single-column scans read the same bytes as one 12-column scan,
    # and the shuffles carry per-column partial-distinct sets instead
    # of a 13x row expansion — strictly less CPU and shuffle volume.
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    str_aggs = []
    nd_arms = []
    for c, kind in PROFILE_COLS:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long"))
            .cast("bigint")
            .alias(f"nn_{c}")
        )
        nd_arms.append(
            df.agg(F.count_distinct(F.col(c)).cast("bigint").alias(f"nd_{c}"))
        )
        if kind == "num":
            aggs.append(F.min(c).cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"mx_{c}"))
        else:
            str_aggs.append(F.min(c).cast("string").alias(f"mn_{c}"))
            str_aggs.append(F.max(c).cast("string").alias(f"mx_{c}"))
    one = df.agg(*aggs).crossJoin(F.broadcast(df.agg(*str_aggs)))
    for arm in nd_arms:
        one = one.crossJoin(F.broadcast(arm))
    parts = []
    for c, kind in PROFILE_COLS:
        mn_num = f"mn_{c}" if kind == "num" else "CAST(NULL AS DOUBLE)"
        mx_num = f"mx_{c}" if kind == "num" else "CAST(NULL AS DOUBLE)"
        mn_txt = f"mn_{c}" if kind == "txt" else "CAST(NULL AS STRING)"
        mx_txt = f"mx_{c}" if kind == "txt" else "CAST(NULL AS STRING)"
        parts.append(
            f"'{c}', nn_{c}, nd_{c}, {mn_num}, {mx_num}, {mn_txt}, {mx_txt}"
        )
    stack = (
        f"stack({len(PROFILE_COLS)}, {', '.join(parts)}) AS "
        "(col_name, n_null, n_distinct, min_num, max_num, min_txt, max_txt)"
    )
    return (
        one.selectExpr("n_rows", stack)
        .select(
            "col_name",
            "n_rows",
            "n_null",
            "n_distinct",
            "min_num",
            "max_num",
            "min_txt",
            "max_txt",
        )
        .orderBy("col_name")
    )


# ---------------------------------------------------------------------------
# x108: consistent-hash resharding audit. Growing a mod-N sharded
# corpus from 8 to 9 shards moves ~8/9 of all documents; a consistent-
# hash ring moves ~1/9. This op measures BOTH movement fractions on
# the actual corpus — the number that justifies ring-based placement
# before a 100 TB re-layout. Positions come from md5 (portable), the
# ring is 16 virtual nodes per shard embedded as literals in both
# plans, and lookups are min-over-threshold with wraparound.
# ---------------------------------------------------------------------------

RING_SHARDS_A = 8
RING_SHARDS_B = 9
RING_VNODES = 16
_RING_MOD = 1 << 32


def _vnode_positions(n_shards: int) -> list[tuple[int, int]]:
    """(shard, position) literals — md5-seeded, identical in both
    engines; a shard keeps its vnode positions when the count grows
    (the property that bounds movement to the new shard's arcs)."""
    import hashlib

    out = []
    for s in range(n_shards):
        for v in range(RING_VNODES):
            pos = (
                int(hashlib.md5(f"s{s}v{v}".encode()).hexdigest()[:8], 16)
                % _RING_MOD
            )
            out.append((s, pos))
    return out


def _ring_assign_sql(tag: str, n_shards: int) -> str:
    vals = ", ".join(
        f"({s}, {p})" for s, p in _vnode_positions(n_shards)
    )
    return f"""ring_{tag}(shard, vpos) AS (VALUES {vals}),
    pick_{tag} AS (
      SELECT d.doc_id,
             coalesce(min(CASE WHEN r.vpos >= d.dpos THEN r.vpos END),
                      min(r.vpos)) AS tpos
      FROM dpos d CROSS JOIN ring_{tag} r
      GROUP BY 1
    ), asg_{tag} AS (
      SELECT p.doc_id, r.shard
      FROM pick_{tag} p JOIN ring_{tag} r ON r.vpos = p.tpos
    )"""


@query(
    "x108_reshard_audit",
    oracle=f"""
    WITH dpos AS (
      SELECT doc_id,
             list_reduce(list_transform(
               string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % {_RING_MOD} AS dpos
      FROM documents
    ),
    {_ring_assign_sql("a", RING_SHARDS_A)},
    {_ring_assign_sql("b", RING_SHARDS_B)}
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN d.dpos % {RING_SHARDS_A}
                          <> d.dpos % {RING_SHARDS_B}
                    THEN 1 ELSE 0 END) AS BIGINT) AS moved_mod,
           CAST(sum(CASE WHEN a.shard <> b.shard THEN 1 ELSE 0 END)
                AS BIGINT) AS moved_ring,
           floor(CAST(sum(CASE WHEN d.dpos % {RING_SHARDS_A}
                               <> d.dpos % {RING_SHARDS_B}
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS frac_mod,
           floor(CAST(sum(CASE WHEN a.shard <> b.shard THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS frac_ring
    FROM dpos d JOIN asg_a a USING (doc_id) JOIN asg_b b USING (doc_id)
    """,
)
def x108_reshard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movement fractions for mod-N vs consistent-ring on 8 -> 9 shards.

    Doc position = first 8 md5 hex chars of the doc_id (portable 32-bit
    value); ring assignment = the vnode with the smallest position >=
    the doc's (wraparound to the global min). Both ring tables embed as
    128/144-row literal frames — broadcast-sized forever — and the
    before/after assignments join doc-keyed. Expected readings: ~1-1/9
    of docs move under mod, ~1/9 under the ring (only arcs claimed by
    the new shard's vnodes) — the audit quantifies it on real keys.

    Scale (100 TB): one narrow hash map per doc + two broadcast
    min-over-threshold lookups + a doc-keyed join of the two
    assignments; the summary is a single combinable aggregate. At
    re-layout time the same asg frames ARE the movement manifest.
    """
    d = load_table(spark, sf_dir, "documents")
    dpos = d.selectExpr(
        "doc_id",
        f"conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        f" % {_RING_MOD}L AS dpos",
    )

    def ring_assign(tag: str, n_shards: int):
        ring = local_frame(
            spark, _vnode_positions(n_shards), "shard int, vpos long"
        )
        pick = (
            dpos.crossJoin(F.broadcast(ring))
            .groupBy("doc_id")
            .agg(
                F.coalesce(
                    F.min(
                        F.when(
                            F.col("vpos") >= F.col("dpos"), F.col("vpos")
                        )
                    ),
                    F.min("vpos"),
                ).alias("tpos")
            )
        )
        return pick.join(
            F.broadcast(ring), pick.tpos == ring.vpos
        ).select("doc_id", F.col("shard").alias(f"shard_{tag}"))

    a = ring_assign("a", RING_SHARDS_A)
    b = ring_assign("b", RING_SHARDS_B)
    j = dpos.join(a, "doc_id").join(b, "doc_id")
    moved_mod = F.when(
        F.col("dpos") % RING_SHARDS_A != F.col("dpos") % RING_SHARDS_B, 1
    ).otherwise(0)
    moved_ring = F.when(
        F.col("shard_a") != F.col("shard_b"), 1
    ).otherwise(0)
    return j.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(moved_mod).cast("bigint").alias("moved_mod"),
        F.sum(moved_ring).cast("bigint").alias("moved_ring"),
        (
            F.floor(
                F.sum(moved_mod).cast("double")
                / F.count("*").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("frac_mod"),
        (
            F.floor(
                F.sum(moved_ring).cast("double")
                / F.count("*").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("frac_ring"),
    )


# ---------------------------------------------------------------------------
# x114: referential-integrity audit — orphan counts for every foreign-
# key edge in the star schema. The ingest QA check that runs before
# any join-bearing pipeline: a non-zero orphan count means inner joins
# silently DROP rows and outer joins fabricate NULL groups. Left-anti
# joins per edge, rolled into one table.
# ---------------------------------------------------------------------------

FK_EDGES: tuple[tuple[str, str, str, str], ...] = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _fk_oracle() -> str:
    picks = []
    for child, ck, parent, pk in FK_EDGES:
        picks.append(f"""
    SELECT '{child}.{ck} -> {parent}.{pk}' AS fk_edge,
           CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM {child} c
                 WHERE c.{ck} IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM {parent} p
                                   WHERE p.{pk} = c.{ck})) AS BIGINT)
             AS n_orphans,
           CAST((SELECT count(*) FROM {child} WHERE {ck} IS NULL)
                AS BIGINT) AS n_null_keys""")
    return (
        "SELECT * FROM ("
        + "\nUNION ALL\n".join(picks)
        + ") ORDER BY fk_edge"
    )


@query("x114_fk_audit", oracle=_fk_oracle())
def x114_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan / null-key counts per star-schema foreign-key edge.

    Per edge: child rowcount, orphans (non-null child keys with no
    parent — a LEFT ANTI join, the join type built for exactly this),
    and null keys (excluded from the orphan test, reported separately
    — NULL FKs are absent-by-design, not broken). The fixtures are
    referentially clean, so all-zero orphan columns are the TRUE
    reading; tests plant a broken edge to exercise the non-zero path.

    Scale (100 TB): each edge is one anti-join keyed on the FK — the
    same shuffle the production join pays, so the audit costs one
    pre-pass of the pipeline's own join graph; dimension parents
    broadcast exactly as in the real joins. Rollup rows = |edges|.
    """
    frames = []
    for child, ck, parent, pk in FK_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent)
        orphans = (
            c.filter(F.col(ck).isNotNull())
            .join(p, c[ck] == p[pk], "left_anti")
            .agg(F.count("*").cast("bigint").alias("n_orphans"))
        )
        counts = c.agg(
            F.count("*").cast("bigint").alias("n_child"),
            F.sum(F.col(ck).isNull().cast("long"))
            .cast("bigint")
            .alias("n_null_keys"),
        )
        frames.append(
            counts.crossJoin(F.broadcast(orphans)).select(
                F.lit(f"{child}.{ck} -> {parent}.{pk}").alias("fk_edge"),
                "n_child",
                "n_orphans",
                "n_null_keys",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("fk_edge")
