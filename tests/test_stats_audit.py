"""Semantic gates for the retrieval/audit operators (x125-x132).

All eight carry full value-hashed DuckDB oracles, checked bit-exact by
tests/test_oracle_parity.py (the shared oracle also makes the scan and
postings phrase forms row-equal); these tests pin what oracle equality
can't see — phrase-count semantics against an independent Python
recompute (overlaps counted), the FD verdict matrix, correlation
values against numpy's reference implementation on the same integer
grid, the winsorized bounds being exact rank selections with the
documented clamp counts, the Benford ppm arithmetic, and the
collocation lift ranking against a pure-Python Counter recompute,
and the KS drift table against a numpy CDF recompute.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import scripts.diffcheck as diffcheck
from ask_duckdb_spark.operators import ORACLES, QUERIES
from ask_duckdb_spark.operators.stats_audit import (
    CORR_COLS,
    CORR_PAIRS,
    FD_PAIRS,
    PHRASE,
)
from ask_duckdb_spark.sources.catalog import duckdb_conn

from conftest import SF_DIR


def _docs_tokens():
    tbl = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    return {r.doc_id: r.text.lower().split() for r in tbl.itertuples()}


def test_x125_matches_python_recount(spark):
    out = {
        r["doc_id"]: r["n_occurrences"]
        for r in QUERIES["x125_phrase_match"](spark, SF_DIR).collect()
    }
    k = len(PHRASE)
    expect = {}
    for doc_id, toks in _docs_tokens().items():
        n = sum(
            1
            for i in range(len(toks) - k + 1)
            if tuple(toks[i : i + k]) == PHRASE
        )
        if n:
            expect[doc_id] = n
    assert out == expect
    assert len(out) > 0  # the fixture phrase actually occurs


def test_x125_counts_overlaps(spark):
    # the counting expression counts overlapping starts: verify on a
    # crafted frame through the same expression the operator uses
    from pyspark.sql import functions as F

    from ask_duckdb_spark.operators.stats_audit import _phrase_count

    df = spark.createDataFrame([("a a a a",), ("a b a",), ("",)], ["text"])
    got = df.select(
        _phrase_count(F.split(F.col("text"), " "), ("a", "a")).alias("n")
    ).collect()
    assert [r["n"] for r in got] == [3, 0, 0]


def test_x126_verdict_matrix(spark):
    rows = {
        (r["lhs"], r["rhs"]): r
        for r in QUERIES["x126_fd_audit"](spark, SF_DIR).collect()
    }
    assert set(rows) == set(FD_PAIRS)
    # the key FD holds with zero violation mass; every other audited
    # pair fails with positive mass
    key = rows[("o_orderkey", "o_custkey")]
    assert key["fd_holds"] and key["n_extra"] == 0
    for pair, r in rows.items():
        assert r["n_extra"] == r["n_pairs"] - r["n_lhs"]
        if pair != ("o_orderkey", "o_custkey"):
            assert not r["fd_holds"] and r["n_extra"] > 0


def test_x127_matches_numpy(spark):
    li = pd.read_parquet(
        f"{SF_DIR}/lineitem.parquet",
        columns=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    grids = {
        "l_quantity": np.floor(li.l_quantity + 0.5),
        "l_extendedprice": np.floor(li.l_extendedprice + 0.5),
        "l_discount": np.floor(li.l_discount * 100 + 0.5),
        "l_tax": np.floor(li.l_tax * 100 + 0.5),
    }
    out = {
        (r["col_x"], r["col_y"]): r
        for r in QUERIES["x127_corr_matrix"](spark, SF_DIR).collect()
    }
    assert len(out) == len(CORR_PAIRS)
    for i, j in CORR_PAIRS:
        cx, cy = CORR_COLS[i][0], CORR_COLS[j][0]
        ref = np.corrcoef(grids[cx], grids[cy])[0, 1]
        r = out[(cx, cy)]
        assert r["n_rows"] == len(li)
        assert abs(r["corr"] - ref) < 1.5e-6  # floor-round at 6 digits


def test_x128_bounds_are_rank_selections(spark):
    li = pd.read_parquet(
        f"{SF_DIR}/lineitem.parquet", columns=["l_returnflag", "l_extendedprice"]
    )
    li["v"] = np.floor(li.l_extendedprice * 100 + 0.5).astype("int64")
    out = {
        r["l_returnflag"]: r
        for r in QUERIES["x128_winsorized_stats"](spark, SF_DIR).collect()
    }
    for rf, grp in li.groupby("l_returnflag"):
        v = np.sort(grp.v.to_numpy())
        n = len(v)
        # exact integer rank math, mirroring the operator (ceil(n*k/100)
        # as (n*k + 99) // 100 — no float ceil anywhere)
        lo = v[max(1, (n * 5 + 99) // 100) - 1]
        hi = v[(n * 95 + 99) // 100 - 1]
        r = out[rf]
        assert r["n_rows"] == n
        assert r["lo_bound"] == lo / 100.0 and r["hi_bound"] == hi / 100.0
        clamped = np.clip(v, lo, hi)
        assert r["winsorized_mean"] == float(clamped.sum()) / n / 100.0
        assert r["n_clamped_lo"] == int((v < lo).sum())
        assert r["n_clamped_hi"] == int((v > hi).sum())
        # winsorization clamps ~5% per tail (rank selection, ties aside)
        assert r["n_clamped_lo"] <= np.ceil(n * 0.05)


def test_x130_benford_audit(spark):
    import math

    rows = {r["first_digit"]: r for r in QUERIES["x130_benford_audit"](spark, SF_DIR).collect()}
    assert set(rows) <= set(range(1, 10))
    n = sum(r["n_obs"] for r in rows.values())
    li = pd.read_parquet(f"{SF_DIR}/orders.parquet", columns=["o_totalprice"])
    assert n == len(li)
    for d, r in rows.items():
        expect_n = int((np.floor(li.o_totalprice).astype("int64").astype(str).str[0] == str(d)).sum())
        assert r["n_obs"] == expect_n
        assert r["obs_ppm"] == r["n_obs"] * 1_000_000 // n
        assert r["benford_ppm"] == math.floor(math.log10(1 + 1 / d) * 1e6 + 0.5)
        assert r["dev_ppm"] == r["obs_ppm"] - r["benford_ppm"]


def test_x131_collocation_lift(spark):
    from collections import Counter

    from ask_duckdb_spark.operators.stats_audit import MIN_COLLOC_COUNT

    toks = _docs_tokens()
    cu = Counter(w for ts in toks.values() for w in ts)
    n = sum(cu.values())
    cb = Counter(
        (ts[i], ts[i + 1]) for ts in toks.values() for i in range(len(ts) - 1)
    )
    scored = {
        (w1, w2): ((c_xy * 1_000_000 // cu[w1]) * n) // cu[w2]
        for (w1, w2), c_xy in cb.items()
        if c_xy >= MIN_COLLOC_COUNT
    }
    expect = sorted(
        ((lift, w1, w2) for (w1, w2), lift in scored.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    got = QUERIES["x131_collocations"](spark, SF_DIR).collect()
    assert len(got) == 20
    for row, (lift, w1, w2) in zip(got, expect):
        assert (row["w1"], row["w2"], row["lift_ppm"]) == (w1, w2, lift)
        assert (row["c_x"], row["c_y"], row["c_xy"]) == (
            cu[w1],
            cu[w2],
            cb[(w1, w2)],
        )


def test_x132_ks_matches_numpy(spark):
    df = pd.read_parquet(
        f"{SF_DIR}/documents.parquet", columns=["source", "n_chars"]
    )
    out = {
        r["source"]: r for r in QUERIES["x132_ks_drift"](spark, SF_DIR).collect()
    }
    assert set(out) == set(df.source.unique())
    allv = np.sort(df.n_chars.unique())
    for s, r in out.items():
        a = np.sort(df[df.source == s].n_chars.to_numpy())
        b = np.sort(df[df.source != s].n_chars.to_numpy())
        fa = np.searchsorted(a, allv, side="right")
        fb = np.searchsorted(b, allv, side="right")
        d_scaled = int(np.max(np.abs(fa * len(b) - fb * len(a))))
        assert r["n_s"] == len(a)
        assert r["d_scaled"] == d_scaled
        assert r["d_ppm"] == d_scaled * 1_000_000 // (len(a) * len(b))
        # the float KS statistic agrees to the ppm floor
        d_float = np.max(np.abs(fa / len(a) - fb / len(b)))
        assert abs(r["d_ppm"] / 1e6 - d_float) < 1e-6


def test_x132_grid_bound_enforced_on_high_cardinality_metric(
    spark, tmp_path
):
    """VERDICT r11 item 6: the 1e4-cell grid discipline is a code
    guard, not a docstring contract. Fuzz a metric whose span (~2e7)
    and distinct count (20k) far exceed KS_GRID_CELLS and assert
    (a) Spark and the lockstep oracle still agree value-for-value,
    (b) the evaluation grid actually collapsed to <= KS_GRID_CELLS
    cells, and (c) the quantized statistic tracks the exact numpy KS
    on the RAW values to the documented resolution."""
    from ask_duckdb_spark.operators.stats_audit import KS_GRID_CELLS

    rng = np.random.default_rng(12)
    n = 20_000
    src = rng.choice(["a", "b", "c"], size=n, p=[0.5, 0.3, 0.2])
    # Source "c" is genuinely shifted so the test sees a non-trivial D.
    v = np.where(
        src == "c",
        rng.integers(5_000_000, 25_000_000, size=n),
        rng.integers(0, 20_000_000, size=n),
    )
    pdf = pd.DataFrame({"source": src, "n_chars": v})
    path = f"{tmp_path}/documents.parquet"
    pdf.to_parquet(path)

    got = QUERIES["x132_ks_drift"](spark, str(tmp_path)).toPandas()
    with duckdb_conn(str(tmp_path)) as con:
        want = con.sql(ORACLES["x132_ks_drift"]).df()
    assert diffcheck.compare(got, want) == []

    # (b) the grid is bounded by construction: every quantized cell
    # index lands in [0, cells), so |grid| <= KS_GRID_CELLS even
    # though the raw metric has ~20k distinct values over a 2e7 span.
    mn, span = int(v.min()), int(v.max()) - int(v.min()) + 1
    cells = np.unique((v - mn) * KS_GRID_CELLS // span)
    assert len(np.unique(v)) > KS_GRID_CELLS  # the fuzz is actually hard
    assert len(cells) <= KS_GRID_CELLS
    assert cells.min() >= 0 and cells.max() < KS_GRID_CELLS

    # (c) quantization loses at most ~the largest per-cell mass of D.
    for _, r in got.iterrows():
        a = np.sort(v[src == r["source"]])
        b = np.sort(v[src != r["source"]])
        allv = np.unique(v)
        fa = np.searchsorted(a, allv, side="right") / len(a)
        fb = np.searchsorted(b, allv, side="right") / len(b)
        d_exact = np.max(np.abs(fa - fb))
        assert r["d_ppm"] / 1e6 <= d_exact + 1e-9  # grid never inflates D
        assert d_exact - r["d_ppm"] / 1e6 < 2e-3  # and loses ~cell mass


def test_x126_structural_pairs_survive_adversarial_values(spark, tmp_path):
    """ADVICE r7: the retired '#'-concat pair image conflated (a) a NULL
    rhs with a literal '\x01' rhs and (b) lhs 'x#y'/rhs 'z' with lhs
    'x'/rhs 'y#z'. The structural count(DISTINCT (a, b)) must keep all
    four pairs distinct — on BOTH engines (the oracle changed too)."""
    import datetime as dt

    d1, d2 = dt.datetime(1995, 1, 1), dt.datetime(1996, 1, 1)
    rows = [
        (1, 10, "F", d1, None),     # NULL rhs ...
        (2, 10, "F", d1, "\x01"),   # ... vs literal sentinel rhs
        (3, 11, "x#y", d2, "z"),    # concat-image collision pair ...
        (4, 11, "x", d2, "y#z"),    # ... same '#'-joined string
        (5, 12, None, d1, "p"),     # NULL lhs: outside the audit
        (6, 12, "x", d2, "y#z"),    # true duplicate pair: counted once
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{sf}/orders.parquet")

    got = {
        (r["lhs"], r["rhs"]): r
        for r in QUERIES["x126_fd_audit"](spark, sf).collect()
    }
    r = got[("o_orderstatus", "o_orderpriority")]
    # 3 distinct non-NULL lhs, 4 distinct structural pairs (the old
    # encoding reported n_pairs=2 here -> n_extra=-1, fd_holds garbage)
    assert r["n_lhs"] == 3 and r["n_pairs"] == 4
    assert r["n_extra"] == 1 and not r["fd_holds"]

    con = duckdb_conn(sf)
    oracle = con.sql(ORACLES["x126_fd_audit"]).df()
    orow = oracle[
        (oracle.lhs == "o_orderstatus") & (oracle.rhs == "o_orderpriority")
    ].iloc[0]
    assert int(orow.n_pairs) == 4 and int(orow.n_extra) == 1
    con.close()
