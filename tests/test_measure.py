"""scripts/measure.py: the per-operator loop and the scale corpus, driven
on the suite's session."""

from __future__ import annotations

import importlib.util
import os

import pytest

from ask_duckdb_spark.operators import ORACLES, QUERIES
from ask_duckdb_spark.operators.stats_audit import PHRASE
from ask_duckdb_spark.operators.textstats import BM25_TERMS
from ask_duckdb_spark.sources.catalog import TABLES, duckdb_conn
from tests.conftest import SF_DIR, persisted_rdds

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _measure_module():
    spec = importlib.util.spec_from_file_location(
        "measure", os.path.join(_ROOT, "scripts", "measure.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sweep_records_layers_and_releases_caches(spark):
    measure = _measure_module()
    before = persisted_rdds(spark)
    names = ["g1_count_star", "no_such_entry", "x27_ivf_topk"]
    recs = list(measure.measure(spark, SF_DIR, names, reps=2))
    assert [r["name"] for r in recs] == names
    assert recs[1]["error"].startswith("KeyError: "), recs[1]
    for rec in (recs[0], recs[2]):
        assert "error" not in rec, rec
        assert len(rec["walls"]) == 2
        assert rec["wall"] == min(rec["walls"])
        assert rec["build"] >= 0
        layers = rec["layers"]
        assert layers["jobs"] >= 1 and layers["tasks"] >= 1, rec
        for phase in ("analysis", "optimization", "planning"):
            assert f"phase_{phase}_ms" in layers, rec
    # x27 persists its IVF codebook; every rep released it
    assert persisted_rdds(spark) <= before


def test_profile_writes_plan_file(spark, tmp_path):
    measure = _measure_module()
    (rec,) = measure.measure(
        spark, SF_DIR, ["g1_count_star"], reps=1, plans_dir=str(tmp_path)
    )
    assert "error" not in rec, rec
    plan = (tmp_path / "g1_count_star.txt").read_text()
    assert "Physical Plan" in plan


def test_warm_up_without_sibling_sf001_is_recorded(spark, tmp_path):
    """A dir with no ``sf0.01`` beside it cannot JIT-warm the headline
    plans; the record says so instead of timing them half-warm."""
    import bench

    sf = tmp_path / "sfx"
    sf.mkdir()
    os.symlink(
        os.path.join(SF_DIR, "lineitem.parquet"), sf / "lineitem.parquet"
    )
    errors: dict[str, str] = {}
    bench.warm_up(spark, str(sf), errors)
    assert "sf0.01" in errors.get("warm_up", ""), errors


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """A factor-2 corpus of SF_DIR, with DuckDB views over it and the base."""
    out = str(tmp_path_factory.mktemp("corpus"))
    _measure_module().build_corpus(spark, SF_DIR, 2, out)
    base, scaled = duckdb_conn(SF_DIR), duckdb_conn(out)
    yield out, base, scaled
    base.close()
    scaled.close()


def _one(con, sql: str):
    return con.sql(sql).fetchone()[0]


def test_corpus_doubles_rows_and_keeps_keys_unique(corpus):
    out, base, scaled = corpus
    for t in TABLES:
        assert os.path.isdir(os.path.join(out, f"{t}.parquet")), t
        want = _one(base, f"SELECT count(*) FROM {t}")
        if t not in ("nation", "region"):
            want *= 2
        assert _one(scaled, f"SELECT count(*) FROM {t}") == want, t
    for t, key in (("orders", "o_orderkey"), ("customer", "c_custkey"),
                   ("events", "event_id")):
        sql = f"SELECT count(DISTINCT {key}) FROM {t}"
        assert _one(scaled, sql) == 2 * _one(base, sql), key


def test_corpus_keeps_join_fanout_and_retrieval_words(spark, corpus):
    out, base, scaled = corpus
    name = "x117b_plain_semijoin"
    base_rows = QUERIES[name](spark, SF_DIR).collect()
    rows = QUERIES[name](spark, out).collect()
    assert base_rows and {r["l_returnflag"]: r["n_items"] for r in rows} == {
        r["l_returnflag"]: 2 * r["n_items"] for r in base_rows
    }
    # the DuckDB views read the directory-form tables Spark wrote
    assert sorted(scaled.sql(ORACLES[name]).fetchall()) == sorted(
        map(tuple, rows)
    )
    for word in set(BM25_TERMS) | set(PHRASE):
        sql = ("SELECT count(*) FROM documents WHERE list_contains("
               f"string_split(text, ' '), '{word}')")
        n = _one(base, sql)
        assert n > 0 and _one(scaled, sql) == 2 * n, word
    # every other word carries its replica's suffix
    assert _one(scaled, "SELECT count(*) FROM documents "
                        "WHERE text NOT LIKE '%~%'") == 0
