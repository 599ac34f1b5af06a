"""scripts/measure.py: the per-operator loop, driven on the suite's session."""

from __future__ import annotations

import importlib.util
import os

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
    names = ["g1_count_star", "no_such_entry", "x116_merge_upsert"]
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
    # x116 persists its MERGE source; every rep released it
    assert persisted_rdds(spark) <= before


def test_profile_writes_plan_file(spark, tmp_path):
    measure = _measure_module()
    (rec,) = measure.measure(
        spark, SF_DIR, ["g1_count_star"], reps=1, plans_dir=str(tmp_path)
    )
    assert "error" not in rec, rec
    plan = (tmp_path / "g1_count_star.txt").read_text()
    assert "Physical Plan" in plan
