"""Fast self-tests of the benchmark (no Spark session).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import decimal
import json
import os
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _ops(errors=(), known_bad=()):
    ops = []
    for i in range(12):
        op = run.Op(f"q{i}", "t", known_bad=i in known_bad)
        op.seconds, op.rows = 0.1 + i / 100, 3
        op.error = "AnalysisException" if i in errors else ""
        op.cold = i < 4
        ops.append(op)
    return ops


def _ctx(tracer):
    hs = types.SimpleNamespace(slowdown=lambda: (1.1, 0.9))
    return types.SimpleNamespace(tracer=tracer, duckdb_s=0.5, hs=hs)


def test_generators_are_deterministic_per_seed():
    assert workloads.ask_blocks(7, 3) == workloads.ask_blocks(7, 3)
    assert workloads.ask_blocks(7, 3) != workloads.ask_blocks(8, 3)
    assert workloads.ingest_cuts(7, 0, 1000, 4) == workloads.ingest_cuts(7, 0, 1000, 4)
    assert workloads.ingest_cuts(7, 0, 1000, 4) != workloads.ingest_cuts(8, 0, 1000, 4)


def test_question_stream_shape():
    blocks = workloads.ask_blocks(3, 3)
    first = blocks[0]
    assert first[0].template == "nl_revenue"  # same cold first question on every seed
    assert len(first) == len(workloads.TEMPLATES)
    asked = {q for b in blocks[:1] for q in b}
    repeats = [q for q in blocks[1] if q in asked]
    # later blocks repeat earlier questions verbatim (a fresh question
    # may also match an earlier one: the literal domains are small)
    assert len(blocks[1]) == len(workloads.TEMPLATES) + len(workloads.REPEATS)
    assert set(workloads.REPEATS) <= {q.template for q in repeats}
    for block in (first, blocks[1]):
        nl = sum(q.kind == "nl" for q in block)
        assert abs(nl / len(block) - 2 / 3) < 0.05
    assert any(q.known_bad for q in first)
    cuts = workloads.ingest_cuts(3, 100, 900, 4)
    assert cuts == sorted(cuts) and 100 < cuts[0] and cuts[-1] < 900


def test_pass_counts_at_benchmark_seconds():
    n = run.n_passes(BENCH["run_seconds"], run.PASS_S["ask_session"])
    assert sum(map(len, workloads.ask_blocks(1, n))) >= 60
    assert run.n_passes(BENCH["run_seconds"], run.PASS_S["cdc_ingest"]) >= 4


def test_fixture_tables_are_present():
    from ask_duckdb_spark.sources.catalog import TABLES

    for sf in (run.ASK_SF, run.INGEST_SF):
        for t in TABLES:
            assert os.path.isfile(os.path.join(run.Context.data(sf), f"{t}.parquet"))


def test_p90_interpolates():
    assert run.p90([1.0]) == 1.0
    assert abs(run.p90([float(i) for i in range(11)]) - 9.0) < 1e-9
    assert 9.0 < run.p90([float(i) for i in range(12)]) < 10.0


def test_trace_overhead_reads_untraced_records(tmp_path):
    ctx = types.SimpleNamespace(tracer=types.SimpleNamespace(overhead_s=1.0))
    args = types.SimpleNamespace(trace=1, workload="ask_session", seed=5)
    # no untraced record: the tracer's own share, a lower bound
    assert run.trace_overhead(ctx, args, 20.0, str(tmp_path)) == (0.05, "tracer_calls")
    for seed, wall in ((4, 10.0), (6, 12.0), (7, 14.0)):
        (tmp_path / f"ask_session-seed{seed}-trace0.json").write_text(
            json.dumps({"measured_s": wall}))
    got, basis = run.trace_overhead(ctx, args, 18.0, str(tmp_path))
    assert (round(got, 9), basis) == (0.5, "median_of_3")
    (tmp_path / "ask_session-seed5-trace0.json").write_text(json.dumps({"measured_s": 15.0}))
    got, basis = run.trace_overhead(ctx, args, 18.0, str(tmp_path))
    assert (round(got, 9), basis) == (0.2, "same_seed")


def test_end_to_end_names_match_benchmark():
    got = run.end_to_end(10.0, 5.0, 900.0, _ops(), [1.0, 2.0])
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: u for k, (_, u) in got.items()} == want
    assert all(v > 0 for v, _ in got.values())


def test_traced_run_emits_every_layer_name():
    tracer = spans.Tracer(True)
    got = run.layer_metrics(_ctx(tracer), _ops(), 8.0, 4.0, 20.0, 0.1)
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: u for k, (_, u) in got.items()} == want


def test_injected_failure_raises_fail_ratio():
    bad, failed, ratio = run.outcome(_ops())
    assert (bad, failed, ratio) == ([], [], 0.0)
    bad, failed, ratio = run.outcome(_ops(errors=(4,)))
    assert ratio > 0 and [op.id for op in failed] == ["q4"]
    # a question the program is known to get wrong counts in the
    # ratio but does not mark the run incorrect
    bad, failed, ratio = run.outcome(_ops(errors=(5,), known_bad=(5,)))
    assert ratio > 0 and failed == []


def test_spans_self_time_and_restore():
    tracer = spans.Tracer(True)
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tracer.wrap(mod, "f", "layer.f")
    with tracer.span("outer"):
        assert mod.f(1) == 2
    tracer.restore()
    assert mod.f is original
    names = [s[0] for s in tracer.spans]
    assert names == ["outer", "layer.f"]
    assert tracer.spans[1][3] == 0  # parent of the inner span
    st = tracer.self_times()
    outer = tracer.spans[0][2] - tracer.spans[0][1]
    inner = tracer.spans[1][2] - tracer.spans[1][1]
    assert abs(st[("", "outer")] - (outer - inner)) < 1e-9


def test_untraced_run_installs_nothing():
    tracer = spans.Tracer(False)
    mod = types.SimpleNamespace(f=len)
    tracer.wrap(mod, "f", "layer.f")
    assert mod.f is len and tracer.spans == []


def test_digest_is_order_insensitive_and_tolerates_float_order():
    a = [(1, "x", 0.1 + 0.2), (2, None, 1.0)]
    b = [(2, None, 1), (1, "x", decimal.Decimal("0.300"))]
    assert check.digest(a) == check.digest(b)
    assert check.digest(a) != check.digest([(1, "x", 0.31), (2, None, 1.0)])


def test_host_slowdown_is_over_the_reference():
    import hostspeed

    hs = hostspeed.HostSpeed.__new__(hostspeed.HostSpeed)
    ref = hostspeed.REF_WALL_S
    hs.walls = [2 * ref, 2 * ref, 3 * ref, 9 * ref]  # a slow tail does not count
    hs.cpus = [c * hostspeed.REF_CPU_S for c in (1, 2, 3, 2)]
    wall, cpu = hs.slowdown()
    assert abs(wall - 2.0) < 1e-9 and abs(cpu - 2.0) < 1e-9
    assert abs(hs.slowdown(3)[0] - 9.0) < 1e-9  # one sample: itself
    hs.walls, hs.cpus = [3 * ref], [hostspeed.REF_CPU_S]
    assert abs(hs.slowdown()[0] - 3.0) < 1e-9
    # dividing by the slowdown gives reference-host seconds
    e2e = run.end_to_end(10.0, 6.0, 900.0, _ops(), [1.0, 2.0], (2.0, 3.0, 4.0))
    raw = run.end_to_end(10.0, 6.0, 900.0, _ops(), [1.0, 2.0])
    assert e2e["setup_s"][0] == 5.0 and e2e["cpu_s"][0] == 2.0
    assert e2e["first_answer_s"][0] == raw["first_answer_s"][0] / 4.0  # first pass's own
    assert e2e["answer_p50_s"][0] == raw["answer_p50_s"][0] / 2.0
    assert abs(e2e["rows_per_s"][0] - 2.0 * raw["rows_per_s"][0]) < 1e-9
