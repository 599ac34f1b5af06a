"""In-memory span tracing around the program's public functions.

Only the traced run installs wrappers. A wrapper replaces a module
attribute (``nl.ask.repair_sql``, ``sources.display.result_preview``,
...) with a function that records one span per call: name, start, end,
parent span and op id. Spans stay in memory and are written out once,
when the run ends. A span's self time is its duration minus the time
of its child spans.

Per op, the tracer also tags Spark jobs with a job group (the op id) and
afterwards rolls up that group's stage metrics from Spark's status
store, plus the Catalyst phase times of the op's query.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int, str]] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._op = ""
        self._patches: list[tuple[object, str, object]] = []
        self._self: dict | None = None  # self times, once spans are final

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, 0.0, 0.0, parent, self._op))
        self._stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = (name, start, end, parent, self._op)

    def traced(self, fn, name: str):
        """``fn`` wrapped to record a span per call (traced run only)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper (traced run only)."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        self._patches.append((owner, attr, fn))
        setattr(owner, attr, self.traced(fn, name))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name].append(value)

    # -- ops -------------------------------------------------------------

    @contextlib.contextmanager
    def op(self, spark, op_id: str):
        """Scope one op: its spans carry ``op_id`` and, traced, its Spark
        jobs run under job group ``op_id``."""
        self._op = op_id
        if self.enabled:
            t0 = time.perf_counter()
            spark.sparkContext.setJobGroup(op_id, op_id)
            self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            self._op = ""
            if self.enabled:
                t0 = time.perf_counter()
                spark.sparkContext._jsc.clearJobGroup()
                self.overhead_s += time.perf_counter() - t0

    def harvest(self, spark, op_id: str, df=None) -> dict[str, float]:
        """Roll up the stage metrics of the op's job group and the
        Catalyst phases of ``df``; called after the op's timer stopped."""
        if not self.enabled:
            return {}
        t0 = time.perf_counter()
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        m = dict.fromkeys(
            ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
             "shuffle_write_mb", "spill_mb", "gc_s"), 0.0)
        for job_id in tracker.getJobIdsForGroup(op_id):
            m["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                attempts = store.stageData(
                    stage_id, False, no_status, False, no_quantiles
                )
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    m["tasks"] += sd.numCompleteTasks()
                    m["executor_run_s"] += sd.executorRunTime() / 1e3
                    m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    m["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                    m["spill_mb"] += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    ) / 2**20
                    m["gc_s"] += sd.jvmGcTime() / 1e3
        if df is not None:
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # optimization and planning, if not yet run
            phases = qe.tracker().phases().iterator()
            while phases.hasNext():
                kv = phases.next()
                m[f"phase_{kv._1()}_ms"] = float(kv._2().durationMs())
        for k, v in m.items():
            self.values[f"spark.{k}"].append(v)
        self.overhead_s += time.perf_counter() - t0
        return m

    # -- results ---------------------------------------------------------

    def self_times(self) -> dict[tuple[str, str], float]:
        """(op id, span name) -> summed self time in seconds."""
        child: dict[int, float] = defaultdict(float)
        for name, start, end, parent, op in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[tuple[str, str], float] = defaultdict(float)
        for i, (name, start, end, parent, op) in enumerate(self.spans):
            out[(op, name)] += (end - start) - child[i]
        return out

    def per_op(self, name: str, ops: list[str]) -> float:
        """Median self time (s) in span ``name`` over the ``ops`` that
        passed through it; 0 when none did."""
        if self._self is None:
            self._self = self.self_times()
        vals = [self._self[(op, name)] for op in ops if (op, name) in self._self]
        return statistics.median(vals) if vals else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op}) + "\n")
