"""The host's speed, read from a fixed reference job timed between ops.

A shared host runs the benchmark at a speed that changes from minute to
minute: other tenants take the cores away for slices of time (steal) and
share their caches and clock. On a 4-core Spark session that slows a
whole run by up to half, because every stage waits for its slowest task.
The benchmark therefore runs a fixed reference job between ops: a Spark
aggregate over a generated range, in its own session with pinned SQL
confs, so it is the same job whatever the program under test does. The
run's lower-quartile wall time of the job, and its mean CPU time, each
over the same figure on the reference host, give the run's slowdown; the
metrics are divided by it, so that they read as seconds on the
reference host. The lower quartile, not the median: the upper half of
the job's times holds the program's own after-effects (garbage
collection, JIT compiles), not the host's speed.
"""

from __future__ import annotations

import os
import statistics
import time

#: Rows of the reference job: about 40 ms on the reference host.
ROWS = 2_000_000
#: SQL confs of the reference session, pinned against the program's.
PINNED = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.shuffle.partitions": "1",
}
#: The job's lower-quartile wall and mean CPU time (s, JVM plus driver)
#: on the reference host, a 4-vCPU Intel Xeon VM with the session local[4].
REF_WALL_S = 0.036
REF_CPU_S = 0.105
#: Unrecorded runs of the job before the first sample: code generation
#: and the JIT.
WARM = 16

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    utime, stime = raw[raw.rindex(")") + 2:].split()[11:13]
    return (int(utime) + int(stime)) / _TICK


class HostSpeed:
    def __init__(self, spark, nproc: int):
        ref = spark.newSession()
        for k, v in PINNED.items():
            ref.conf.set(k, v)
        self._df = ref.range(0, ROWS, 1, nproc).selectExpr("sum(id % 7) AS s")
        self._want = sum(i % 7 for i in range(7)) * (ROWS // 7) + sum(range(ROWS % 7))
        self._jvm = spark.sparkContext._gateway.proc.pid
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.spent_s = 0.0  # wall of the recorded samples
        for _ in range(WARM):
            self._run()

    def _run(self) -> tuple[float, float]:
        c0 = _proc_cpu_s(self._jvm) + time.process_time()
        t0 = time.perf_counter()
        got = self._df.collect()[0][0]
        wall = time.perf_counter() - t0
        cpu = _proc_cpu_s(self._jvm) + time.process_time() - c0
        if got != self._want:
            raise AssertionError(f"reference job returned {got}, not {self._want}")
        return wall, cpu

    def sample(self, n: int = 1) -> None:
        """Run the job ``n`` times and record them."""
        for _ in range(n):
            wall, cpu = self._run()
            self.walls.append(wall)
            self.cpus.append(cpu)
            self.spent_s += wall

    def slowdown(self, start: int = 0, end: int | None = None) -> tuple[float, float]:
        """(wall, cpu): the job's time over the reference host's, over
        samples ``start:end`` (all by default).

        CPU time is read in clock ticks, so it is averaged rather than
        taken as a quantile.
        """
        walls, cpus = self.walls[start:end], self.cpus[start:end]
        wall = statistics.quantiles(walls, n=4)[0] if len(walls) > 1 else walls[0]
        return wall / REF_WALL_S, sum(cpus) / len(cpus) / REF_CPU_S
