"""Result checks against DuckDB oracles, and process-tree accounting."""

from __future__ import annotations

import hashlib
import math
import numbers
import os
import time

import duckdb


def _norm(v):
    """A value as a comparable, hashable token.

    Numbers compare to 9 significant digits: the engines may sum floats
    in different orders. NULL and NaN are one token.
    """
    if v is None:
        return None
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, numbers.Number):  # int, float, Decimal
        v = float(v)
        return None if math.isnan(v) else f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    return str(v)


def digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of an iterable of row tuples."""
    keys = sorted(repr(tuple(_norm(x) for x in row)) for row in rows)
    return len(keys), hashlib.sha1("\n".join(keys).encode()).hexdigest()


def pandas_rows(pdf):
    """Row tuples of a pandas frame, with NaN/NaT read as NULL."""
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return list(pdf.itertuples(index=False, name=None))


class Oracle:
    """DuckDB over the benchmark's parquet tables; times every query."""

    def __init__(self, sf_dir: str, tables, extra: dict | None = None):
        self.con = duckdb.connect()
        self.seconds = 0.0
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for name, pdf in (extra or {}).items():
            self.con.register(name, pdf)

    def digest(self, sql: str) -> tuple[int, str]:
        t0 = time.perf_counter()
        rows = self.con.sql(sql).fetchall()
        self.seconds += time.perf_counter() - t0
        return digest(rows)

    def close(self) -> None:
        self.con.close()


# -- process tree -----------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2:].split()  # fields after "(comm)"


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_stat_fields(int(name))[1])
            except (FileNotFoundError, ProcessLookupError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Peak resident set of ``root`` plus that of each JVM under it.

    Python worker processes come and go with tasks, so their count at
    any instant is noise; they are left out.
    """
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except (FileNotFoundError, ProcessLookupError):
            continue
        if pid == root or status["Name"].strip() == "java":
            kb += int(status["VmHWM"].split()[0])
    return kb / 1024


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK
