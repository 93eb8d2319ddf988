"""Summary statistics, metric-name rules and /proc readings of the
benchmark process tree. Pure Python, importable without Spark."""

from __future__ import annotations

import math
import os
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def check_metric_name(name: str) -> str:
    """Metric names travel as JSON keys and file tokens: letters,
    digits, ``_``, ``.``, ``-`` and nothing else."""
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the numpy default) of a
    non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values: list[float]) -> tuple[float, float]:
    """(p, value) for the highest percentile in ``TAIL_LADDER`` that
    leaves at least ten samples above it. A sample too small for even
    p50 to have ten beyond it reports p50: the tail then says nothing
    more than the median, and the printed percentile shows that."""
    n = len(values)
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= 10:  # 100 - 99.9 is inexact
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


# ---- process tree (/proc) ---------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens: split after the LAST ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it (driver, JVM, Python
    workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s_of(pids: list[int]) -> float:
    """utime+stime of ``pids`` plus what they have reaped from exited
    children (cutime+cstime), in seconds."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def tree_cpu_s(root: int) -> float:
    return cpu_s_of(descendants(root))


def tree_peak_rss_mb(root: int) -> float:
    """Sum of each live member's peak RSS (VmHWM): an upper bound on
    the tree's peak, since members need not peak together."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def python_workers(root: int) -> list[int]:
    """PySpark worker processes (``pyspark.daemon`` and its forks)
    below ``root``."""
    out = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out.append(pid)
    return out


# ---- noise context ----------------------------------------------------


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields)


class NoiseContext:
    """What the host was doing around the timed region. Recorded with
    every run and never used to drop or rescale one."""

    def __init__(self) -> None:
        self.nproc = len(os.sched_getaffinity(0))
        self.cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        self.load_start = loadavg_1m()
        self._steal0, self._total0 = cpu_ticks()

    def finish(self) -> dict:
        steal, total = cpu_ticks()
        d_total = total - self._total0
        return {
            "nproc": self.nproc,
            "SPARK_GRAFT_CPUS": self.cpus_env,
            "loadavg_1m_start": self.load_start,
            "loadavg_1m_end": loadavg_1m(),
            "cpu_steal_share": round((steal - self._steal0) / d_total, 6) if d_total else 0.0,
        }
