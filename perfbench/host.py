"""Host gauges: CPU steal and busy shares, load average, process CPU
time and peak RSS."""

from __future__ import annotations

import os


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, fields 0-7 only
    (user nice system idle iowait irq softirq steal).  Fields 8-9
    (guest, guest_nice) are already counted inside user and nice."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and busy percentages of all ticks between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    idle = d[3] + d[4]
    return {
        "steal_pct": 100.0 * d[7] / total,
        "busy_pct": 100.0 * (total - idle - d[7]) / total,
    }


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def peak_rss_mb(pids: list[int]) -> float:
    """Summed VmHWM (peak resident set) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def cpu_seconds(root: int) -> float:
    """CPU time of ``root`` and every live descendant of it: user and
    system time, own and of their reaped children.  With ``root`` the
    benchmark's own process, that covers the Spark JVM it launched (in
    local mode the executors are its threads) and the ``pyspark.daemon``
    Python workers the JVM forks for Python UDFs and ``mapInPandas``."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            fields = _stat(int(name))
        except OSError:
            continue  # exited meanwhile
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime stime cutime cstime
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int | None:
    """The driver JVM launched for this Python process."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None
