"""Host facts: Spark sizing derived from this machine, the host record
printed with every result, and /proc readers for CPU time and peak RSS.

Linux-only (reads /proc), like the rest of the benchmark.
"""

from __future__ import annotations

import os
import platform
import sys

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    """CPUs this process may run on: what ``nproc`` prints."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal line in /proc/meminfo")


def driver_heap_mb(total_mb: int) -> int:
    """Driver heap for ``local[*]``: 30% of host memory in 256 MiB steps,
    between 1 GiB and 8 GiB. In local mode this one heap serves every task;
    the rest of the host stays with the Python workers and the page cache."""
    return max(1024, min(8192, int(total_mb * 0.3) // 256 * 256))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _status_kb(field: str, pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"no {field} in /proc/{pid}/status")


def peak_rss_mb() -> float:
    """VmHWM of this (the Python driver) process."""
    return _status_kb("VmHWM") / 1024.0


def reset_peak_rss() -> None:
    """Restart VmHWM from the current RSS (Linux clear_refs code 5)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every process
    visible in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        table[int(name)] = (int(fields[1]), ticks / _CLK_TCK)
    return table


def tree_cpu_seconds(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and all its descendants
    (the Spark JVM, its Python daemon and the Python workers)."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in table:
            total += table[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def host_record(spark_version: str, cpus: int, heap_mb: int) -> dict:
    import pyarrow

    total = mem_total_mb()
    return {
        "nproc": cpu_count(),
        "mem_total_mb": total,
        "spark_cpus": cpus,
        "spark_driver_mem_mb": heap_mb,
        "spark": spark_version,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "machine": platform.machine(),
    }
