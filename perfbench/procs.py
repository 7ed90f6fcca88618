"""Resource readings of the benchmark's process tree from ``/proc``
(the driver, the Spark JVM and its Python workers)."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                parent[int(entry)] = int(fields[1])
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def cpu_s(pids) -> float:
    """User plus system CPU seconds of ``pids`` and their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat(pid)
        if fields:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def peak_rss_mib(pids) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``."""
    kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:  # zombies have no memory left
            kib += int(status["VmHWM"].split()[0])
    return kib / 1024.0


def steal_ticks() -> tuple[int, int]:
    """Cumulative (steal, total) CPU ticks of the host, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Clock:
    """Wall and process-tree CPU seconds of a block."""

    def __enter__(self):
        self._cpu = cpu_s(process_tree(os.getpid()))
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t
        self.cpu_s = cpu_s(process_tree(os.getpid())) - self._cpu
