"""CPU and memory of the benchmark's whole process tree.

The tree is this Python process, the Spark driver JVM it launches and
the Python workers the JVM forks.  CPU is read from ``/proc/<pid>/stat``
as utime+stime plus cutime+cstime, so a worker that exits inside a
window is still counted: its parent has reaped it and carries its time.
Peak memory is the kernel's own per-process high-water mark
(``VmHWM``), reset when a window opens, so no sampling is involved.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from dataclasses import dataclass

_CLK = os.sysconf('SC_CLK_TCK')


def _proc_table() -> dict:
    """pid -> (ppid, cpu ticks incl. reaped children)."""
    table = {}
    for name in os.listdir('/proc'):
        if not name.isdigit():
            continue
        try:
            with open(f'/proc/{name}/stat') as f:
                fields = f.read().rsplit(')', 1)[1].split()
        except OSError:  # exited between listdir and open
            continue
        # after the comm field: [1]=ppid [11..14]=utime, stime, cutime, cstime
        table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def tree_pids(table: dict | None = None) -> list:
    """This process and all its descendants."""
    table = _proc_table() if table is None else table
    children = defaultdict(list)
    for pid, (ppid, _cpu) in table.items():
        children[ppid].append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(table)) / _CLK


def _reset_peaks() -> None:
    for pid in tree_pids():
        try:
            with open(f'/proc/{pid}/clear_refs', 'w') as f:
                f.write('5')  # 5: reset the peak RSS to the current RSS
        except OSError:
            pass


def _peak_rss_bytes() -> int:
    total = 0
    for pid in tree_pids():
        try:
            with open(f'/proc/{pid}/status') as f:
                for line in f:
                    if line.startswith('VmHWM:'):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs."""
    with open('/proc/stat') as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK


def loadavg() -> list:
    with open('/proc/loadavg') as f:
        return [float(x) for x in f.read().split()[:3]]


@dataclass
class Window:
    """One measured interval: wall, tree CPU, and the sum over the
    tree's processes of each one's peak RSS inside the interval."""

    name: str
    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_rss_mb: float = 0.0


class window:
    """``with window(name) as w:`` measures the body into ``w``."""

    def __init__(self, name: str):
        self.win = Window(name)

    def __enter__(self) -> Window:
        _reset_peaks()
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self.win

    def __exit__(self, *exc):
        self.win.wall_s = time.perf_counter() - self._t0
        self.win.cpu_s = tree_cpu_s() - self._cpu0
        self.win.peak_rss_mb = _peak_rss_bytes() / 1e6
        return False
