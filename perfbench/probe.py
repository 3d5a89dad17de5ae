"""Readers for /proc: process-tree CPU, high-water RSS and CPU steal.

CPU is read per process from ``/proc/<pid>/stat`` as user + system time
of the process plus the time of its reaped children, so a Python worker
that exits between two readings still counts through its parent.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return s[s.rindex(")") + 2:].split()


def since_start_s() -> float:
    """Seconds since this process started (both ends on the boot clock)."""
    start = int(_stat(os.getpid())[19]) / CLK_TCK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_s(pids) -> float:
    total = 0
    for p in pids:
        st = _stat(p)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def hwm_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    ds, dt = b[0] - a[0], b[1] - a[1]
    return 100.0 * ds / dt if dt > 0 else 0.0
