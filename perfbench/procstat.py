"""CPU time and resident memory of a process tree, read from /proc.

A process's CPU includes the CPU of the children it has reaped, so the
tree total stays continuous while Python workers come and go.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime + reaped children's time, summed over ``pids``."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/PID/stat (utime stime cutime cstime)
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def sample() -> dict:
    """CPU of this process tree and of its Python workers, and the
    tree's summed peak RSS (VmHWM)."""
    pids = tree()
    # the daemon and the workers it forks share its command line
    workers = [p for p in pids if "pyspark.daemon" in _cmdline(p)]
    hwm_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm_kb += int(line.split()[1])
        except OSError:
            pass
    return {"cpu_s": cpu_seconds(pids),
            "worker_cpu_s": cpu_seconds(workers),
            "peak_rss_mb": hwm_kb / 1024}


def load_average() -> float:
    return os.getloadavg()[0]


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, machine-wide."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def loop_rate(seconds: float = 0.3) -> float:
    """Millions of iterations per second of a fixed pure-Python loop on
    one core: the host's per-core speed at the moment, which on a shared
    host moves every timing of a run together."""
    n, start = 0, time.perf_counter()
    while time.perf_counter() - start < seconds:
        for _ in range(10_000):
            pass
        n += 10_000
    return n / (time.perf_counter() - start) / 1e6
