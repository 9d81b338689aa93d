"""CPU, memory and host facts read from ``/proc``.

The engine runs as a process tree: this Python driver, the JVM it launches
and the Python UDF workers the JVM forks. Spark's ``executorCpuTime`` leaves
out the Python workers, so CPU is read here for the whole tree instead:
``utime + stime`` of every live process plus ``cutime + cstime`` (children
already reaped) of each.
"""

from __future__ import annotations

import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    pages = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            pass
    return pages * _PAGE / 2**20


class RssPeak:
    """Background sampler of the tree's summed RSS every 0.2 s; ``reset()``
    starts a new window and ``peak`` is the largest sum seen in it."""

    def __init__(self) -> None:
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(0.2)

    def reset(self) -> None:
        self.peak = tree_rss_mb()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


class HostWindow:
    """Host facts plus load and system-CPU share over the run's window, so a
    result can be judged against how busy the machine was."""

    def __init__(self, parallelism: int) -> None:
        self.parallelism = parallelism
        self.load_start = os.getloadavg()[0]
        self._j0 = _cpu_jiffies()

    def block(self) -> dict:
        import pyspark

        j1 = _cpu_jiffies()
        d = [b - a for a, b in zip(self._j0, j1)]
        with open("/proc/meminfo") as f:
            mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
        return {
            "nproc": os.cpu_count(),
            "mem_total_mb": round(mem_kb / 1024),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "parallelism": self.parallelism,
            "load1_start": self.load_start,
            "load1_end": os.getloadavg()[0],
            # /proc/stat order: user nice system idle iowait irq softirq steal
            "system_cpu_share": round(d[2] / max(sum(d), 1), 4),
            "steal_cpu_share": round(d[7] / max(sum(d), 1), 4),
            "at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
