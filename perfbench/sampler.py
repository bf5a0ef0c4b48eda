"""Resource and ambient sampler: the benchmark's only extra thread.

Every ``period`` seconds it sums the resident set of this process and all
its descendants (the JVM that spark-submit starts and the Python workers
the JVM forks) from ``/proc``, keeping the peak. Host CPU steal is the
change in the ``steal`` column of ``/proc/stat`` over the sampled window,
as a share of all CPU time.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def tree_rss_bytes(root: int) -> int:
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (FileNotFoundError, ProcessLookupError):
            continue
        todo.extend(_children(pid))
    return total


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice.
    return sum(vals[:8]), vals[7]


class Sampler:
    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-sampler", daemon=True)
        self._cpu0 = _cpu_times()
        self._cpu1 = self._cpu0

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "Sampler":
        self._cpu0 = _cpu_times()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._cpu1 = _cpu_times()

    def steal_frac(self) -> float:
        total = self._cpu1[0] - self._cpu0[0]
        return (self._cpu1[1] - self._cpu0[1]) / total if total > 0 else 0.0
