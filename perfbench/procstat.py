"""CPU time and resident memory of this process and all its descendants.

Read from ``/proc``: the benchmark's own Python process, the JVM that
``spark-submit`` launches under it, and the Python workers the JVM forks.
CPU is utime+stime plus cutime+cstime, so a worker that exits and is
reaped keeps counting through its parent. Resident memory (PSS) is
sampled by a thread.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat (1-based), after pid and comm
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_rss_by_name() -> dict[str, float]:
    """Resident MB per command name (java, python3, ...) over the tree,
    as PSS: a page shared by several processes counts once in total. A
    plain RSS sum would count the JVM twice whenever it has just forked a
    helper (Hadoop's shell calls) that has not exec'd yet."""
    out: dict[str, float] = {}
    for pid in tree_pids():
        try:
            kb = _pss_kb(pid)
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + kb / 1024
    return out


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class PeakRss:
    """Samples the tree's summed resident memory every 250 ms. ``cpu_s``
    is the CPU time the sampling itself took, so that it can be left out
    of the tree's CPU."""

    INTERVAL_S = 0.25  # a sample costs ~14 ms of CPU (smaps_rollup of the JVM)

    def __init__(self):
        self.peak_mb = 0.0
        self.peak_by_name: dict[str, float] = {}
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        c0 = time.thread_time()
        by_name = tree_rss_by_name()
        total = sum(by_name.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_by_name = total, by_name
        self.cpu_s += time.thread_time() - c0

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
