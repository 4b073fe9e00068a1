"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark worker, the Spark JVM it launches and the
Python workers the JVM forks. CPU time counts each live process's
user + system time plus the time of children it has already reaped, so
the delta between two snapshots covers processes that exited in between.
Memory is the proportional set size: Python workers are forked from one
daemon and share its pages, which a plain RSS sum would count once per
worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _snapshot() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, cpu ticks incl. reaped children)}."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        # fields after "(comm)": state ppid ... utime(11) stime cutime cstime(14)
        rest = data[data.rindex(")") + 2 :].split()
        out[int(name)] = (int(rest[1]), sum(map(int, rest[11:15])))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(snap: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in snap:
            seen.append(pid)
            todo.extend(children.get(pid, ()))
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    snap = _snapshot()
    return sum(snap[p][1] for p in _tree(snap, root or os.getpid())) / _TICK


def tree_pss_mb(root: int | None = None) -> float:
    snap = _snapshot()
    return sum(_pss_kb(p) for p in _tree(snap, root or os.getpid())) / 1e3


class PeakRss:
    """Samples the tree's summed PSS on a thread; ``peak_mb`` is the max."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb())
