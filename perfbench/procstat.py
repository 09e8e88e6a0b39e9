"""CPU and RSS of a process tree, read from ``/proc`` (no psutil).

The tree is the benchmark's worker process plus every descendant: the
Spark JVM and the Python UDF workers it forks. A process's CPU is its own
``utime + stime`` plus ``cutime + cstime`` of children it has reaped, so the
CPU of a short-lived worker stays counted after it exits.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_RSS_INTERVAL_S = 0.2


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid is field 4, utime..cstime 14..17
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return comm, int(fields[1]), cpu


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def descendants(root: int) -> dict[int, tuple[str, int, float]]:
    """Every live process in the tree under ``root`` (root included)."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in tree:
            tree[pid] = procs[pid]
            frontier.extend(p for p, (_, ppid, _) in procs.items() if ppid == pid)
    return tree


@dataclass
class CpuSample:
    driver_s: float  # the root process (Python driver)
    jvm_s: float  # java processes
    python_s: float  # every other descendant: Python UDF workers

    @property
    def total_s(self) -> float:
        return self.driver_s + self.jvm_s + self.python_s

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(
            self.driver_s - other.driver_s,
            self.jvm_s - other.jvm_s,
            self.python_s - other.python_s,
        )


def cpu(root: int) -> CpuSample:
    driver = jvm = python = 0.0
    for pid, (comm, _, sec) in descendants(root).items():
        if pid == root:
            driver += sec
        elif comm == "java":
            jvm += sec
        else:
            python += sec
    return CpuSample(driver, jvm, python)


def tree_rss(root: int) -> int:
    """Summed resident bytes of the tree (pages shared after fork count once
    per process)."""
    return sum(_rss(pid) for pid in descendants(root))


class RssPeak:
    """Samples the tree's RSS on a thread while active; ``peak`` in bytes."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(self.root))
            self._stop.wait(_RSS_INTERVAL_S)

    def __enter__(self) -> "RssPeak":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss(self.root))
