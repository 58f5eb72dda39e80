"""CPU time and resident memory of a process tree, read from /proc (Linux).

The tree is the benchmark's own process plus every descendant: the Spark
driver JVM and the Python workers it forks. CPU is utime + stime + cutime +
cstime summed over the live tree, so a worker that exits inside the interval
still counts once its parent reaps it.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages); None once the
    process is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    rest = data[data.rindex(b")") + 2:].split()
    if rest[0] == b"Z":
        return None
    # rest[0] is field 3 (state): ppid=4, utime..cstime=14..17, rss=24
    return int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21])


def _snapshot() -> dict[int, tuple[int, int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(root: int | None = None) -> dict[int, tuple[int, int, int]]:
    """Stats of ``root`` (default: this process) and all its descendants."""
    root = root or os.getpid()
    snap = _snapshot()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in snap:
            out[pid] = snap[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int | None = None) -> float:
    return sum(cpu for _, cpu, _ in tree(root).values()) / _CLK


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak_mb`` after stop.

    A process counts from its second sample on. The JVM starts helper
    commands by forking, and until the exec the child maps the parent's
    whole heap: counting that momentary copy would double the JVM."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = tree()
        rss = sum(st[2] for pid, st in procs.items() if pid in self._seen)
        self.peak_mb = max(self.peak_mb, rss * _PAGE / 2**20)
        self._seen = set(procs)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def wait_gone(pids: set[int], timeout_s: float) -> set[int]:
    """Wait until none of ``pids`` exists; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if _stat(p) is not None}
        if alive:
            time.sleep(0.1)
    return alive
