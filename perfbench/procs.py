"""CPU and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark process and every descendant: the Spark JVM, the
PySpark daemon and its Python workers.  CPU includes the children each
process has already reaped (``cutime``/``cstime``), so a Python worker that
exits during a job still counts through its parent.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between the listing and the read
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[str]:
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                children.setdefault(fields[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_mb(pids: list[str]) -> float:
    pages = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except (OSError, IndexError):
            pass
    return pages * _PAGE / 1e6


class PeakRss:
    """Background sampler of the tree's summed RSS; ``take()`` returns the
    peak since the previous ``take()`` (or since ``start()``)."""

    def __init__(self, root: int, interval: float = 0.05):
        self._root = root
        self._interval = interval
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _loop(self) -> None:
        pids, refreshed = tree_pids(self._root), time.monotonic()
        while not self._stop.wait(self._interval):
            if time.monotonic() - refreshed > 0.5:
                pids, refreshed = tree_pids(self._root), time.monotonic()
            rss = tree_rss_mb(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def take(self) -> float:
        rss = tree_rss_mb(tree_pids(self._root))
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0.0
        return peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
