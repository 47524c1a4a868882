"""CPU and resident memory of this process and all its descendants, from /proc.

Spark's own `executorCpuTime` leaves out the Python daemon and the
pandas UDF workers it forks, so CPU is taken from the kernel instead.
A process's CPU is utime + stime, plus cutime + cstime for children it
has already reaped: when a Python worker exits and the daemon waits for
it, its CPU moves into the daemon's c-fields and stays in the tree's
total.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes), or None if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name is in parentheses and may hold spaces
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss_pages = int(fields[21])
    return ppid, (utime + stime + cutime + cstime) / _TICK, rss_pages * _PAGE


def _tree(root: int) -> dict[int, tuple[int, float, int]]:
    """/proc stats of `root` and its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return tree


def tree_usage() -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over this process and its
    descendants."""
    tree = _tree(os.getpid()).values()
    return sum(s[1] for s in tree), sum(s[2] for s in tree)


def tree_pids() -> set[int]:
    return set(_tree(os.getpid()))


class TreeSampler:
    """Background thread that tracks the process tree's peak RSS per
    label; `label` returns what is running now (the innermost traced
    layer). Use as a context manager."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.label = lambda: ""
        self.peaks: dict[str, int] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            _, rss = tree_usage()
            label = self.label()
            with self._lock:
                self.peaks[label] = max(self.peaks.get(label, 0), rss)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
