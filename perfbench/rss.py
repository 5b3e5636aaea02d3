"""Peak resident memory of this process and every descendant (the Spark
JVM, its Python workers, a spark-submit child), read from /proc."""

from __future__ import annotations

import os
import threading


def children_map() -> dict[int, list[int]]:
    """Parent pid -> child pids of every live process."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = children_map()
    out, todo = [], [root]
    while todo:
        found = kids.get(todo.pop(), [])
        out += found
        todo += found
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    return sum(_rss_bytes(pid) for pid in [root] + descendants(root))


class PeakRSS:
    """Samples the process tree's RSS every ``interval`` seconds on a
    daemon thread until ``stop``; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRSS":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak
