"""CPU and memory of a process tree, read from /proc.

CPU is kept per process as the last value seen, so a Python worker that
exits between two samples still counts with what it had used by the
earlier sample. Processes are split into three classes: the Python driver
(the tree's root), the JVM, and the Python workers the JVM forks. Peak
memory is the largest total resident set of the processes alive at one
sample, leaving out a child the JVM has forked but that has not yet run
its program: until then it shares the JVM's pages, and counting it read
5.4 GB instead of 2.9 GB in some curation runs.
"""

from __future__ import annotations

import os
import threading

TICKS = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
CLASSES = ("jvm", "py_driver", "py_worker")


def _stat(pid: str) -> tuple[int, str, int, int] | None:
    """(ppid, comm, utime+stime ticks, rss pages), or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    lp, rp = raw.find(b"("), raw.rfind(b")")
    rest = raw[rp + 2 :].split()
    return int(rest[1]), raw[lp + 1 : rp].decode(errors="replace"), int(rest[11]) + int(rest[12]), int(rest[21])


def all_stats() -> dict[int, tuple[int, str, int, int]]:
    """``_stat`` of every process now."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    return stats


def descendants(root: int, stats: dict | None = None) -> list[int]:
    """``root`` and every process below it, parents before children."""
    stats = all_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


class ProcTree:
    """Samples the tree rooted at ``root``; ``start_sampler`` adds a thread
    that samples every ``interval`` seconds."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root if root is not None else os.getpid()
        self._cpu: dict[int, tuple[str, int]] = {}
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> dict[str, float]:
        """Read the tree now. Returns CPU seconds used so far per class."""
        stats = all_stats()
        with self._lock:
            rss = 0
            for pid in descendants(self.root, stats):
                if pid in stats:
                    ppid, comm, cpu, pages = stats[pid]
                    cls = "py_driver" if pid == self.root else ("jvm" if comm == "java" else "py_worker")
                    self._cpu[pid] = (cls, cpu)
                    # a process the JVM is spawning shares the JVM's pages
                    # until it execs, and reads as a second JVM
                    if not (comm == "java" and stats.get(ppid, (0, ""))[1] == "java"):
                        rss += pages * PAGE
            self._peak = max(self._peak, rss)
            out = dict.fromkeys(CLASSES, 0.0)
            for cls, cpu in self._cpu.values():
                out[cls] += cpu / TICKS
        return out

    def start_sampler(self, interval: float = 0.5) -> None:
        def loop() -> None:
            while not self._stop.wait(interval):
                self.sample()

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def peak_rss(self) -> int:
        """Largest total RSS of the tree at one sample so far, in bytes."""
        with self._lock:
            return self._peak

    def stop_sampler(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def steal_ticks() -> int:
    """Host-wide steal time so far, from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])
