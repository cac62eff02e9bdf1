"""CPU time and resident memory of this process and all its descendants,
read from ``/proc``: the benchmark process, the Spark JVM it launches and the
Python worker daemon and workers the JVM forks."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """``root`` and every live descendant (children lists of all threads)."""
    out, i = [root], 0
    while i < len(out):
        pid = out[i]
        i += 1
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    return out


def _cpu_rss(pid: int) -> tuple[int, int] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    # fields[0] is stat field 3 (state): utime=14, stime=15, rss=24
    return int(fields[11]) + int(fields[12]), int(fields[21])


def cpu_snapshot(root: int) -> dict[int, int]:
    """pid -> cumulative user+system clock ticks for the process tree."""
    snap = {}
    for pid in descendants(root):
        s = _cpu_rss(pid)
        if s is not None:
            snap[pid] = s[0]
    return snap


def cpu_seconds(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU burnt between two snapshots; a process born in between counts in
    full, one that died in between loses its last unsampled ticks."""
    ticks = sum(t - before.get(pid, 0) for pid, t in after.items())
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        s = _cpu_rss(pid)
        if s is not None:
            total += s[1] * _PAGE
    return total


class PeakRss:
    """Background sampler of the tree's summed RSS while ``active``."""

    def __init__(self, root: int, interval: float = 0.2) -> None:
        self.root, self.interval = root, interval
        self.peak = 0
        self.active = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                self.sample()

    def sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self.peak = max(self.peak, rss)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def reap_descendants(root: int, timeout: float = 20.0) -> None:
    """TERM every descendant of ``root``, KILL stragglers, and wait until
    none is left (grandchildren are not ours to waitpid, so poll)."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        left = [p for p in descendants(root) if p != root]
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if not left or time.monotonic() > deadline + 10:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)
