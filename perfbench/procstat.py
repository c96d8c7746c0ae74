"""Process-tree and host counters read from /proc (no third-party deps).

The measured process tree is this interpreter plus everything it started:
the Spark JVM, the PySpark worker daemon and its forked Python workers.
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> dict[int, list[str]]:
    """pid -> stat fields (from field 3 on) for this process and its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            st = _stat(int(entry.name))
            if st is not None:
                stats[int(entry.name)] = st
                children.setdefault(int(st[1]), []).append(int(entry.name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of the tree, including reaped children.  The
    difference of two readings is the tree's CPU in between, also for
    workers that exited meanwhile (their parent's cutime absorbs them)."""
    # fields from 3 on: utime=11, stime=12, cutime=13, cstime=14 (0-based)
    return sum(sum(int(f) for f in st[11:15]) for st in _tree().values()) / _TICK


def tree_rss() -> dict[int, int]:
    """pid -> resident bytes for every process of the tree."""
    return {pid: int(st[21]) * _PAGE for pid, st in _tree().items()}


class PeakRss:
    """Samples the tree's summed RSS every `interval_s` while active.

    A process counts only once it has been seen by two samples in a row:
    a child the JVM has just forked or vforked reports its parent's whole
    RSS until it execs, which would count the heap twice."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._prev: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss()
        settled = sum(b for pid, b in rss.items() if pid in self._prev)
        self.peak_mb = max(self.peak_mb, settled / 2**20)
        self._prev = set(rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._prev = set(tree_rss())
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    f = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(f[8]), sum(int(x) for x in f[1:])


def dir_snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, size, mtime_ns) for every file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) that are new or rewritten in `after`."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return len(new), sum(v[1] for v in new)


class Stopwatch:
    def __enter__(self) -> "Stopwatch":
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.perf_counter() - self.t0
