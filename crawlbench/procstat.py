"""CPU seconds and resident memory of this process and every descendant.

The benchmark's process tree is the driver Python, the JVM it launches and
the JVM's Python workers.  CPU is read from ``/proc/<pid>/stat``: for each
live process, user+system time plus the time of children it has already
reaped, so workers that exited during the run are still counted (their
parent reaped them).  Peak memory is the largest sum of RSS over the tree
seen by a sampling thread.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss(root: int) -> dict[int, float]:
    """RSS in MB of each process of the tree."""
    out = {}
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            out[pid] = int(fields[21]) * _PAGE / (1 << 20)  # stat field 24
    return out


class TreeMonitor:
    """Samples the tree's RSS every ``interval`` seconds between start() and
    stop(); CPU is read at both ends."""

    def __init__(self, root: int | None = None, interval: float = 0.25):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_rss_mb = 0.0
        self.at_peak: dict[int, float] = {}  # per-process RSS at the peak
        self.cpu_s = 0.0
        self._cpu0 = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        rss = tree_rss(self.root)
        if sum(rss.values()) > self.peak_rss_mb:
            self.peak_rss_mb = sum(rss.values())
            self.at_peak = rss

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._cpu0 = tree_cpu_s(self.root)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()
        self.cpu_s = tree_cpu_s(self.root) - self._cpu0
