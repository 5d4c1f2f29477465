"""Peak resident memory of the Spark JVM and its Python workers, sampled
from ``/proc`` (no psutil).

The JVM is a descendant of this process (spark-submit's launcher); the
Python workers are descendants of the JVM (the pyspark daemon forks one
per task slot). A background thread walks the process tree a few times a
second and keeps the peak of each sum.
"""

from __future__ import annotations

import os
import threading

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces/parens: fields follow the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process's
    descendants: the JVM, its Python workers, and the children they have
    reaped."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17, the 12th-15th after ')'
        total += sum(int(x) for x in stat[stat.rindex(b")") + 2 :].split()[11:15])
    return total * _TICK_S


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB / 1024.0
    except OSError:
        return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Samples JVM and Python-worker RSS until ``stop()``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_jvm_mb = 0.0
        self.peak_workers_mb = 0.0
        self.peak_total_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        jvm = workers = 0.0
        for pid in descendants(os.getpid()):
            name = _comm(pid)
            if name == "java":
                jvm += _rss_mb(pid)
            elif name.startswith("python"):
                workers += _rss_mb(pid)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_workers_mb = max(self.peak_workers_mb, workers)
        self.peak_total_mb = max(self.peak_total_mb, jvm + workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
