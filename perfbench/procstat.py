"""Process-tree and host counters read from ``/proc`` (Linux only).

The benchmark's process tree is this Python process, the Spark JVM it
launches, and the JVM's Python worker daemon with its forked workers.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List, Optional, Tuple

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Optional[List[str]]:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat(pid)
    return f is not None and f[0] != "Z"


def descendants(root: int) -> List[int]:
    """``root`` and every live process below it."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_mb(pids: List[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / 2**20


def cpu_s(pids: List[int]) -> float:
    """User + system CPU of ``pids``, including reaped children (a worker
    that exits inside a window is then still counted, through its parent)."""
    ticks = 0
    for pid in pids:
        f = _stat(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def host_cpu() -> Tuple[int, int]:
    """(steal ticks, all ticks) of the host from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


class RssSampler:
    """Samples the summed RSS of a process tree until stopped; keeps the peak,
    and the split of that peak between this process, the JVM and the JVM's
    Python workers (run detail, to tell which part moved)."""

    def __init__(self, root: int, jvm_pid: int, interval_s: float = 0.2):
        self.root = root
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts: Dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        tree = descendants(self.root)
        below = [p for p in descendants(self.jvm_pid) if p != self.jvm_pid]
        parts = {
            "driver": rss_mb([self.root]),
            "jvm": rss_mb([self.jvm_pid]),
            "workers": rss_mb(below),
            "n_workers": float(len(below)),
        }
        total = rss_mb(tree)
        if total > self.peak_mb:
            self.peak_mb, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Window:
    """CPU, steal and wall time of the process tree over a ``with`` block.

    ``jvm_pid`` splits the tree: the JVM process itself, and everything
    below it (the Python worker daemon and its workers)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _snap(self):
        below = [p for p in descendants(self.jvm_pid) if p != self.jvm_pid]
        return time.perf_counter(), cpu_s([self.jvm_pid]), cpu_s(below), host_cpu()

    def __enter__(self) -> "Window":
        self._start = self._snap()
        return self

    def __exit__(self, *exc) -> None:
        t1, jvm1, py1, (st1, all1) = self._snap()
        t0, jvm0, py0, (st0, all0) = self._start
        self.wall_s = t1 - t0
        self.jvm_cpu_s = jvm1 - jvm0
        # python workers alive at the start and reaped by the end move from
        # their own counters into the daemon's cutime, so the sum stays exact
        # only while the daemon lives; a negative delta means it restarted
        self.py_cpu_s = max(py1 - py0, 0.0)
        self.steal_pct = 100.0 * (st1 - st0) / max(all1 - all0, 1)
