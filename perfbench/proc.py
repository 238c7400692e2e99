"""Process-tree bookkeeping from ``/proc``: peak memory and child reaping.

Memory is the proportional set size (PSS, ``/proc/<pid>/smaps_rollup``)
summed over the tree: a page shared by several processes counts once in
the sum. Summing each process's own peak (``VmHWM``) instead counts the
pages Python workers share with the daemon they were forked from once per
worker, and counts a JVM's whole heap again for every short-lived clone
the JVM forks to start a subprocess — one such clone added 1.26 GB to a
measured peak.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children(proc: str, pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"{proc}/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"{proc}/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int | None = None, proc: str = "/proc") -> list[int]:
    """Every live descendant of ``pid`` (default: this process)."""
    todo = [os.getpid() if pid is None else pid]
    seen: list[int] = []
    while todo:
        for c in _children(proc, todo.pop()):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


def pss_kb(pid: int, proc: str = "/proc") -> int:
    """Proportional set size of one process in KiB; 0 if gone."""
    try:
        with open(f"{proc}/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_kb(pid: int | None = None, proc: str = "/proc") -> int:
    """PSS summed over ``pid`` and all its live descendants."""
    root = os.getpid() if pid is None else pid
    return sum(pss_kb(p, proc) for p in [root, *descendants(root, proc)])


class PeakTreeMemory:
    """Samples :func:`tree_pss_kb` on a thread; ``peak_mb`` is the largest
    sum seen."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, tree_pss_kb())

    def start(self) -> "PeakTreeMemory":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: list[int], grace_s: float) -> list[int]:
    """Wait up to ``grace_s`` for ``pids`` to end, then SIGKILL the rest.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    killed = [p for p in pids if _alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 5.0
    while time.monotonic() < deadline and any(_alive(p) for p in killed):
        time.sleep(0.1)
    return killed


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().split(")")[-1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
