"""Resident memory and CPU time of this process and every process it started.

psutil is not available, so both are read from ``/proc``: the process
table is walked for descendants of this PID (the JVM that PySpark launches
is one) and their ``VmRSS`` or ``utime + stime`` summed.

The run's timing metrics are built on CPU time. On a VM the hypervisor
steals a varying share of the CPUs; that swings wall time by tens of
percent between runs but is not charged to the processes. The JVM's JIT
compiler threads are counted apart: they still take 5-16% of the CPU
several passes after the first, and what they do depends on the JVM, not
on the work the program asks for.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PROC = Path("/proc")
_TICKS = os.sysconf("SC_CLK_TCK")


def _split_stat(text: str) -> tuple[str, list[str]]:
    """(command name, fields after it: state is index 0, ppid 1, utime 11, stime 12)."""
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in _PROC.iterdir():
        if not entry.name.isdigit():
            continue
        try:
            _, fields = _split_stat((entry / "stat").read_text())
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(entry.name))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, ()))
    return pids


def _rss_kb(pid: int) -> int:
    try:
        for line in (_PROC / str(pid) / "status").read_text().splitlines():
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(root: int) -> int:
    """Summed RSS (KiB) of ``root`` and all of its descendants."""
    return sum(_rss_kb(pid) for pid in _tree(root))


class CpuMeter:
    """User + system CPU seconds of this process and its live descendants.

    ``read()`` returns (all, JIT compiler threads). Every compiler thread
    seen is remembered with its last reading, so a retired thread's time
    stays in the JIT share, as it stays in its process's total. A thread
    that starts and retires between two reads is never seen, so run.py
    starts the JVM with ``-XX:-UseDynamicNumberOfCompilerThreads``: its
    compiler threads then live as long as the JVM.
    """

    def __init__(self) -> None:
        self._jit_ticks: dict[tuple[int, str, str], int] = {}  # (pid, tid, start) -> ticks

    def read(self) -> tuple[float, float]:
        total = 0
        for pid in _tree(os.getpid()):
            try:
                _, fields = _split_stat((_PROC / str(pid) / "stat").read_text())
                tasks = list((_PROC / str(pid) / "task").iterdir())
            except OSError:
                continue
            total += int(fields[11]) + int(fields[12])  # includes exited threads
            for task in tasks:
                try:
                    name, tf = _split_stat((task / "stat").read_text())
                except OSError:
                    continue
                if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    self._jit_ticks[(pid, task.name, tf[19])] = int(tf[11]) + int(tf[12])
        return total / _TICKS, sum(self._jit_ticks.values()) / _TICKS


class PeakRss:
    """Background sampler; ``peak_mb`` is the largest tree RSS seen."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._peak_kb = 0

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self._peak_kb = max(self._peak_kb, tree_rss_kb(pid))
            if self._stop.wait(self._interval):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._peak_kb = max(self._peak_kb, tree_rss_kb(os.getpid()))
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0
