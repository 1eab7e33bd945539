"""Readings from ``/proc`` for the benchmark's own processes.

On a shared virtual machine other guests take CPU time away in bursts
that last minutes (``steal`` in ``/proc/stat``); a store call's wall time
then grows by up to 2x while the CPU time it uses moves far less. The
benchmark therefore times steady-state work in CPU seconds of the driver
process and the JVM, without the JVM's JIT compiler threads: how much the
compiler still has to do during a cycle depends on how warm the JVM is,
not on the store's code.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str) -> int:
    """User plus system clock ticks of one process or thread."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


class CpuClock:
    """CPU seconds used by ``pids`` (the driver, then the JVM), less the
    JVM's JIT compiler threads. The JVM must keep a fixed set of compiler
    threads (``-XX:-UseDynamicNumberOfCompilerThreads``): a compiler thread
    that exited would take its ticks out of the subtracted sum."""

    def __init__(self, pids: list[int]) -> None:
        self.stats = [f"/proc/{p}/stat" for p in pids]
        tasks = f"/proc/{pids[-1]}/task"
        self.jit = []
        for tid in os.listdir(tasks):
            with open(f"{tasks}/{tid}/comm") as f:
                if f.read().strip().startswith(JIT_THREADS):
                    self.jit.append(f"{tasks}/{tid}/stat")

    def __call__(self) -> float:
        return (sum(map(_ticks, self.stats)) - sum(map(_ticks, self.jit))) / TICK


def steal_s() -> float:
    """CPU seconds this machine's processors have lost to other guests."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident memory (VmHWM)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024
