"""Process-tree accounting from /proc: CPU-seconds, PSS, bytes written and
host CPU steal.

The benchmark's driver process owns the Spark JVM, which owns the Python
workers, so "the tree" is every live descendant of this process. The tree
walk is bench.py's and the PSS reading is scale_bench.py's; this module
adds what those two do not measure.
"""

from __future__ import annotations

import os
import threading

from bench import _tree_pids as tree_pids
from scale_bench import _tree_rss_bytes as tree_pss_bytes

_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU-seconds of the tree: utime+stime+cutime+cstime of every live
    pid. A reaped worker's time moves into its parent's cutime/cstime, so
    this total only grows and a difference of two readings loses nothing
    to worker churn."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in rest[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / _TCK


def delta(before: dict[int, float], after: dict[int, float]) -> float:
    """Growth of a per-pid counter between two snapshots, summed per pid and
    never negative (workers that exit inside the window take their counts
    with them, so this is a lower bound)."""
    return sum(max(0.0, v - before.get(p, 0.0)) for p, v in after.items())


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal. Steal is time the hypervisor ran other
    guests while this one wanted a CPU."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time this guest wanted between two `cpu_ticks`
    readings that the hypervisor gave to other guests: steal ÷ (steal +
    busy), idle and iowait excluded. A thread on the critical path loses
    that share of its time, so wall × (1 − share) is the wall it would
    have taken on CPUs of its own."""
    d = [a - b for a, b in zip(after, before)]
    wanted = sum(d) - d[3] - d[4]
    return d[7] / wanted if wanted > 0 else 0.0


def write_bytes_by_pid() -> dict[int, int]:
    """/proc/<pid>/io write_bytes (bytes sent to the block layer)."""
    out: dict[int, int] = {}
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        out[p] = int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return out


class PssSampler:
    """Peak tree PSS, sampled at 4 Hz while `active` is set."""

    def __init__(self) -> None:
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.is_set():
                self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(0.25)

    def start(self) -> None:
        self._t.start()

    def close(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)
