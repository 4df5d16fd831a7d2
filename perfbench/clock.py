"""Timing on a shared host.

The benchmark runs on a few virtual CPUs of a shared machine. While our
threads want a CPU, the hypervisor may run another guest instead; Linux
counts that as `steal` in /proc/stat. Steal comes in bursts that last
from seconds to minutes, so it can make one run 40% slower than the next
with nothing in the program changed.

A `Stopwatch` reads, over the block it times, the wall time, the CPU
time this process and every process it started used (the JVM and the
Python workers), and the steal. `Reading.seconds` is the wall time
scaled by the share of the CPU time our processes wanted that they got:
wall * cpu / (cpu + steal). An idle virtual CPU accrues no steal, so the
steal falls on the CPUs our processes were using, and a block that got
90% of the CPU time it asked for ran about 10% longer than it would
have on a machine of its own. With no steal it is the wall time.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def steal_s() -> float:
    """CPU seconds, summed over CPUs, that the hypervisor gave to other
    guests since boot (`steal` in /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def own_cpu_s() -> float:
    """CPU seconds used by this process and its descendants, including
    those of descendants that have exited and been waited for."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


@dataclass(frozen=True)
class Reading:
    wall: float
    cpu: float
    steal: float

    @property
    def seconds(self) -> float:
        """Wall time less the share the hypervisor withheld."""
        if self.steal <= 0 or self.cpu <= 0:
            return self.wall
        return self.wall * self.cpu / (self.cpu + self.steal)


class Stopwatch:
    def __init__(self):
        self.t0, self.cpu0, self.steal0 = time.perf_counter(), own_cpu_s(), steal_s()

    def stop(self) -> Reading:
        wall = time.perf_counter() - self.t0
        return Reading(wall, own_cpu_s() - self.cpu0, steal_s() - self.steal0)
