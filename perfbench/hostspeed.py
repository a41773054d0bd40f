"""Host speed: how much of a run's wall time the host took away.

On a shared virtual machine the hypervisor preempts the vCPUs while
neighbours run (``steal`` in ``/proc/stat``), and how much it steals drifts
by tens of percent over minutes. A ``Stopwatch`` reads the system-wide busy
and steal CPU time with the wall clock, so an interval's time can also be
given without the steal: over ``wall`` seconds in which the vCPUs were busy
for ``busy`` CPU-seconds and preempted for ``steal``, the work ran on
``(busy + steal) / wall`` vCPUs on average, each losing ``steal / (busy +
steal)`` of its time, so it would have taken ``wall * busy / (busy + steal)``.
"""

from __future__ import annotations

import time


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over every CPU since boot."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def unstolen(wall: float, busy: int, steal: int) -> float:
    """``wall`` seconds without the share the hypervisor stole."""
    return wall * busy / (busy + steal) if busy + steal else wall


class Stopwatch:
    """Wall clock plus the CPU ticks needed to take steal out of it."""

    def __init__(self):
        self.t = time.perf_counter()
        self.busy, self.steal = cpu_ticks()

    def read(self) -> tuple[float, float]:
        """(wall seconds, wall seconds without steal) since the start."""
        busy, steal = cpu_ticks()
        wall = time.perf_counter() - self.t
        return wall, unstolen(wall, busy - self.busy, steal - self.steal)
