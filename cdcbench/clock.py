"""Steal-adjusted wall clock.

On a virtual machine the hypervisor can give this machine's CPUs to
other guests ("steal"), which stretches every wall time by a factor
that has nothing to do with the code under test.  ``/proc/stat`` counts
the time the CPUs were busy and the time they wanted to run but were
stolen from.  An interval's adjusted time is its wall time scaled by
busy / (busy + steal), the share of the wanted CPU time that was
granted.  With no steal it is the wall time.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def now() -> tuple[float, int, int]:
    """``(perf_counter, busy jiffies, steal jiffies)`` at this moment."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = v[0] + v[1] + v[2] + v[5] + v[6]  # user nice system irq softirq
    steal = v[7] if len(v) > 7 else 0
    return time.perf_counter(), busy, steal


def elapsed(a: tuple, b: tuple) -> float:
    """Adjusted seconds from mark ``a`` to mark ``b``."""
    wall = b[0] - a[0]
    busy, steal = b[1] - a[1], b[2] - a[2]
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def since(a: tuple) -> float:
    return elapsed(a, now())


def stolen_s(a: tuple, b: tuple) -> float:
    """CPU seconds stolen between two marks, summed over CPUs."""
    return (b[2] - a[2]) / _TICK
