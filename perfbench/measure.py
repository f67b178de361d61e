"""Percentiles, process start time and peak memory, read from /proc."""

from __future__ import annotations

import math
import os
from typing import Iterable, Optional, Sequence

MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    rank = (len(ordered) - 1) * p / 100.0
    low = math.floor(rank)
    high = min(low + 1, len(ordered) - 1)
    return ordered[low] + (ordered[high] - ordered[low]) * (rank - low)


def samples_beyond(n: int, p: int) -> int:
    """Samples of ``n`` that lie above the ``p``-th percentile."""
    return n * (100 - p) // 100


def supported_percentile(n: int, min_beyond: int = MIN_BEYOND
                         ) -> Optional[int]:
    """The highest whole percentile with at least ``min_beyond``
    samples beyond it, or None when even the 1st has fewer."""
    for p in range(99, 0, -1):
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


def seconds_since_process_start() -> float:
    """Wall time since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        # field 22 (starttime) counts clock ticks since boot; the command
        # name in field 2 may hold spaces, so split after its ')'
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of the ``VmHWM`` high-water marks of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
