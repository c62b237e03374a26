"""Summary statistics and the host stamp each run carries."""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass


@dataclass
class Window:
    """What one measured window gives the end-to-end metrics."""

    latency_ms: float  # the workload's headline latency
    latency_note: str
    ops_per_s: float
    latencies_ms: list[float]  # every measured operation, for the run record


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs: list[float], q: float) -> tuple[float, int] | None:
    """Nearest-rank ``q``-th percentile of ``xs`` and the number of
    samples strictly above its rank, or None when fewer than ten
    samples lie beyond it: a tail read from fewer is not reported."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    beyond = len(s) - rank
    if beyond < 10:
        return None
    return s[rank - 1], beyond


def _proc_stat() -> tuple[int, int] | None:
    """(steal, busy) ticks from the first line of /proc/stat; busy sums
    user, nice, system, irq and softirq. None off Linux."""
    try:
        with open("/proc/stat") as f:
            p = f.readline().split()
        return int(p[8]), int(p[1]) + int(p[2]) + int(p[3]) + int(p[6]) + int(p[7])
    except (OSError, IndexError, ValueError):
        return None


class HostStamp:
    """CPU steal share and load average over one measurement window.
    A label printed next to the metrics, not a gate on them."""

    def __init__(self) -> None:
        self._t0 = _proc_stat()

    def finish(self) -> dict:
        t1 = _proc_stat()
        share = -1.0
        if self._t0 and t1:
            ds, db = t1[0] - self._t0[0], t1[1] - self._t0[1]
            share = ds / (ds + db) if ds + db > 0 else 0.0
        try:
            load1 = os.getloadavg()[0]
        except OSError:
            load1 = -1.0
        return {"steal_share": round(share, 4), "loadavg_1m": round(load1, 2)}
