"""Host-noise probes, annotated on every run.

- ``cpu_steal_pct``: share of CPU time the hypervisor stole across the
  measured region, from the aggregate ``cpu`` line of ``/proc/stat``.
- ``spin_noise_ratio``: a fixed pure-Python spin (~100 ms) timed
  between repetitions; median over fastest. Near 1.0 on a quiet host,
  above ~1.1 under co-tenant contention even when steal reads 0.
"""

from __future__ import annotations

import statistics
import time


def proc_stat() -> tuple[int, int] | None:
    """(total, steal) jiffies of the aggregate cpu line, or None."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(before, after) -> float:
    if not before or not after or after[0] <= before[0]:
        return 0.0
    return 100.0 * (after[1] - before[1]) / (after[0] - before[0])


def _spin(iters: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i * i
    return time.perf_counter() - t0


class SpinProbe:
    def __init__(self):
        iters = 250_000
        while _spin(iters) < 0.05:
            iters *= 2
        self.iters = iters
        self.samples: list[float] = []

    def sample(self) -> None:
        self.samples.append(_spin(self.iters))

    def ratio(self) -> float:
        return statistics.median(self.samples) / min(self.samples) if self.samples else 1.0
