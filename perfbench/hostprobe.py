"""Host-capacity probe: a fixed busy loop in ``nproc`` processes.

Taken in the same window as each run (before and after it), the loop
rate tells host drift apart from an engine change: a run that is slower
while the probe also reads lower was slowed by the host."""

from __future__ import annotations

import multiprocessing
import os
import time

WINDOW_S = 0.5


def _spin(_: int) -> float:
    n = 0
    t0 = time.perf_counter()
    deadline = t0 + WINDOW_S
    while True:
        for _ in range(10_000):
            n += 1
        if time.perf_counter() >= deadline:
            break
    return n / (time.perf_counter() - t0)


def busy_loops_per_s() -> float:
    """Summed busy-loop iterations per second over one process per CPU
    of this host."""
    procs = len(os.sched_getaffinity(0))
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        return float(sum(pool.map(_spin, range(procs))))
