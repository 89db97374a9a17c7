"""Host-speed probe: a fixed, single-threaded CPU-bound loop, timed in
the CPU time of the thread that runs it."""

from __future__ import annotations

import time

PROBE_ITERS = 100_000
# the probe's thread CPU time on the reference host; any fixed value works,
# since results are compared between runs on one machine
REF_PROBE_CPU_S = 0.007


def probe_cpu_s() -> float:
    """Thread CPU seconds of one fixed loop."""
    c0 = time.thread_time()
    x = 0
    for i in range(PROBE_ITERS):
        x ^= i * 7
    return time.thread_time() - c0
