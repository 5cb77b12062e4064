"""Small statistics helpers shared by the runner and the comparison script."""

from __future__ import annotations

import statistics
import time

TAIL_MIN_SAMPLES = 40
TAIL_BEYOND = 10


def tail(samples: list[float]) -> float | None:
    """The highest percentile of ``samples`` that has at least ten samples
    beyond it: the 11th largest value. None below forty samples, where
    that percentile would be no tail."""
    if len(samples) < TAIL_MIN_SAMPLES:
        return None
    return sorted(samples)[len(samples) - TAIL_BEYOND - 1]


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (Python's
    ``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def worse_by(before: float, after: float, better: str) -> float:
    """How much ``after`` is worse than ``before``, as a share of ``before``
    (negative when it is better)."""
    delta = (after - before) if better == "lower" else (before - after)
    return delta / before if before else float("inf")


def cpu_loop_s(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop: a host-speed reading taken
    before and after each run, so host drift can be told from a program
    change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t0
