"""Sample statistics shared by every workload (pure Python, no Spark)."""

from __future__ import annotations

import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, p):
    """Nearest-rank p-th percentile: the ``ceil(p/100 * n)``-th smallest."""
    s = sorted(xs)
    return s[max(1, math.ceil(p * len(s) / 100)) - 1]


def tail_percentile(xs, min_beyond=10):
    """Highest whole percentile that still has at least ``min_beyond``
    samples strictly beyond it, as ``(percentile, value, n)``.

    Uses the nearest-rank definition: the p-th percentile of n sorted
    samples is the ``ceil(p/100 * n)``-th smallest. Returns ``None`` when
    fewer than ``min_beyond + 1`` samples exist, since no percentile then
    has enough samples beyond it to be repeatable."""
    n = len(xs)
    if n <= min_beyond:
        return None
    p = math.floor(100 * (n - min_beyond) / n)
    while p > 0 and n - math.ceil(p * n / 100) < min_beyond:
        p -= 1
    return p, percentile(xs, p), n


def halves_drift(xs):
    """Medians of the first and second halves of a time-ordered sample,
    and the second's relative change over the first. A steady measured
    window gives a drift near zero; a warm-up slope shows as a negative
    drift on timings."""
    h = len(xs) // 2
    if h == 0:
        return None
    first, second = median(xs[:h]), median(xs[len(xs) - h:])
    return first, second, (second - first) / first if first else float("inf")


def open_loop_schedule(rate, seconds, start=0.0):
    """Due times of an open loop sending ``rate`` requests per second for
    ``seconds`` seconds, starting at ``start``."""
    n = int(rate * seconds)
    return [start + i / rate for i in range(n)]


def lateness(due, sent, done):
    """Open-loop accounting for one phase. Each request is timed from the
    moment it was DUE, so a stall also charges the requests queued behind
    it; ``queue_wait`` is how late the generator sent each request.

    Returns latencies and waits in seconds, in request order, plus the
    worst generator lag."""
    if not (len(due) == len(sent) == len(done)):
        raise ValueError("due, sent and done must have one entry per request")
    latency = [d - u for u, d in zip(due, done)]
    wait = [max(0.0, s - u) for u, s in zip(due, sent)]
    return {"latency": latency, "queue_wait": wait, "max_lag": max(wait, default=0.0)}
