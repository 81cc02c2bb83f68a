"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def job_p50(jobs: list[tuple[str, float]]) -> float:
    """Median job latency, taken per job kind and then across kinds.

    A pass runs each kind once, so the plain median of a two-kind
    workload would fall between the slowest job of the faster kind and
    the fastest job of the slower one, and jump with either; the median
    of the per-kind medians does not.
    """
    by_kind: dict[str, list[float]] = {}
    for kind, seconds in jobs:
        by_kind.setdefault(kind, []).append(seconds)
    return median([median(v) for v in by_kind.values()])


def tail(values: list[float]) -> tuple[float, float, int]:
    """(latency, percentile, n) at the highest percentile that has at
    least ``TAIL_BEYOND`` samples beyond it.

    With n samples sorted ascending that is the (n - 10)-th one: exactly
    ten samples are slower.  Below 2 x 10 samples that rank is at or under
    the median, which is no tail, so the maximum is reported and the
    percentile is 100.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n <= 2 * TAIL_BEYOND:
        return float(s[-1]), 100.0, n
    k = n - TAIL_BEYOND  # 1-based rank of the reported sample
    return float(s[k - 1]), 100.0 * k / n, n
