"""Order statistics used by the benchmark's report."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least
    ``beyond`` samples strictly above it, never below the median.

    With n samples sorted ascending, index ``n - 1 - beyond`` has exactly
    ``beyond`` samples after it; its percentile is ``100 * (i + 1) / n``.
    When n is too small for that index to reach the median, the median
    itself is reported (percentile 50), so the printed percentile and n say
    how far into the tail the sample size allowed.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    ordered = sorted(values)
    i = n - 1 - beyond
    if i < (n - 1) / 2:
        return median(values), 50.0, n
    return ordered[i], 100.0 * (i + 1) / n, n
