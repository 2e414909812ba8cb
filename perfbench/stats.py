"""Percentile arithmetic shared by the workloads and the report."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still leaves ``beyond`` samples above it.

    With ``n`` samples sorted ascending, the value at 1-based rank
    ``n - beyond`` has exactly ``beyond`` samples above it; its percentile
    is ``100 * rank / n``. Below ``2 * beyond`` samples that rank falls
    under the median, so the median (rank ``ceil(n / 2)``) stands in: a
    tail is never reported below the median. Returns (value, percentile,
    n).
    """
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 2 * beyond:
        return median(values), 50.0, n
    rank = n - beyond
    return sorted(values)[rank - 1], 100.0 * rank / n, n
