"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

BEYOND = 10  # samples a tail percentile must leave above it


def tail(values: list[float]) -> dict | None:
    """The highest percentile that has at least BEYOND samples above it.

    With n sorted samples that is the (n - BEYOND)-th smallest one, the
    nearest-rank percentile 100 * (n - BEYOND) / n.  Returns the value,
    that percentile and n, or None when n <= BEYOND (no such percentile
    exists).
    """
    n = len(values)
    if n <= BEYOND:
        return None
    rank = n - BEYOND
    return {
        "value": sorted(values)[rank - 1],
        "percentile": round(100.0 * rank / n, 1),
        "samples": n,
    }


def growth(values: list[float]) -> float | None:
    """Median of the last quarter of `values` over the median of the
    first quarter, leaving out the first value (the cold day)."""
    rest = values[1:]
    if len(rest) < 2:
        return None
    q = max(1, len(rest) // 4)
    first = statistics.median(rest[:q])
    return statistics.median(rest[-q:]) / first if first > 0 else None
