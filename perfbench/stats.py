"""Latency summaries: median and the tail percentile with ten samples
beyond it."""

from __future__ import annotations

import statistics

#: samples that must lie above the reported tail value
TAIL_SAMPLES_ABOVE = 10


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile that still has at least ten samples above it,
    as (value, label). With ``n`` samples that is the 11th largest, the
    ``100·(n−10)/n``-th percentile (below the median while n < 21); with
    ten or fewer samples no such percentile exists and the maximum is
    reported instead (label "max")."""
    if not values:
        raise ValueError("tail of no samples")
    ordered = sorted(values)
    n = len(ordered)
    if n <= TAIL_SAMPLES_ABOVE:
        return ordered[-1], "max"
    pct = 100.0 * (n - TAIL_SAMPLES_ABOVE) / n
    return ordered[n - TAIL_SAMPLES_ABOVE - 1], f"p{pct:.1f}"


def summary(values: list[float]) -> dict:
    """p50, tail (value + label) and sample count of one latency series."""
    value, label = tail(values)
    return {
        "p50": statistics.median(values),
        "tail": value,
        "tail_pct": label,
        "n": len(values),
    }
