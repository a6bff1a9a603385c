"""Small statistics helpers shared by the workloads and the tests."""

from __future__ import annotations

import statistics

#: a tail percentile is reported only with at least this many samples beyond it
TAIL_SAMPLES_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float] | None:
    """The highest percentile that has at least ``TAIL_SAMPLES_BEYOND`` samples above it.

    Returns ``(percentile, value)``: the value at sorted rank
    ``n - TAIL_SAMPLES_BEYOND`` (1-based), which has exactly that many
    samples beyond it, labelled with the share of samples at or below it.
    ``None`` when there are not more than ``TAIL_SAMPLES_BEYOND`` samples,
    because then no percentile qualifies.
    """
    ordered = sorted(values)
    n = len(ordered)
    if n <= TAIL_SAMPLES_BEYOND:
        return None
    rank = n - TAIL_SAMPLES_BEYOND
    return 100.0 * rank / n, ordered[rank - 1]


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
