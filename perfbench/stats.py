"""Summary statistics shared by the benchmark's workloads."""

from __future__ import annotations

import statistics

#: Samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10


def tail_percentile(n: int) -> float:
    """The highest percentile of ``n`` samples that lands on a sample with
    :data:`TAIL_BEYOND` samples ranked above it, and never below the
    median. It moves smoothly with ``n``, so runs that complete a few more
    or fewer requests report nearly the same percentile."""
    rank = n - 1 - TAIL_BEYOND
    if rank <= (n - 1) / 2:
        return 50.0
    return 100.0 * rank / (n - 1)


def tail(values: list[float]) -> tuple[float, float]:
    """``(percentile, value)`` of the latency tail: the sample with
    :data:`TAIL_BEYOND` samples above it, or the median when there are too
    few samples for that to lie above the median."""
    ordered = sorted(values)
    p = tail_percentile(len(ordered))
    if p == 50.0:
        return p, statistics.median(ordered)
    return p, ordered[len(ordered) - 1 - TAIL_BEYOND]


def median(values: list[float]) -> float:
    return statistics.median(values)


def mean_over_kinds(by_kind: dict[str, list[float]], figure) -> float:
    """Mean over op kinds of ``figure`` of each kind's latencies: a figure
    that does not move with each kind's share of a window."""
    return statistics.fmean(figure(ms) for ms in by_kind.values())
