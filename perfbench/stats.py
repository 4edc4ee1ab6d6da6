"""The benchmark's statistics: medians, quartiles, the tail rule, the
ratios it reports with their bases, and the check that two sets of runs
agree."""

from __future__ import annotations

import statistics

#: a tail percentile is reported only with at least this many samples beyond it
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) < 2:
        raise ValueError("quartiles need at least two samples")
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it: ``(percentile, value, samples_beyond)``. With ``n`` samples that is
    the order statistic of rank ``n - TAIL_BEYOND``, the
    ``100 * (n - TAIL_BEYOND) / n``-th percentile."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"a tail needs more than {TAIL_BEYOND} samples, got {n}")
    ordered = sorted(xs)
    k = n - TAIL_BEYOND
    return 100.0 * k / n, ordered[k - 1], n - k


def growth_ratio(per_op: list[float]) -> tuple[float, float, float]:
    """Median of the last half over the median of the first half of the
    operations after the first: ``(ratio, first_half_median,
    last_half_median)``. An odd middle operation belongs to neither half."""
    rest = per_op[1:]
    half = len(rest) // 2
    if half < 1:
        raise ValueError("growth needs at least three operations")
    first, last = median(rest[:half]), median(rest[-half:])
    return last / first, first, last


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first`` as a share of ``first``
    (negative when it is better)."""
    if better == "lower":
        return (second - first) / first
    if better == "higher":
        return (first - second) / first
    raise ValueError(f"better must be 'lower' or 'higher', got {better!r}")


def agree(first: list[float], second: list[float], better: str, bound: float) -> bool:
    """Two sets of runs agree when the second median is not worse than the
    first by more than ``bound``."""
    return worse_by(median(first), median(second), better) <= bound
