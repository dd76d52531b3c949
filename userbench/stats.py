"""Summary statistics used by the benchmark."""

from __future__ import annotations

import math
import statistics

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (the
    product is rounded first: 0.999 * 10000 is 9990.000000000002)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile on ``TAIL_LADDER`` that has at least
    ``min_beyond`` of ``n`` samples strictly beyond its nearest rank, or
    None when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= min_beyond:
            best = p
    return best


def median(values) -> float:
    return float(statistics.median(values))


def spread(values) -> float:
    """Inter-quartile distance as a share of the median (the steadiness
    measure: ``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of [start, end] that its child
    spans ``[(c_start, c_end), ...]`` cover (overlaps counted once)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
