"""Summary statistics shared by the workloads and the tracer."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError('median of no samples')
    return float(statistics.median(values))


def tail(values: list[float],
         min_beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile that still has at
    least ``min_beyond`` samples strictly above its rank, read as the
    nearest-rank order statistic. ``None`` when fewer than
    ``min_beyond + 1`` samples exist, because then no percentile has
    enough samples beyond it to be more than a single observation.

    With n sorted samples, the value at 1-based rank r has n - r
    samples beyond it, so the highest usable rank is n - min_beyond
    and its percentile is 100 * r / n."""
    n = len(values)
    if n < min_beyond + 1:
        return None
    rank = n - min_beyond
    pct = 100.0 * rank / n
    return math.floor(pct * 10) / 10, float(sorted(values)[rank - 1])


def self_time(span: tuple[float, float],
              children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it covered by child spans.
    Children are clipped to the parent interval and their overlaps are
    counted once."""
    start, end = span
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
