"""Summary statistics for operation timings."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, lowest first.
TAIL_PERCENTILES = (75, 90, 95, 99)
MIN_BEYOND = 10


def nearest_rank(values: list[float], p: float) -> float:
    """The ``p``-th percentile by the nearest-rank rule."""
    ordered = sorted(values)
    rank = max(math.ceil(p / 100 * len(ordered)), 1)
    return ordered[rank - 1]


def tail_percentile(n: int) -> int | None:
    """The highest candidate percentile with at least ``MIN_BEYOND`` of
    ``n`` samples above its nearest rank, or None when there is none."""
    best = None
    for p in TAIL_PERCENTILES:
        if n - max(math.ceil(p / 100 * n), 1) >= MIN_BEYOND:
            best = p
    return best


def timing_summary(values: list[float]) -> dict:
    """Median, sample count and the highest percentile that has at least
    ten samples beyond it."""
    out = {"n": len(values), "p50": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p}"] = nearest_rank(values, p)
    return out


def warmup_trend(samples_by_key: dict[str, list[float]]) -> float | None:
    """Relative slow-down of the first half of each key's samples against
    its second half, median over keys (0.25 means the early samples took
    25 % longer).  None when no key has two samples."""
    ratios = []
    for times in samples_by_key.values():
        if len(times) < 2:
            continue
        half = len(times) // 2
        early = statistics.fmean(times[:half])
        late = statistics.fmean(times[len(times) - half:])
        ratios.append(early / late)
    return statistics.median(ratios) - 1 if ratios else None
