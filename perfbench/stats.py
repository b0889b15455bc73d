"""Summary statistics and the parent-vs-change verdict rule."""

from __future__ import annotations

import statistics

PERCENTILES = (50, 75, 80, 90, 95, 99, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile of ``values`` (0 <= p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest of PERCENTILES with at least ``min_beyond`` of ``n``
    samples beyond it, or None when even the median has too few."""
    best = None
    for p in PERCENTILES:
        if round(n * (100 - p) / 100.0, 9) >= min_beyond:
            best = p
    return best


def verdict(parent: list[float], change: list[float], better: str = "lower") -> dict:
    """Decide whether ``change`` beats ``parent`` over alternating pairs.

    ``parent[i]`` and ``change[i]`` are one pair (same seed, run back to
    back). A win needs the change to be better in at least nine tenths
    of all pairs (ties count for neither side) and the two medians to
    differ by more than the parent's interquartile distance. A loss is
    the same rule with the sides swapped; anything else is a tie.
    """
    if len(parent) != len(change) or not parent:
        raise ValueError("verdict needs equal, non-empty pair lists")
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    n = len(parent)
    med_p, med_c = statistics.median(parent), statistics.median(change)
    if n >= 2:
        q1, _, q3 = statistics.quantiles(parent, n=4)
        iqr = q3 - q1
    else:
        iqr = 0.0
    apart = abs(med_c - med_p) > iqr
    if wins >= 0.9 * n and apart:
        outcome = "win"
    elif losses >= 0.9 * n and apart:
        outcome = "loss"
    else:
        outcome = "tie"
    return {
        "outcome": outcome,
        "pairs": n,
        "change_better": wins,
        "parent_better": losses,
        "parent_median": med_p,
        "change_median": med_c,
        "parent_iqr": iqr,
    }
