"""Summary statistics shared by the benchmark and its compare command."""

from __future__ import annotations

import math
import statistics

# Tail percentiles tried from the highest down; a tail is reported only
# when at least MIN_BEYOND samples lie strictly beyond it.
TAILS = (99, 95, 90, 75)
MIN_BEYOND = 10


def nearest_rank(sorted_xs: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank percentile: (value, number of samples beyond it)."""
    n = len(sorted_xs)
    rank = max(1, math.ceil(p / 100 * n))
    return sorted_xs[rank - 1], n - rank


def timing(xs: list[float]) -> dict:
    """Median plus the highest tail percentile in TAILS that has at least
    MIN_BEYOND samples beyond it (none for small samples), with the count."""
    s = sorted(xs)
    out = {"n": len(s), "p50": statistics.median(s) if s else None, "tail_p": None, "tail": None}
    for p in TAILS:
        value, beyond = nearest_rank(s, p) if s else (None, 0)
        if beyond >= MIN_BEYOND:
            out["tail_p"], out["tail"] = p, value
            break
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def verdict(base: list[float], new: list[float], better: str) -> dict:
    """Compare paired runs (base[i] with new[i], in run order).

    ``better`` means the change won at least 9/10 of the pairs (ties count
    for neither side) and its median beats the base median by more than the
    base's own interquartile distance; ``worse`` is the mirror image; any
    other outcome is ``unresolved``.
    """
    sign = 1.0 if better == "higher" else -1.0
    pairs = list(zip(base, new))
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    losses = sum(1 for b, n in pairs if sign * (n - b) < 0)
    bq, nq = quartiles(base), quartiles(new)
    gap = sign * (nq[1] - bq[1])
    iqr = bq[2] - bq[0]
    need = 0.9 * len(pairs)
    if pairs and wins >= need and gap > iqr:
        v = "better"
    elif pairs and losses >= need and -gap > iqr:
        v = "worse"
    else:
        v = "unresolved"
    return {"base": bq, "new": nq, "pairs": len(pairs), "wins": wins, "losses": losses, "verdict": v}
