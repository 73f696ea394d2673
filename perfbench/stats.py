"""Summary statistics used by every workload report."""

from __future__ import annotations


def median(values: list[float]) -> float:
    """Median of a non-empty sample (mean of the middle two when even)."""
    s = sorted(values)
    if not s:
        raise ValueError("median of an empty sample")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def sum_of_medians(samples: dict[str, list[float]]) -> float:
    """Cost of one of each operation: the sum of the per-operation
    medians, so a slowdown of any operation moves it by that operation's
    share, and one outlier sample moves it not at all."""
    return sum(median(v) for v in samples.values())
