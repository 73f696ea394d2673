"""Correctness gate: every checked operation is counted as attempted, and
every mismatch as failed, so `failed / attempted` is the run's fail_frac."""

from __future__ import annotations

import math
import sys
from datetime import datetime
from decimal import Decimal


def _norm_value(v) -> tuple:
    """Engine-neutral sort/compare key: numbers compare by value (int and
    float alike), timestamps by their µs wall-clock text, NULL and NaN
    by kind."""
    if v is None:
        return (0, 0)
    if isinstance(v, float) and math.isnan(v):
        return (1, 0)
    if isinstance(v, (bool, int, float, Decimal)):
        return (2, float(v) if isinstance(v, Decimal) else v)
    if isinstance(v, datetime):
        return (3, v.strftime("%Y-%m-%d %H:%M:%S.%f"))
    return (4, str(v))


def normalize(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Column names sorted, rows re-ordered to match and sorted — an
    order-insensitive canonical form of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = tuple(columns[i] for i in order)
    body = sorted(tuple(_norm_value(r[i]) for i in order) for r in rows)
    return names, body


def diff(expected, actual) -> str | None:
    """First difference between two normalized result sets, or None."""
    (e_cols, e_rows), (a_cols, a_rows) = expected, actual
    if e_cols != a_cols:
        return f"columns differ: expected {e_cols}, got {a_cols}"
    if len(e_rows) != len(a_rows):
        return f"row count differs: expected {len(e_rows)}, got {len(a_rows)}"
    for i, (e, a) in enumerate(zip(e_rows, a_rows)):
        if e != a:
            return f"row {i} differs: expected {e}, got {a}"
    return None


class Gate:
    """Counts attempted and failed operations; logs each failure once per
    operation name to stderr."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self._reported: set[str] = set()

    def record(self, name: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem is None:
            return True
        self.failed += 1
        if name not in self._reported:
            self._reported.add(name)
            print(f"perfbench: {name}: {problem}", file=sys.stderr)
        return False

    def expect_equal(self, name: str, expected, actual) -> bool:
        return self.record(name, None if expected == actual else f"expected {expected}, got {actual}")

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
