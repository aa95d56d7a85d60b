"""Small statistics and failure accounting shared by the benchmark and its
spread check."""

from __future__ import annotations

import math
import statistics
import sys
import traceback


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` % of
    the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``p`` percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_tail(n: int, min_beyond: int = 10,
                 ladder: tuple[float, ...] = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)) -> float | None:
    """The highest percentile of ``ladder`` that has at least ``min_beyond``
    samples beyond it, or None when even the lowest has fewer."""
    for p in ladder:
        if beyond(n, p) >= min_beyond:
            return p
    return None


def iqr_share(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of ``statistics.quantiles``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


class Tally:
    """Operations attempted and failed.  An operation fails when it raises
    or when a check finds its result wrong; each counts once."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def ok(self, passed: bool, what: str) -> bool:
        """Record one operation whose outcome is ``passed``."""
        self.attempted += 1
        if not passed:
            self.failed += 1
            self.reasons.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return passed

    def call(self, what: str, fn, *args, **kwargs):
        """Run one operation; a raise counts as a failure and returns None."""
        try:
            out = fn(*args, **kwargs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.ok(False, f"{what} raised")
            return None
        self.attempted += 1
        return out

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
