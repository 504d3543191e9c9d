"""Arithmetic of the benchmark harness, kept free of Spark so it can be
unit-tested on its own (perfbench/tests/test_harness.py).

* percentile choice: report a median plus the highest percentile (at
  most p90) that has at least ten samples beyond it;
* span self time: a span's duration minus the union of its children's
  intervals (children from a thread pool may overlap each other);
* Spark job counting from job-id deltas, minus the jobs the harness
  itself ran inside the window (its own counts in the traced run);
* the failure tally behind ``failed`` / ``attempted``.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


def tail_percentile(n: int, min_beyond: int = 10, highest: int = 90) -> int | None:
    """Highest whole percentile ``p <= highest`` whose nearest-rank
    value leaves at least ``min_beyond`` of ``n`` samples above it, or
    None when ``n`` is too small for any percentile above the median."""
    if n <= min_beyond:
        return None
    p = min(highest, (100 * (n - min_beyond)) // n)
    return p if p > 50 else None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float], min_beyond: int = 10, highest: int = 90) -> tuple[float, int | None]:
    """(value, percentile) of the reportable tail; the maximum (percentile
    None) when there are too few samples for a percentile with
    ``min_beyond`` samples beyond it."""
    p = tail_percentile(len(values), min_beyond, highest)
    if p is None:
        return max(values), None
    return percentile(values, p), p


def spread(values: list[float]) -> dict:
    """Median, quartiles and the interquartile distance as a share of
    the median -- the steadiness figure the bounds in BENCHMARK.json
    are set from (``statistics.quantiles(values, n=4)`` quartiles)."""
    if len(values) < 2:
        v = values[0]
        return {"n": 1, "median": v, "q1": v, "q3": v, "rel_iqr": 0.0}
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "rel_iqr": (q3 - q1) / med if med else float("inf")}


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


def job_delta(before: int, after: int, excluded: list[tuple[int, int]] = ()) -> int:
    """Spark jobs submitted between two job-id readings (the scheduler's
    next job id), less the id ranges the harness consumed itself.

    Job ids are handed out by one counter for the application's life,
    so the delta cannot be capped by ``spark.ui.retainedJobs`` the way
    a ``getJobIdsForGroup`` listing is. A negative delta means the
    readings came out of order, which is a harness bug."""
    if after < before:
        raise ValueError(f"job id went backwards: {before} -> {after}")
    own = sum(max(0, min(b, after) - max(a, before)) for a, b in excluded)
    return after - before - own


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it
    raises, leaves an ERROR row in the job ledger, or a correctness
    check on its output fails; each correctness check counts as one
    attempted operation of its own."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason)
        return ok

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
