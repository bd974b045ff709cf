"""Metric math, kept free of Spark so it can be unit-tested on synthetic
timings (``test_metrics.py``).

A *sample* is one timed op: its type, the op's wall time, the wall time
of its DuckDB twin run immediately after it in the same process, and
whether the op succeeded and agreed with its checks.  The box this
benchmark was built on drifts 13-29% in raw speed between processes on
identical code, but an op and its twin drift together, so the gated
numbers are ratios of medians, never raw times.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Sample:
    op: str
    op_s: float
    twin_s: float
    ok: bool = True


def per_type_medians(samples: list[Sample]) -> dict[str, tuple[float, float]]:
    """{op type: (median op seconds, median twin seconds)}."""
    by: dict[str, list[Sample]] = defaultdict(list)
    for s in samples:
        by[s.op].append(s)
    return {
        op: (
            statistics.median(s.op_s for s in ss),
            statistics.median(s.twin_s for s in ss),
        )
        for op, ss in by.items()
    }


def vs_twin_gm(meds: dict[str, tuple[float, float]]) -> float:
    """Geometric mean over op types of median op / median twin: the
    typical op, each type weighted equally."""
    logs = [math.log(o / t) for o, t in meds.values()]
    return math.exp(sum(logs) / len(logs))


def vs_twin_total(meds: dict[str, tuple[float, float]]) -> float:
    """Sum of per-type median op times over the sum of per-type median
    twin times: heavy ops dominate, as they dominate a batch run."""
    return sum(o for o, _ in meds.values()) / sum(t for _, t in meds.values())


def paired_setup(trials: list[tuple[float, float]], ref_s: float) -> float:
    """Set-up seconds at the reference speed: the median over trials of
    (engine set-up / reference set-up timed beside it), times ``ref_s``,
    the reference's seconds on a quiet machine."""
    return ref_s * statistics.median(s / r for s, r in trials)


def ok_rate(attempted: int, failed: int) -> float:
    """Share of attempted ops that ran and agreed with their checks."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    return max(0, attempted - failed) / attempted


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, math.ceil(q / 100 * len(xs)) - 1))
    return xs[k]


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, computed the
    way the acceptance check computes it."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first`` as a share of
    ``first`` (negative when it is better)."""
    d = (second - first) / first
    return d if better == "lower" else -d
