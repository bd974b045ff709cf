"""Unit tests of the benchmark's metric math on synthetic timings.

Run: python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import math
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402


def _samples(spec):
    """spec: {op: [(op_s, twin_s), ...]}"""
    return [M.Sample(op, o, t) for op, pairs in spec.items() for o, t in pairs]


def test_pairing_takes_per_type_medians_of_each_side():
    meds = M.per_type_medians(_samples({
        "a": [(1.0, 0.1), (3.0, 0.5), (2.0, 0.2)],
        "b": [(10.0, 5.0), (20.0, 1.0)],
    }))
    assert meds == {"a": (2.0, 0.2), "b": (15.0, 3.0)}


def test_gm_weights_each_type_equally():
    meds = {"fast": (0.01, 0.001), "slow": (10.0, 5.0)}  # 10x and 2x
    assert M.vs_twin_gm(meds) == pytest.approx(math.sqrt(20))


def test_total_is_dominated_by_heavy_types():
    meds = {"fast": (0.01, 0.001), "slow": (10.0, 5.0)}
    assert M.vs_twin_total(meds) == pytest.approx(10.01 / 5.001)


def test_common_drift_cancels_in_both_ratios():
    base = {"a": [(0.2, 0.1), (0.3, 0.1)], "b": [(1.0, 0.4), (1.2, 0.5)]}
    slow = {k: [(o * 1.7, t * 1.7) for o, t in v] for k, v in base.items()}
    m0 = M.per_type_medians(_samples(base))
    m1 = M.per_type_medians(_samples(slow))
    assert M.vs_twin_gm(m1) == pytest.approx(M.vs_twin_gm(m0))
    assert M.vs_twin_total(m1) == pytest.approx(M.vs_twin_total(m0))


def test_paired_setup_cancels_drift_and_shows_added_work():
    quiet = [(0.30, 0.10), (0.33, 0.11), (0.28, 0.10)]
    assert M.paired_setup(quiet, 0.1) == pytest.approx(0.30)
    slow = [(s * 1.4, r * 1.4) for s, r in quiet]
    assert M.paired_setup(slow, 0.1) == pytest.approx(M.paired_setup(quiet, 0.1))
    heavier = [(s + 0.1, r) for s, r in quiet]
    assert M.paired_setup(heavier, 0.1) > 1.25 * M.paired_setup(quiet, 0.1)


def test_ok_rate_counts_failures_against_attempts():
    assert M.ok_rate(10, 0) == 1.0
    assert M.ok_rate(10, 3) == 0.7
    assert M.ok_rate(4, 9) == 0.0
    with pytest.raises(ValueError):
        M.ok_rate(0, 0)


def test_failed_samples_still_pair():
    samples = _samples({"a": [(1.0, 0.5)]}) + [M.Sample("a", 3.0, 0.5, ok=False)]
    assert M.per_type_medians(samples) == {"a": (2.0, 0.5)}


def test_percentile_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert M.percentile(xs, 50) == 50.0
    assert M.percentile(xs, 90) == 90.0
    assert M.percentile([7.0], 90) == 7.0


def test_spread_matches_statistics_quartiles():
    vals = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.02, 1.01]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert M.spread(vals) == pytest.approx((q3 - q1) / med)


def test_worse_by_respects_direction():
    assert M.worse_by(2.0, 2.2, "lower") == pytest.approx(0.1)
    assert M.worse_by(2.0, 1.8, "lower") == pytest.approx(-0.1)
    assert M.worse_by(1.0, 0.98, "higher") == pytest.approx(0.02)
