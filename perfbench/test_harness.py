"""Tests for the benchmark's own arithmetic: percentiles and the tail
rule, spread statistics, and span self time.  Spark is not needed.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import os
import statistics
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, Tracer, self_times  # noqa: E402
from stats import (  # noqa: E402
    closed_loop_rate, percentile, spread, tail_percentile, typical_ms, worse_share,
)


@pytest.mark.parametrize("n, want", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (999, 90.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_is_harrell_davis():
    # symmetric sample: the median estimate is the centre
    assert percentile([4, 1, 3, 2, 5], 50) == pytest.approx(3.0, abs=1e-6)
    assert percentile([7.0] * 9, 90) == pytest.approx(7.0)
    assert percentile([10], 90) == 10
    vals = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89]
    assert min(vals) < percentile(vals, 50) < percentile(vals, 90) < max(vals)
    # for a large sample it agrees with the plain percentile
    big = np.random.default_rng(0).exponential(1.0, 20000)
    assert percentile(big, 90) == pytest.approx(np.percentile(big, 90), rel=0.01)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_percentile_moves_smoothly_across_a_gap():
    # two clusters with the median rank at the gap: moving one value across
    # it changes the plain median by the whole gap, this estimate by less
    lo, hi = [1.0] * 10, [2.0] * 10
    a = percentile(lo + [1.4] + hi, 50)
    b = percentile(lo + [1.6] + hi, 50)
    assert abs(b - a) < 0.2 * abs(np.percentile(lo + [1.6] + hi, 50)
                                  - np.percentile(lo + [1.4] + hi, 50)) + 0.05


def test_spread_uses_statistics_quantiles():
    vals = [10.0, 12.0, 11.0, 13.0, 30.0, 9.0, 10.5, 11.5, 12.5, 10.0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    s = spread(vals)
    assert (s["q1"], s["median"], s["q3"]) == (q1, med, q3)
    assert s["iqr_share"] == pytest.approx((q3 - q1) / med)


def test_typical_ms_takes_each_kinds_median_whatever_its_count():
    per_kind = {"a": [100.0, 300.0, 110.0], "b": [1000.0], "c": []}
    assert typical_ms(per_kind) == {"a": 110.0, "b": 1000.0}
    # a slow burst over fewer than half of a kind's operations is ignored
    assert typical_ms({"a": [100.0, 101.0, 900.0]})["a"] == 101.0


def test_closed_loop_rate_runs_every_kind_once_per_round():
    # one round of a 0.5 s and a 1.5 s operation: two operations in 2 s
    assert closed_loop_rate({"a": 500.0, "b": 1500.0}) == pytest.approx(1.0)


def test_worse_share_respects_direction():
    assert worse_share(100.0, 110.0, "lower") == pytest.approx(0.10)
    assert worse_share(100.0, 110.0, "higher") == pytest.approx(-0.10)
    assert worse_share(100.0, 80.0, "higher") == pytest.approx(0.20)


def _span(i, name, start, end, parent=None):
    return Span(i, name, "t", start, end, parent)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(1, "op", 0.0, 10.0),
        _span(2, "exec", 1.0, 3.0, 1),
        _span(3, "exec", 2.0, 5.0, 1),  # overlaps the first child
        _span(4, "stream", 8.0, 12.0, 1),  # runs past the parent's end
        _span(5, "exec", 8.5, 9.0, 4),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["exec"] == pytest.approx(2.0 + 3.0 + 0.5)
    assert st["stream"] == pytest.approx(4.0 - 0.5)


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    t = Tracer(True)
    with t.span("op", trace="a") as op:
        with t.span("exec") as ex:
            pass
    assert ex.parent == op.id and ex.trace == "a"
    off = Tracer(False)
    with off.span("op") as s:
        assert s is None
    assert off.spans == []
