"""The percentile helpers behind the printed tail, and the tracing overhead."""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import common


@pytest.mark.parametrize("n", [21, 25, 40, 100, 257, 1000])
def test_tail_leaves_ten_samples_beyond(n):
    xs = list(np.random.default_rng(n).random(n))
    pct = common.tail_pct(n)
    tail = common.percentile(xs, pct)
    assert sum(x > tail for x in xs) >= common.TAIL_BEYOND
    # and it is the highest such percentile: one rank higher leaves fewer
    higher = sorted(xs)[n - common.TAIL_BEYOND]
    assert sum(x > higher for x in xs) < common.TAIL_BEYOND


@pytest.mark.parametrize("n", [1, 2, 5, 19, 20])
def test_tail_floors_at_the_median(n):
    assert common.tail_pct(n) == 50.0


def test_tail_percentiles():
    assert common.tail_pct(1010) == pytest.approx(100.0 * 999 / 1009)
    assert common.tail_pct(21) == 50.0


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).random(37))
    for p in (0, 12.5, 50, 73.3, 99, 100):
        assert common.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_tracing_overhead_pairs_kinds():
    vals = [1.0, 1.1, 2.0, 2.4, 5.0]
    labels = ["a", "a", "b", "b", "c"]
    traced = [False, True, False, True, True]
    # a: 1.1/1.0, b: 2.4/2.0, c ran traced only
    assert common.tracing_overhead(vals, labels, traced) == pytest.approx(0.15)
    assert common.tracing_overhead(vals, labels, [False] * 5) == 0.0

