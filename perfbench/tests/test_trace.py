"""Span self-time arithmetic and the patching wrappers."""

from __future__ import annotations

import types

import pytest

from perfbench.trace import Span, Tracer, covered, self_times


def span(idx, start, end, parent=None):
    return Span(f"s{idx}", start, end, parent, 0, idx)


def test_covered_merges_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(3, 3), (6, 4)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        span(0, 0.0, 10.0),
        span(1, 1.0, 4.0, parent=0),
        span(2, 2.0, 3.0, parent=1),  # grandchild: counts against 1, not 0
        span(3, 6.0, 9.0, parent=0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 3 - 3)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(3)


def test_self_time_of_overlapping_children_counts_the_union():
    spans = [span(0, 0.0, 10.0), span(1, 1.0, 6.0, 0), span(2, 4.0, 8.0, 0)]
    assert self_times(spans)[0] == pytest.approx(10 - 7)


def test_patch_records_nested_spans_only_while_enabled():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    t = Tracer()
    t.patch(mod, "inner", "inner")
    t.patch(mod, "outer", "outer", after=lambda out, ctx, x: t.count("outs", out))
    assert mod.outer(1) == 4 and t.spans == []
    t.begin_op(7)
    assert mod.outer(1) == 4
    t.end_op()
    assert [(s.name, s.parent, s.op) for s in t.spans] == [("outer", None, 7), ("inner", 0, 7)]
    assert t.calls == {"outer": 1, "inner": 1}
    assert t.counts["outs"] == 4
    t.unpatch()
    assert not hasattr(mod.outer, "__wrapped__")

