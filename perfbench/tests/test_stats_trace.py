"""Tail-percentile rule, span self time and attribute wrapping."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import Span, Tracer, self_time  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 49)]  # 48 samples
    p, value, beyond = stats.tail_percentile(xs)
    assert (p, value, beyond) == (79, 38.0, 10)
    # one more sample moves the rule up a notch
    p2, _, beyond2 = stats.tail_percentile(xs + [49.0])
    assert p2 == 79 and beyond2 == 10
    assert stats.tail_percentile([float(i) for i in range(100)])[0] == 90


def test_tail_percentile_needs_twenty_samples_for_the_median():
    assert stats.tail_percentile([1.0] * 19) is None
    p, _, beyond = stats.tail_percentile([float(i) for i in range(20)])
    assert p == 50 and beyond == 10


def test_tail_is_order_insensitive():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert stats.tail_percentile(xs) == stats.tail_percentile(sorted(xs))


def test_spread_matches_quartile_definition():
    values = [10.0, 11.0, 12.0, 13.0, 14.0]
    # statistics.quantiles(n=4) on 5 values: 10.5, 12, 13.5
    assert abs(stats.spread(values) - 3.0 / 12.0) < 1e-12


def test_self_time_subtracts_covered_children_once():
    parent = Span(1, "p", None, 0.0, 10.0)
    kids = [Span(2, "a", 1, 1.0, 4.0), Span(3, "b", 1, 3.0, 6.0), Span(4, "c", 1, 8.0, 12.0)]
    # children cover [1, 6] and [8, 10] inside the parent: 7 s
    assert abs(self_time(parent, kids) - 3.0) < 1e-12
    assert self_time(parent, []) == 10.0


def test_nested_spans_record_parent_and_context():
    t = Tracer()
    t.context["kind"] = "n"
    with t.span("outer") as outer:
        with t.span("inner", x=1) as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert inner.attrs == {"kind": "n", "x": 1}
    assert [s.name for s in t.spans] == ["inner", "outer"]
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_wrap_patches_from_import_bindings_and_restores():
    from gcp_dataengineering_spark.pipelines import jobs
    from gcp_dataengineering_spark.sources import io

    original = io.write_snapshot
    assert jobs.write_snapshot is original
    t = Tracer()
    t.wrap("sources.io", "write_snapshot")
    try:
        assert io.write_snapshot is not original
        assert jobs.write_snapshot is io.write_snapshot
        assert "gcp_dataengineering_spark.pipelines.jobs.write_snapshot" in t.bindings()
    finally:
        t.unwrap_all()
    assert io.write_snapshot is original and jobs.write_snapshot is original


def test_wrapped_call_records_span_and_failure():
    from gcp_dataengineering_spark.sources import io

    t = Tracer()
    t.wrap("sources.io", "write_snapshot")
    try:
        try:
            io.write_snapshot(None, "/nonexistent")
        except AttributeError:
            pass
    finally:
        t.unwrap_all()
    (span,) = t.spans
    assert span.name == "sources.io.write_snapshot" and span.failed
