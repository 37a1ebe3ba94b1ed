"""Unit tests for the benchmark's pure logic (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402
import stats  # noqa: E402
import streams  # noqa: E402

CATALOGUE = [f"PS{k:04d}D" for k in range(1000)]


def test_fetch_requests_are_seed_deterministic():
    a = streams.fetch_requests(7, CATALOGUE, 200)
    assert a == streams.fetch_requests(7, CATALOGUE, 200)
    assert a != streams.fetch_requests(8, CATALOGUE, 200)


def test_fetch_requests_shape():
    windows = {(s, e) for s, e, _w in streams.WINDOWS}
    reqs = streams.fetch_requests(3, CATALOGUE, 500)
    assert all(reqs[i] in reqs[:i] for i in range(2, len(reqs), streams.REFRESH_EVERY))
    for r in reqs:
        assert 1 <= len(r.codes) <= streams.MAX_CODES
        assert len(set(r.codes)) == len(r.codes)
        assert set(r.codes) <= set(CATALOGUE)
        assert r.freq in streams.FREQS
        assert (r.start, r.end) in windows


def test_fetch_requests_are_skewed():
    counts = Counter(c for r in streams.fetch_requests(5, CATALOGUE, 2000) for c in r.codes)
    top = sum(n for _c, n in counts.most_common(10))
    assert top > 0.3 * sum(counts.values())


def test_release_batches_partition_the_ids():
    ids = list(range(1003))
    batches = streams.release_batches(4, ids, 250)
    assert batches == streams.release_batches(4, ids, 250)
    assert batches != streams.release_batches(5, ids, 250)
    assert [len(b) for b in batches] == [250, 250, 250, 250, 3]
    assert sorted(i for b in batches for i in b) == ids
    assert all(b == sorted(b) for b in batches)
    with pytest.raises(ValueError):
        streams.release_batches(4, ids, 0)


def test_query_order_is_balanced_and_seeded():
    names = ["a", "b", "c", "d"]
    order = streams.query_order(9, names, 14)
    assert order == streams.query_order(9, names, 14)
    assert order != streams.query_order(10, names, 14)
    counts = Counter(order)
    assert set(counts) == set(names)
    assert max(counts.values()) - min(counts.values()) <= 1


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 90) == pytest.approx(3.7)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert stats.samples_beyond(99, 90) == 9
    assert stats.samples_beyond(100, 90) == 10
    assert stats.tail([1.0] * 99) is None
    p, _v, beyond = stats.tail([float(i) for i in range(100)])
    assert (p, beyond) == (90.0, 10)
    p, _v, beyond = stats.tail([float(i) for i in range(1000)])
    assert (p, beyond) == (99.0, 10)
    p, v, _n = stats.tail([float(i) for i in range(10_000)])
    assert (p, v) == (99.9, stats.percentile([float(i) for i in range(10_000)], 99.9))


def _span(sid, parent, start, end, name="x"):
    return spans.Span(sid, name, parent, 0, start, end)


def test_self_time_subtracts_children():
    s = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0),
         _span(3, 1, 1.5, 2.5)]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    s = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0), _span(2, 0, 3.0, 6.0),
         _span(3, 0, 9.0, 12.0)]
    assert spans.self_times(s)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_tracer_links_nested_calls_and_restores():
    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = spans.Tracer()
    t.patch(Layer, "outer", "a.outer")
    t.patch(Layer, "inner", "b.inner")
    assert Layer().outer() == 2 and t.spans == []
    t.enabled, t.op = True, 3
    assert Layer().outer() == 2
    outer, inner = t.spans
    assert (outer.name, outer.parent, inner.name, inner.parent) == ("a.outer", None, "b.inner", 0)
    assert outer.op == inner.op == 3
    assert outer.start <= inner.start <= inner.end <= outer.end
    t.restore()
    assert Layer.outer.__code__.co_name == "outer"


def test_summarize_does_not_double_count_recursion():
    s = [_span(0, None, 0.0, 4.0, "f"), _span(1, 0, 1.0, 3.0, "f"),
         _span(2, None, 4.0, 5.0, "g")]
    out = spans.summarize(s, ops=2)
    assert out["f"]["incl_s"] == pytest.approx(2.0)
    assert out["f"]["self_s"] == pytest.approx(2.0)
    assert out["f"]["calls"] == 1.0
    assert out["g"]["self_s"] == pytest.approx(0.5)


def test_count_exchanges_reads_only_the_final_plan():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 2
   +- ShuffleQueryStage 1
      +- Exchange hashpartitioning(a#1, 32), ENSURE_REQUIREMENTS, [plan_id=9]
         :- BroadcastQueryStage 0
         :  +- BroadcastExchange HashedRelationBroadcastMode(List(input[0])), [plan_id=3]
         +- ReusedExchange [a#1], Exchange hashpartitioning(a#1, 32)
+- == Initial Plan ==
   Exchange hashpartitioning(a#1, 32), ENSURE_REQUIREMENTS, [plan_id=5]
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=6]
"""
    assert spans.count_exchanges(plan) == 2
    assert spans.count_exchanges("Project\n+- Exchange SinglePartition\n") == 1
