"""Tests of the benchmark's own helpers; only the job-counter test starts
a (local[1]) Spark session.

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import itertools
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.oracle import normalize_rows, rows_match, state_digest  # noqa: E402
from perfbench.spans import (  # noqa: E402
    Span, Tracer, calmest, layer_totals, next_job_id, percentile, self_times,
    tail_percentile,
)


# ---------------------------------------------------------------- percentile rule

@pytest.mark.parametrize("n, p", [(40, 75), (20, 50), (100, 90), (11, 9), (15, 33)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    values = list(range(1, n + 1))
    assert sum(v > percentile(values, p) for v in values) >= 10


@pytest.mark.parametrize("n", [0, 5, 10])
def test_tail_percentile_needs_more_than_ten_samples(n):
    assert tail_percentile(n) is None


def test_percentile_is_nearest_rank():
    values = [5, 1, 4, 2, 3]
    assert percentile(values, 50) == 3
    assert percentile(values, 100) == 5
    assert percentile(values, 1) == 1
    assert percentile(list(range(1, 41)), 75) == 30


def test_calmest_keeps_the_least_stolen_samples_in_order():
    assert calmest([0.3, 0.0, 0.2, 0.01, 0.5], 3) == [1, 2, 3]
    assert calmest([0.1, 0.2, 0.0, 0.0], 2) == [2, 3]


def test_calmest_prefers_later_samples_on_a_tie():
    assert calmest([0.0] * 5, 3) == [2, 3, 4]


# ---------------------------------------------------------------- self time

def _span(span_id, parent, start, end, **counts):
    return Span("s", span_id, 1, parent, start, end, counts)


def test_self_time_subtracts_children():
    spans = [_span(2, 1, 1.0, 3.0), _span(3, 1, 4.0, 5.0), _span(1, None, 0.0, 10.0)]
    assert self_times(spans) == pytest.approx([2.0, 1.0, 7.0])


def test_self_time_counts_overlapping_children_once_and_clips_them():
    # two overlapping children (callback threads) and one running past the end
    spans = [_span(2, 1, 1.0, 4.0), _span(3, 1, 3.0, 6.0), _span(4, 1, 9.0, 12.0),
             _span(1, None, 0.0, 10.0)]
    assert self_times(spans)[-1] == pytest.approx(10.0 - 5.0 - 1.0)


def test_layer_totals_sum_self_time_and_counts_per_name():
    spans = [Span("leaf", 2, 1, 1, 1.0, 2.0, {"jobs": 3}),
             Span("leaf", 3, 1, 1, 2.0, 4.0, {"jobs": 1}),
             Span("root", 1, 1, None, 0.0, 5.0, {"jobs": 4})]
    t = layer_totals(spans)
    assert t["leaf"] == {"self_s": 3.0, "wall_s": 3.0, "calls": 2, "jobs": 4}
    assert t["root"]["self_s"] == pytest.approx(2.0)
    assert t["root"]["jobs"] == 4


def test_tracer_nests_spans_and_shares_the_trace_id():
    clock = itertools.count()
    tracer = Tracer(lambda: {"jobs": next(clock)})
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    with tracer.span("next"):
        pass
    inner, outer, nxt = tracer.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.trace_id == outer.trace_id != nxt.trace_id
    # counters read at each boundary: outer 0..3, inner 1..2
    assert (inner.counts["jobs"], outer.counts["jobs"]) == (1, 3)


def test_tracer_wrap_restores_the_original():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tracer = Tracer()
    undo = tracer.wrap(Owner, "f", "owner.f")
    assert Owner.f(1) == 2 and [s.name for s in tracer.spans] == ["owner.f"]
    undo()
    Owner.f(1)
    assert len(tracer.spans) == 1


# ---------------------------------------------------------------- job counter

def test_next_job_id_counts_jobs_the_status_store_no_longer_lists():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[1]").appName("perfbench-test")
             .config("spark.ui.enabled", "false").config("spark.ui.retainedJobs", "5")
             .getOrCreate())
    try:
        sc = spark.sparkContext
        before = next_job_id(sc)
        for _ in range(12):
            sc.parallelize([1]).count()  # one job each
        assert next_job_id(sc) - before == 12
        assert len(sc.statusTracker().getJobIdsForGroup(None)) < 12
    finally:
        spark.stop()


# ---------------------------------------------------------------- oracle digests

def _state(rows):
    return pd.DataFrame(rows, columns=["repo", "path", "content_sha256", "last_seq"])


def test_state_digest_ignores_row_order_and_sees_every_field():
    rows = [("r1", "a", "h1", 5), ("r2", "b", None, 7), ("r1", "b", "h2", 9)]
    d = state_digest(_state(rows))
    assert state_digest(_state(rows[::-1])) == d
    assert state_digest(_state(rows[:2] + [("r1", "b", "h2", 10)])) != d
    assert state_digest(_state(rows[:2] + [("r1", "b", "h3", 9)])) != d
    assert state_digest(_state(rows[:2])) != d


def test_rows_match_ignores_row_and_column_order():
    want = normalize_rows([(1, 0.5, "x"), (2, 1.0, "y")], ["k", "v", "s"])
    assert rows_match(normalize_rows([("y", 2, 1.0), ("x", 1, 0.5)], ["s", "k", "v"]), want)
    assert not rows_match(normalize_rows([(1, 0.5, "x")], ["k", "v", "s"]), want)
    assert not rows_match(normalize_rows([(1, 0.5, "z"), (2, 1.0, "y")], ["k", "v", "s"]), want)


def test_rows_match_allows_one_unit_of_the_second_decimal():
    # a sum rounded to two decimals, summed in another order by each engine
    want = normalize_rows([(7, 1234.57)], ["k", "revenue"])
    assert rows_match(normalize_rows([(7, 1234.56)], ["k", "revenue"]), want)
    assert not rows_match(normalize_rows([(7, 1234.55)], ["k", "revenue"]), want)
