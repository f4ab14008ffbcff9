"""Tests for the benchmark's statistics: the tail-percentile rule, the
failure accounting behind ``error_rate``, and span self time.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import math

import pytest

from stats import OpLog, Span, Tracer, self_times, tail


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100, passed in reverse
    value, pct, beyond = tail(xs[::-1])
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    assert sum(x > value for x in xs) == 10


def test_tail_with_eleven_samples_is_the_minimum():
    value, pct, beyond = tail([5.0, 1.0, 4.0, 2.0, 3.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0])
    assert (value, beyond) == (1.0, 10)
    assert math.isclose(pct, 100 / 11)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_tail_steps_down_past_ties():
    # the 10 samples above 1.0 include a tie with the candidate: 2.0
    # cannot be the tail, since only 9 samples are strictly above it
    xs = [1.0] * 5 + [2.0] * 2 + [3.0] * 9
    value, pct, beyond = tail(xs)
    assert (value, beyond) == (1.0, 11)
    assert math.isclose(pct, 100 * 5 / 16)


def test_tail_of_identical_samples_is_undefined():
    with pytest.raises(ValueError):
        tail([1.0] * 30)


def test_error_rate_counts_raised_and_failed_checks():
    log = OpLog()
    log.record(0.5, 100)
    log.record(0.7, 100, "ValueError: boom")  # raised
    log.record(0.2, 100, "3 rows vs 4 expected")  # output check failed
    log.record(0.4, 100)
    assert (log.attempted, log.failed, log.rows) == (4, 2, 400)
    assert log.error_rate == 0.5
    assert log.latencies == [0.5, 0.7, 0.2, 0.4]  # failed operations keep their time


def test_error_rate_needs_an_attempt():
    with pytest.raises(ValueError):
        OpLog().error_rate


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("api.run_script", 1.0, 4.0, 0, 0),
        Span("api.compile_pxl", 1.5, 2.0, 1, 0),
        # overlapping children of the op: their union is 5..8
        Span("api.collect", 5.0, 7.0, 0, 0),
        Span("api.collect", 6.0, 8.0, 0, 0),
    ]
    got = self_times(spans)
    want = [10.0 - 3.0 - 3.0, 3.0 - 0.5, 0.5, 2.0, 2.0]
    assert all(math.isclose(g, w) for g, w in zip(got, want))


def test_self_time_clips_children_to_the_parent():
    spans = [Span("streaming.refresh", 0.0, 2.0, None, 1), Span("api.run_script", 1.5, 3.0, 0, 1)]
    assert math.isclose(self_times(spans)[0], 1.5)


def test_tracer_nests_and_inherits_the_op():
    tr = Tracer(True)
    with tr.span("op", 7):
        with tr.span("api.run_script"):
            pass
    with tr.span("setup"):
        pass
    op, child, setup = tr.spans
    assert (child.parent, child.op) == (0, 7)
    assert (setup.parent, setup.op) == (None, None)
    assert op.start <= child.start <= child.end <= op.end


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op", 1):
        pass
    tr.add("streaming.refresh", 0.0, 1.0, op=1)
    assert tr.spans == []
