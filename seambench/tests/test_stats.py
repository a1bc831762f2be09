"""The tail-percentile rule, error accounting and result comparison."""

import pytest

from stats import TAIL_BEYOND, Tally, latency, rows_match
from workloads import Env, Op, run_op


def test_tail_leaves_ten_samples_beyond():
    s = latency([float(i) for i in range(100, 0, -1)])  # 1..100, unsorted
    assert s.n == 100 and s.p50 == 50.5
    assert s.tail == 90.0 and s.tail_beyond == TAIL_BEYOND == 10
    assert s.tail_pct == 90.0


def test_tail_with_exactly_enough_samples_is_the_median():
    xs = [float(i) for i in range(1, 22)]  # 21 samples
    s = latency(xs)
    assert s.tail == 11.0 == s.p50 and s.tail_beyond == 10


@pytest.mark.parametrize("n", [1, 2, 5, 10, 11, 15, 20])
def test_tail_never_drops_below_the_median(n):
    xs = [float(i) for i in range(1, n + 1)]
    s = latency(xs)
    assert s.tail >= s.p50
    assert s.tail == xs[n // 2]  # the upper median
    assert s.tail_beyond == n - (n // 2 + 1)


def test_tail_grows_with_samples_without_jumps():
    tails = [latency([float(i) for i in range(1, n + 1)]).tail for n in range(1, 60)]
    assert all(b - a <= 1 for a, b in zip(tails, tails[1:]))


def test_latency_needs_samples():
    with pytest.raises(ValueError):
        latency([])


def test_error_rate_counts_failures_against_attempts():
    t = Tally()
    assert t.error_rate == 0.0 and not t.correct  # nothing attempted
    assert t.record("a", None)
    assert not t.record("b", "wrong")
    t.record("c", None)
    t.record("d", None)
    assert (t.attempted, t.failed, t.error_rate) == (4, 1, 0.25)
    assert not t.correct and t.problems == ["b: wrong"]


def test_run_op_counts_exceptions_and_wrong_results():
    env = Env(spark=None, work="", seed=0, cores=1, repo="")

    def boom():
        raise RuntimeError("lost\nsecond line")

    _dt, ok = run_op(env, Op("ok", "read", lambda: 1, lambda r: None))
    assert ok
    _dt, ok = run_op(env, Op("raises", "read", boom, lambda r: None))
    assert not ok
    _dt, ok = run_op(env, Op("wrong", "read", lambda: 2, lambda r: f"got {r}"))
    assert not ok
    assert env.tally.attempted == 3 and env.tally.failed == 2
    assert env.tally.problems == ["raises: RuntimeError: lost", "wrong: got 2"]


def test_rows_match_order_floats_and_nulls():
    assert rows_match([(1, "a"), (2, None)], [(2, None), (1, "a")], ordered=False) is None
    assert rows_match([(1, "a"), (2, None)], [(2, None), (1, "a")], ordered=True)
    assert rows_match([(0.1 + 0.2,)], [(0.3,)], ordered=True) is None
    assert rows_match([(0.31,)], [(0.3,)], ordered=True)
    assert rows_match([(None,)], [(0.0,)], ordered=True)
    assert rows_match([(1,)], [(1,), (1,)], ordered=False) == "1 rows, expected 2"
