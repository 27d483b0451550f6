"""The benchmark's metric math, without Spark."""

import pytest

from benchmark import metrics


def test_tail_takes_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = metrics.tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_free_and_exact_just_above_the_median():
    xs = [float(x) for x in range(22, 0, -1)]  # 22 samples, reversed
    value, pct, n = metrics.tail(xs)
    assert (value, n) == (12.0, 22)
    assert pct == pytest.approx(100 * 12 / 22)
    assert value > metrics.median(xs)
    assert sum(x > value for x in xs) == 10


def test_tail_without_a_percentile_above_the_median_is_the_maximum():
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert metrics.tail([float(x) for x in range(21)]) == (20.0, 100.0, 21)
    assert metrics.tail([]) == (0.0, 0.0, 0)


def test_union_of_job_intervals_counts_overlap_once():
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.75), (7.0, 7.0)]
    assert metrics.union(jobs) == [(0.0, 3.0), (5.0, 6.0)]
    assert metrics.union_length(jobs) == pytest.approx(4.0)


def test_self_time_with_overlapping_children():
    # parent [0, 10]; children overlap each other and one runs past the end
    children = [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)]
    # covered inside the parent: [1, 6] + [8, 10] = 7
    assert metrics.self_time(0.0, 10.0, children) == pytest.approx(3.0)
    assert metrics.self_time(0.0, 10.0, []) == pytest.approx(10.0)
    assert metrics.self_time(0.0, 10.0, [(-5.0, 20.0)]) == pytest.approx(0.0)


def test_generator_lag_is_actual_minus_due_never_negative():
    due = [0.0, 1.0, 2.0]
    actual = [0.1, 0.9, 2.5]
    assert metrics.generator_lag(due, actual) == pytest.approx([0.1, 0.0, 0.5])


def test_error_rate_counts_failures_and_mismatches_over_attempts():
    assert metrics.error_rate(1, 2, 10) == pytest.approx(0.3)
    assert metrics.error_rate(0, 0, 4) == 0.0
    with pytest.raises(ValueError):
        metrics.error_rate(0, 0, 0)


def test_spread_is_iqr_over_median():
    values = [10.0] * 4 + [11.0, 9.0] + [10.0] * 4
    q_spread = metrics.spread(values)
    assert 0.0 <= q_spread < 0.1
    assert metrics.spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(1.0)


def _run_with_passes(shares):
    from benchmark.workloads import Run

    run = Run("curation", 1, 15.0, "unused", tracer=None)
    for i, share in enumerate(shares, start=1):
        run.passes.append([])
        run.pass_walls.append(float(i))
        run.steal[f"pass {i}"] = share
    return run


def test_passes_the_hypervisor_disturbed_are_not_counted():
    run = _run_with_passes([0.2, 0.01, 0.06, 0.0])
    run.steal["setup"] = 0.01
    assert run.counted() == [1, 3]
    assert not run.disturbed()
    run.steal["setup"] = 0.3
    assert run.disturbed()


def test_every_pass_counts_when_none_was_undisturbed():
    run = _run_with_passes([0.2, 0.3])
    assert run.counted() == [0, 1]
    assert run.disturbed()
