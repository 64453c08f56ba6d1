"""Percentiles, and failures ranked slower than every success."""

import math

import harness


def test_percentile_interpolates():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert harness.percentile(xs, 50) == 3.0
    assert harness.percentile(xs, 0) == 1.0
    assert harness.percentile(xs, 100) == 5.0
    assert math.isclose(harness.percentile(xs, 90), 4.6)
    assert math.isclose(harness.percentile([1.0, 2.0], 50), 1.5)


def test_failures_rank_slower_than_every_success():
    lat = [0.1, 0.2, 0.05, 0.3, 0.01]
    failed = [False, False, True, False, True]
    ranked = harness.ranked_latencies(lat, failed)
    assert ranked == [0.1, 0.2, 0.3, 0.3, 0.3]
    # ten ops, two failed fast: p50 and p90 see them as the slowest
    lat = [0.01 * i for i in range(1, 11)]
    failed = [i in (0, 1) for i in range(10)]
    ranked = harness.ranked_latencies(lat, failed)
    assert math.isclose(harness.percentile(ranked, 50), 0.075)
    assert math.isclose(harness.percentile(ranked, 90), 0.1)
    # fixing a failure can only lower a percentile
    fixed = harness.ranked_latencies(lat, [i == 1 for i in range(10)])
    for q in (50, 90):
        assert harness.percentile(fixed, q) <= harness.percentile(ranked, q)


def test_all_failed_keeps_own_times():
    assert harness.ranked_latencies([0.2, 0.1], [True, True]) == [0.2, 0.1]
