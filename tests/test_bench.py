"""Unit checks for the pure helpers of ``bench.py``."""

import bench


def test_recall_divides_by_each_querys_exact_neighbours():
    """A query with fewer than k exact neighbours that finds all of them
    has recall 1, not |exact| / k."""
    exact = {1: {10, 11, 12}, 2: set(range(20, 30))}
    got = {1: {10, 11, 12}, 2: set(range(20, 25)) | {99}}
    assert bench._mean_recall(got, exact) == 0.75
    assert bench._mean_recall({}, exact) == 0.0


def test_scale_n_is_a_quarter_of_the_affinity():
    """N→4N must fit the CPUs the process may use: N = affinity // 4,
    at least 1 (a host under 4 CPUs publishes no efficiency)."""
    assert bench.scale_n(32) == 8
    assert bench.scale_n(4) == 1
    assert bench.scale_n(7) == 1
    assert bench.scale_n(8) == 2
    assert bench.scale_n(2) == 1
    assert bench.scale_n(1) == 1
