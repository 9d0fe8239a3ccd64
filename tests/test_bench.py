"""Unit checks for the pure helpers of ``bench.py``."""

import bench


def test_recall_divides_by_each_querys_exact_neighbours():
    """A query with fewer than k exact neighbours that finds all of them
    has recall 1, not |exact| / k."""
    exact = {1: {10, 11, 12}, 2: set(range(20, 30))}
    got = {1: {10, 11, 12}, 2: set(range(20, 25)) | {99}}
    assert bench._mean_recall(got, exact) == 0.75
    assert bench._mean_recall({}, exact) == 0.0
