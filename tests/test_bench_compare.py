"""bench.py's per-batch growth ratio: median of the late dup-free
batches over the early ones."""

import bench


def test_median_growth_ratio():
    # warm-up batch 0 and final dup batch excluded; medians over halves
    assert abs(bench._median_growth([8.0, 10.0, 11.0, 10.5, 10.6, 10.4, 10.8, 17.0]) - 1.0) < 0.05
    # one noisy batch does not set the number
    assert bench._median_growth([8.0, 10.0, 10.0, 10.0, 10.0, 30.0, 10.0, 17.0]) == 1.0
    # genuine growth still shows
    assert bench._median_growth([8.0, 10.0, 11.0, 12.0, 20.0, 22.0, 24.0, 30.0]) > 1.5
    assert bench._median_growth([1.0, 2.0, 3.0]) is None  # too short
