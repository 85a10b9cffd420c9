from stats import percentile


def test_p90_needs_ten_samples_beyond_it():
    assert percentile([float(i) for i in range(99)], 0.9) is None
    assert percentile([float(i) for i in range(100)], 0.9) == 89.0


def test_p50_nearest_rank():
    assert percentile([float(i) for i in range(1, 21)], 0.5) == 10.0
    assert percentile([1.0] * 19, 0.5) is None
