"""The percentile helpers of the benchmark (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import statistics

import pytest

from perfbench import common


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert common.percentile(xs, 0) == 1.0
    assert common.percentile(xs, 50) == 3.0
    assert common.percentile(xs, 100) == 5.0
    assert common.percentile(xs, 90) == pytest.approx(4.6)


def test_supported_percentile_keeps_ten_samples_beyond():
    assert common.supported_percentile(200, 95) == 95
    assert common.supported_percentile(100, 95) == 90
    assert common.supported_percentile(100, 90) == 90
    assert common.supported_percentile(40, 95) == 75
    # 20 samples: p50 is the highest with 10 beyond it
    assert common.supported_percentile(20, 90) == 50
    assert common.supported_percentile(19, 90) is None
    assert common.supported_percentile(0, 90) is None
    for n in range(20, 500):
        p = common.supported_percentile(n, 99)
        assert n * (1 - p / 100) >= 10 - 1e-9


def test_tail_falls_back_to_the_median():
    xs = [float(i) for i in range(12)]
    p, v = common.tail(xs, 95)
    assert p == 50 and v == statistics.median(xs)
    xs = [float(i) for i in range(1000)]
    p, v = common.tail(xs, 95)
    assert p == 95 and v == pytest.approx(949.05)


def test_geomean():
    assert common.geomean([1.0, 4.0]) == pytest.approx(2.0)
