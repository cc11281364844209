import math

import pytest

from perfbench.stats import geomean, self_time, tail_percentile, union_length


def test_tail_percentile_keeps_ten_samples_above():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    p, v = tail_percentile(samples)
    assert p == 90
    assert v == 90.0
    assert sum(s > v for s in samples) == 10


def test_tail_percentile_depends_on_sample_count():
    for n in (11, 12, 20, 39, 40, 57, 1000):
        samples = [float(i) for i in range(n)]
        p, v = tail_percentile(samples)
        assert sum(s > v for s in samples) >= 10
        # one percentile higher would leave fewer than ten above
        assert p == 100 or math.ceil((p + 1) * n / 100) > n - 10
    assert tail_percentile([float(i) for i in range(20)])[0] == 50


def test_tail_percentile_ignores_input_order():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert tail_percentile(samples) == tail_percentile(sorted(samples))


def test_tail_percentile_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


def test_geomean_counts_each_op_equally():
    assert geomean([0.2, 5.0]) == pytest.approx(1.0)
    assert geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_union_length_counts_overlap_once():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_with_overlapping_children():
    # a 10 s span; children cover [1, 4] and [3, 6] (overlapping) and
    # [9, 12] (sticking out of the span): covered = 5 + 1
    assert self_time((0, 10), [(1, 4), (3, 6), (9, 12)]) == pytest.approx(4.0)
    assert self_time((0, 10), []) == 10
    assert self_time((0, 10), [(-5, 20)]) == 0
