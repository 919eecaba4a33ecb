import pytest

from applybench import pct


def test_nearest_rank_percentile():
    xs = list(range(1, 101))  # 1..100
    assert pct.percentile(xs, 50) == 50
    assert pct.percentile(xs, 90) == 90
    assert pct.percentile(xs, 100) == 100
    assert pct.percentile([7], 90) == 7
    assert pct.percentile([3, 1, 2], 50) == 2  # order of input is irrelevant


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        pct.percentile([], 50)
    with pytest.raises(ValueError):
        pct.percentile([1], 0)


def test_p90_needs_ten_samples_beyond_it():
    assert pct.beyond(100, 90) == 10
    assert pct.beyond(99, 90) == 9
    assert pct.highest_reportable(99) is None
    assert pct.highest_reportable(100) == 90
    assert pct.highest_reportable(110) == 90
    assert pct.highest_reportable(1000) == 99
    assert pct.highest_reportable(10000) == 99.9
