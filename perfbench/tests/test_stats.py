import pytest

import stats


def test_quantile_matches_linear_interpolation():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.quantile(xs, 0.0) == 1.0
    assert stats.quantile(xs, 1.0) == 4.0
    assert stats.quantile(xs, 0.5) == pytest.approx(2.5)
    assert stats.quantile(xs, 0.25) == pytest.approx(1.75)


def test_quantile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


@pytest.mark.parametrize(
    "n, q, ok",
    [
        (19, 0.5, False),
        (20, 0.5, True),
        (99, 0.9, False),
        (100, 0.9, True),
        (999, 0.99, False),
        (1000, 0.99, True),
    ],
)
def test_ten_samples_beyond_rule(n, q, ok):
    assert stats.supported(n, q) is ok


def test_highest_supported_walks_the_ladder():
    assert stats.highest_supported(10) is None
    assert stats.highest_supported(20) == 0.5
    assert stats.highest_supported(40) == 0.75
    assert stats.highest_supported(150) == 0.9
    assert stats.highest_supported(250) == 0.95
