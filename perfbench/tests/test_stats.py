import pytest

from stats import (_beta_cdf, harrell_davis, highest_supported_percentile, percentile,
                   samples_beyond, spread)


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))  # 1..100
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile(vals, 100) == 100
    assert percentile([7.0], 90) == 7.0
    assert percentile([3, 1, 2], 50) == 2  # input order does not matter


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


def test_samples_beyond_and_supported_percentile():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(26, 90) == 2
    assert highest_supported_percentile(100) == 90
    assert highest_supported_percentile(1000) == 99
    assert highest_supported_percentile(40) == 75
    assert highest_supported_percentile(15) is None


def test_spread_matches_statistics_quantiles():
    s = spread([10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0])
    assert s["median"] == pytest.approx(14.5)
    assert s["q1"] == pytest.approx(11.75)
    assert s["q3"] == pytest.approx(17.25)
    assert s["spread"] == pytest.approx(5.5 / 14.5)


def test_beta_cdf_matches_closed_forms():
    for x in (0.0, 0.05, 0.3, 0.5, 0.77, 0.999, 1.0):
        assert _beta_cdf(x, 1, 1) == pytest.approx(x)
        assert _beta_cdf(x, 2, 2) == pytest.approx(3 * x**2 - 2 * x**3)
        assert _beta_cdf(x, 4.5, 1) == pytest.approx(x**4.5)
        assert _beta_cdf(x, 1, 0.7) == pytest.approx(1 - (1 - x) ** 0.7)


def test_harrell_davis_is_a_weighted_mean_of_order_statistics():
    assert harrell_davis([5.0] * 7, 90) == pytest.approx(5.0)  # weights sum to 1
    assert harrell_davis([3.0], 50) == pytest.approx(3.0)
    assert harrell_davis([3, 1, 2], 50) == pytest.approx(2.0)  # symmetric weights
    vals = list(range(1, 101))
    assert harrell_davis(vals, 50) == pytest.approx(50.5)
    assert 88 < harrell_davis(vals, 90) < 92
    assert harrell_davis(vals, 50) < harrell_davis(vals, 75) < harrell_davis(vals, 90)


def test_harrell_davis_moves_less_than_nearest_rank_at_a_gap():
    # 48 ops: the 44th (the nearest-rank p90) is either side of a gap
    low = [100.0] * 40 + [600.0, 620.0, 640.0, 660.0, 900.0, 920.0, 940.0, 1300.0]
    high = [100.0] * 40 + [600.0, 620.0, 640.0, 900.0, 900.0, 920.0, 940.0, 1300.0]
    assert percentile(high, 90) / percentile(low, 90) > 1.3
    assert harrell_davis(high, 90) / harrell_davis(low, 90) < 1.1


def test_harrell_davis_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        harrell_davis([], 50)
    with pytest.raises(ValueError):
        harrell_davis([1.0], 100)
