import datetime
import decimal

from oracle import check, norm_rows, rows_equal


def test_float_tolerance_and_exact_non_floats():
    assert rows_equal([[1, 0.1 + 0.2]], [[1, 0.3]], ordered=True)
    assert not rows_equal([[1, 0.31]], [[1, 0.3]], ordered=True)
    assert not rows_equal([[2, 0.3]], [[1, 0.3]], ordered=True)
    assert not rows_equal([[1, None]], [[1, 0.0]], ordered=True)


def test_unordered_comparison_pairs_rows_despite_float_noise():
    a = [["b", 2.0000000001], ["a", 1.0]]
    e = [["a", 1.0], ["b", 2.0]]
    assert rows_equal(a, e, ordered=False)
    assert not rows_equal(a, e, ordered=True)


def test_row_count_mismatch_fails():
    assert not rows_equal([[1]], [[1], [1]], ordered=False)


def test_normalisation_of_dates_decimals_and_width():
    rows = norm_rows([(datetime.date(1995, 3, 15), decimal.Decimal("1.50"), "x")], width=2)
    assert rows == [["1995-03-15", 1.5]]


def test_check_kinds():
    assert check(1, {"kind": "affected", "n": 1}) is None
    assert check(2, {"kind": "affected", "n": 1}) is not None
    assert check(3, {"kind": "positive"}) is None
    assert check(0, {"kind": "positive"}) is not None
    assert check([[1]], {"kind": "rows", "rows": [[1]], "ordered": True}) is None
    assert check(None, {"kind": "rows", "rows": [], "ordered": True}) is not None
