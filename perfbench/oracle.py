"""Result normalisation and comparison against the oracle.

Both sides are reduced to lists of lists of JSON-safe scalars (dates as
ISO strings, decimals as floats) so the engine process can ship its
results as JSON to the orchestrating process, which computes the
expectations and compares. Floats compare with a relative and absolute tolerance: sums over
the same doubles in a different order differ in the last bits.
"""

from __future__ import annotations

import datetime
import decimal
import math

REL_TOL = 1e-6
ABS_TOL = 1e-6


def norm_value(v):
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [norm_value(x) for x in v]
    if hasattr(v, "item"):  # numpy scalar
        return norm_value(v.item())
    return str(v)


def norm_rows(rows, width: int | None = None) -> list[list]:
    """Rows (tuples or pyspark Rows) → lists of normalised values; with
    width, keep only the first `width` columns."""
    out = []
    for r in rows:
        vals = [norm_value(v) for v in tuple(r)]
        out.append(vals[:width] if width else vals)
    return out


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or isinstance(a, str) or isinstance(b, str):
            return False
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row):
    # floats are rounded for ordering only, so rows whose floats differ in
    # the last bits still pair up; None sorts first within each column
    key = []
    for v in row:
        if isinstance(v, float):
            v = float(f"{v:.6g}")
        key.append((v is None, type(v).__name__, v if v is not None else 0))
    return key


def rows_equal(actual: list[list], expected: list[list], ordered: bool) -> bool:
    if len(actual) != len(expected):
        return False
    if not ordered:
        actual = sorted(actual, key=_sort_key)
        expected = sorted(expected, key=_sort_key)
    return all(
        len(a) == len(e) and all(values_equal(x, y) for x, y in zip(a, e))
        for a, e in zip(actual, expected)
    )


def check(result, expect: dict) -> str | None:
    """None when `result` (normalised rows, or a DML affected count)
    matches `expect`; otherwise a one-line reason."""
    kind = expect["kind"]
    if kind == "affected":
        if result != expect["n"]:
            return f"affected {result!r}, expected {expect['n']}"
        return None
    if kind == "positive":
        if not isinstance(result, int) or result < 1:
            return f"expected a positive count, got {result!r}"
        return None
    if kind == "rows":
        if not isinstance(result, list):
            return f"expected rows, got {type(result).__name__}"
        if not rows_equal(result, expect["rows"], expect.get("ordered", False)):
            return (f"rows differ: {len(result)} rows, expected {len(expect['rows'])}; "
                    f"first {result[:2]!r} vs {expect['rows'][:2]!r}")
        return None
    raise ValueError(f"unknown expectation kind {kind!r}")
