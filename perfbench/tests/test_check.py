"""The benchmark's own output comparator."""

from __future__ import annotations

import datetime
import decimal

from perfbench.check import canonical, diff


def test_order_and_column_order_do_not_matter():
    a = canonical(["b", "a"], [(2, "x"), (1, "y")])
    b = canonical(["a", "b"], [("y", 1), ("x", 2)])
    assert diff(a, b) is None


def test_numbers_compare_by_value_across_types():
    a = canonical(["v"], [(3,), (decimal.Decimal("2.50"),), (0.1 + 0.2,)])
    b = canonical(["v"], [(3.0,), (2.5,), (0.3,)])
    assert diff(a, b) is None


def test_timestamps_and_nulls():
    ts = datetime.datetime(2024, 1, 1, 0, 1, 2, 345678)
    assert diff(canonical(["t"], [(ts,), (None,)]), canonical(["t"], [(None,), (ts,)])) is None
    assert diff(canonical(["t"], [(None,)]), canonical(["t"], [("",)])) is not None


def test_any_change_is_reported():
    want = canonical(["k", "v"], [(1, 10), (2, 20)])
    assert "columns" in diff(canonical(["k", "w"], [(1, 10), (2, 20)]), want)
    assert "rows" in diff(canonical(["k", "v"], [(1, 10)]), want)
    assert "sorted row 1" in diff(canonical(["k", "v"], [(1, 10), (2, 21)]), want)
    assert diff(canonical(["k", "v"], [(1, 10), (2, 20), (2, 20)]), want) is not None
