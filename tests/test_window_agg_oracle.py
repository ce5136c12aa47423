"""A1-A3 windowed aggregates vs the DuckDB oracle (SURVEY.md §5.2).

A named smoke check of four representative queries; the full sweep over
every declared query is ``tests/test_oracle_twins.py``.
"""

from __future__ import annotations

from tests.test_oracle_twins import assert_matches_oracle


def test_flagship_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, "flagship")


def test_window_avg_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, "window_avg")


def test_pricing_summary_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, "pricing_summary")


def test_throughput_matches_oracle(spark, duck):
    assert_matches_oracle(spark, duck, "throughput_count")
