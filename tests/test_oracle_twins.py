"""Every declared query vs its DuckDB twin at sf0.001 (SURVEY.md §5.2).

Streaming drains are graded the same way as batch queries: a drain's
result must equal the batch SQL over the same parquet. Larger scale
factors and hostile timezones stay with ``tools/check_oracle.py``,
except for the twins that are empty at sf0.001, which are graded again
at sf0.01 where they return rows.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, open_duck
from tools.check_oracle import compare_frames

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

SF_DIR_0_01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

# Twins that return 0 rows on both sides at sf0.001, so the sweep only
# shows that their columns match; sf0.01 gives them rows to compare.
EMPTY_AT_0_001 = ["high_value_purchasers", "cross_nation_volume"]


def assert_matches_oracle(spark, duck, name: str, sf_dir: str = SF_DIR) -> int:
    """Grade one query against its twin; returns the query's row count."""
    # Start every query from the same session timezone, as
    # check_oracle.py does: an earlier test may have left another set.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sdf = QUERIES[name](spark, sf_dir)
    srows = sdf.collect()
    res = duck.sql(ORACLES[name])
    diff = compare_frames(
        sdf.columns, srows, [d[0] for d in res.description], res.fetchall(),
    )
    assert diff is None, f"{name}: {diff}"
    return len(srows)


def test_every_query_has_an_oracle_twin():
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, name)


@pytest.fixture(scope="module")
def duck_0_01():
    con = open_duck(SF_DIR_0_01)
    yield con
    con.close()


@pytest.mark.parametrize("name", EMPTY_AT_0_001)
def test_empty_twin_has_rows_and_matches_oracle_at_sf0_01(spark, duck_0_01, name):
    assert assert_matches_oracle(spark, duck_0_01, name, SF_DIR_0_01) > 0
