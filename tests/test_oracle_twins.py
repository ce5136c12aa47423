"""Every declared query vs its DuckDB twin at sf0.001 (SURVEY.md §5.2).

Streaming drains are graded the same way as batch queries: a drain's
result must equal the batch SQL over the same parquet. Larger scale
factors and hostile timezones stay with ``tools/check_oracle.py``.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from tools.check_oracle import compare_frames

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def assert_matches_oracle(spark, duck, name: str) -> None:
    # Start every query from the same session timezone, as
    # check_oracle.py does: an earlier test may have left another set.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sdf = QUERIES[name](spark, SF_DIR)
    res = duck.sql(ORACLES[name])
    diff = compare_frames(
        sdf.columns, sdf.collect(), [d[0] for d in res.description],
        res.fetchall(),
    )
    assert diff is None, f"{name}: {diff}"


def test_every_query_has_an_oracle_twin():
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, name)
