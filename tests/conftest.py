from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import SparkSession

from iotstream.schemas import FIXTURE_TABLES, table_path

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("iotstream-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB with a view per fixture table, for the oracle twins."""
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'")
    yield con
    con.close()
