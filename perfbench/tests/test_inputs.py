"""Seeded input generation and fixture staging."""

from __future__ import annotations

import filecmp
import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import check, inputs
from perfbench.run import WORKLOADS


def test_same_seed_same_payload_bytes(tmp_path):
    a = inputs.land_drop(str(tmp_path / "a"), seed=3, drop=1, n=5000)
    b = inputs.land_drop(str(tmp_path / "b"), seed=3, drop=1, n=5000)
    c = inputs.land_drop(str(tmp_path / "c"), seed=4, drop=1, n=5000)
    assert filecmp.cmp(a, b, shallow=False)
    assert not filecmp.cmp(a, c, shallow=False)


def test_payload_mix_and_malformed_share():
    lines = inputs.payload_lines(seed=5, drop=0, n=20000)
    parsed = []
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except json.JSONDecodeError:
            continue
    malformed = 1 - len(parsed) / len(lines)
    assert 0.002 < malformed < 0.01
    empty = sum(1 for p in parsed if p["metrics"] == {}) / len(parsed)
    bad = sum(
        1 for p in parsed
        if p["metrics"] and p["metrics"]["temperature"] >= 50 and p["metrics"]["humidity"] >= 100
    ) / len(parsed)
    assert 0.005 < empty < 0.015
    assert 0.07 < bad < 0.11
    assert len({p["id"] for p in parsed}) == inputs.SENSORS


@pytest.fixture(scope="module")
def staged(tmp_path_factory):
    root = tmp_path_factory.mktemp("staged")
    return {
        name: inputs.stage_fixture(str(root / name), seed)
        for name, seed in (("s1", 1), ("s1b", 1), ("s2", 2))
    }


def test_same_seed_same_fixture_bytes(staged):
    for t in inputs.FIXTURE_TABLES:
        assert filecmp.cmp(
            os.path.join(staged["s1"], f"{t}.parquet"),
            os.path.join(staged["s1b"], f"{t}.parquet"),
            shallow=False,
        ), t


def test_other_seed_reorders_rows_and_keeps_types(staged):
    for t in inputs.FIXTURE_TABLES:
        src = pq.ParquetFile(os.path.join(inputs.FIXTURE_DIR, f"{t}.parquet"))
        a = pq.read_table(os.path.join(staged["s1"], f"{t}.parquet"))
        b = pq.read_table(os.path.join(staged["s2"], f"{t}.parquet"))
        assert pq.ParquetFile(os.path.join(staged["s2"], f"{t}.parquet")).schema == src.schema
        assert a.num_rows == b.num_rows == src.metadata.num_rows
        if a.num_rows > 1:
            assert not a.equals(b), t
        key = a.column_names[0]
        assert sorted(a[key].to_pylist(), key=repr) == sorted(b[key].to_pylist(), key=repr)


def test_other_seed_same_oracle_results(staged):
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    one, two = check.Oracle(staged["s1"]), check.Oracle(staged["s2"])
    try:
        for name in WORKLOADS["query_mix"]:
            assert check.diff(one.rows(sql[name]), two.rows(sql[name])) is None, name
    finally:
        one.close()
        two.close()
