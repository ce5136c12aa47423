"""Correctness checks, computed independently on DuckDB.

Query units: a unit's Spark output must equal its ``oracle_sql()`` twin
run on DuckDB over the same staged fixture, as a multiset of rows under
one canonical form (order-insensitive; column order by name).

``sensor_ingest``: the raw-archive and clean sinks written by the
pipeline are read back with DuckDB and compared with a recomputation
from the landed payload files under the reference keep rule: drop a
reading iff it is empty (temperature = humidity = 0, which is also what
a missing or malformed reading becomes) or both metrics are out of range
(temperature >= 50 and humidity >= 100).
"""

from __future__ import annotations

import decimal
import math
import os

import duckdb

from perfbench.inputs import FIXTURE_TABLES

# Payload lines as rows. A malformed line reads as an all-null row, as
# Spark's permissive from_json makes it; a missing reading as 0/0, as
# Gson does in the reference.
_PAYLOADS = """
    (SELECT id, "timestamp" AS ts,
            coalesce(metrics.temperature, 0) AS t,
            coalesce(metrics.humidity, 0) AS h
     FROM read_ndjson('{glob}', ignore_errors = true, columns = {{
         id: 'VARCHAR', timestamp: 'BIGINT',
         metrics: 'STRUCT(temperature BIGINT, humidity BIGINT)'}}))
"""
_KEEP = "NOT (t = 0 AND h = 0) AND (t < 50 OR h < 100)"
_DIGEST = (
    "SELECT id, count(*) AS n, sum(t) AS st, sum(h) AS sh, min(ts) AS t0, "
    "max(ts) AS t1 FROM {src} WHERE {keep} GROUP BY id"
)


def _cell(v) -> str:
    """One value in canonical text form. Numbers compare by value across
    int, float and decimal (floats to 9 significant digits, the same
    precision the oracle twins are written for); timestamps to the
    microsecond."""
    if v is None:
        return "\0null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return format(f, ".9g")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, and the rows (reordered to match) sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        [columns[i] for i in order],
        sorted(tuple(_cell(r[i]) for i in order) for r in rows),
    )


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"sorted row {i}: {a} != {b}"
    return None


class Oracle:
    """DuckDB views over one staged fixture directory."""

    def __init__(self, fixture_dir: str):
        self.con = duckdb.connect()
        for t in FIXTURE_TABLES:
            path = os.path.join(fixture_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.sql(sql)
        return canonical([d[0] for d in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()


def check_ingest(payload_dir: str, raw_dir: str, clean_dir: str) -> str | None:
    """Compare both sinks with a recomputation from the landed payloads:
    the raw archive's row and sensor-id counts, and a per-sensor digest
    (rows, metric sums, first and last timestamp) of the clean sink."""
    con = duckdb.connect()
    try:
        payloads = _PAYLOADS.format(glob=os.path.join(payload_dir, "*.json"))
        want = con.sql(f"SELECT count(*), count(id) FROM {payloads}").fetchone()
        got = con.sql(
            f"SELECT count(*), count(sensorId) FROM read_parquet('{raw_dir}/*.parquet')"
        ).fetchone()
        if got != want:
            return f"raw archive rows/ids {got} != payloads {want}"
        clean = (
            "(SELECT id, CAST(timestamp AS BIGINT) AS ts, metrics.temperature AS t, "
            f"metrics.humidity AS h FROM read_parquet('{clean_dir}/*.parquet'))"
        )
        got_rel = con.sql(_DIGEST.format(src=clean, keep="true"))
        want_rel = con.sql(_DIGEST.format(src=payloads, keep=_KEEP))
        return diff(
            canonical([d[0] for d in got_rel.description], got_rel.fetchall()),
            canonical([d[0] for d in want_rel.description], want_rel.fetchall()),
        )
    finally:
        con.close()
