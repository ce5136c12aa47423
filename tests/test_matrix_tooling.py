"""Bench and sweep tooling contracts.

No Spark session — these pin the pure-Python plumbing: bench.py's
boolean env parsing and its one compact stdout line, plus
tools/degenerate_sweep.py's digest-keyed fixture markers (an edited
mutation spec must not silently serve a stale cached fixture) and the
hand-listed query targets that must stay pinned to declared queries.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, REPO)

import degenerate_sweep as ds  # noqa: E402


def test_spec_digest_keys_fixture_markers(tmp_path):
    """Editing a mutation spec must invalidate the cached fixture —
    the r12-era empty `.complete` markers served stale fixtures until
    someone remembered to rm -rf them."""
    out = str(tmp_path / "fixture")
    os.makedirs(out)
    d1 = ds._spec_digest("v1", {"a": 1})
    assert not ds._fresh_marker(out, d1)  # no marker yet
    with open(f"{out}/.complete", "w") as f:
        f.write(d1)
    assert ds._fresh_marker(out, d1)
    d2 = ds._spec_digest("v1", {"a": 2})  # spec changed
    assert d2 != d1
    assert not ds._fresh_marker(out, d2)


def test_reach_exempt_names_are_declared_queries():
    """An exemption for a renamed/deleted query would silently rot."""
    import __spark_entry__ as em

    declared = set(em.queries().keys())
    for name in ds.REACH_EXEMPT:
        assert name in declared, name


def test_boundary_class_targets_are_declared_queries():
    """The hand-listed epoch/stream-decimal boundary targets must stay
    pinned to declared queries (a rename would silently drop the class
    audit for that operator); the epoch pairs must contain both the
    dropped shape (fully pre-epoch) and the inclusive-boundary
    survivor (error at exactly epoch)."""
    import datetime as dt

    import __spark_entry__ as em

    declared = set(em.queries().keys())
    for name in ds.EPOCH_TARGETS + ds.STREAM_DECIMAL_TARGETS:
        assert name in declared, name
    pairs = ds._epoch_pair_rows(list(range(10)))
    assert len(pairs) == 6
    ts = [r["ts"] for r in pairs]
    epoch = dt.datetime(1970, 1, 1)
    assert sum(1 for t in ts if t < epoch) == 2   # dropped pair
    assert epoch in ts                            # boundary distinguisher
    # join survivor pair: strictly post-epoch error + follower
    assert dt.datetime(1970, 1, 1, 0, 0, 1) in ts
    assert sum(1 for t in ts if t > epoch) == 3
    # nandec: every table carries dropped (non-finite) shapes, and the
    # static survivors exist with a NaN twin sharing the survivor's
    # filter attributes (differing ONLY in the guarded measure)
    for t in ("events", "lineitem", "orders", "customer"):
        assert ds._nonfinite_muts(t), t
    for t in ("events", "lineitem", "orders"):
        assert ds.NANDEC_SURVIVORS[t], t
    surv = ds.NANDEC_SURVIVORS["lineitem"][0]
    twin = ds.NANDEC_TWINS_LINEITEM[0]
    import math

    assert math.isnan(twin["l_extendedprice"])
    for k in ("l_shipdate", "l_discount", "l_quantity"):
        assert twin[k] == surv[k], k


def test_hostile_doc_twins_shape():
    """The near-dup twin placement only works if the twins keep equal
    length (same edit-distance block, zero length-delta) and share a
    source (the blocking key) — pin the construction."""
    twins = [r for r in ds.HOSTILE_DOC_ROWS if r["text"].startswith("tok000")]
    assert len(twins) == 2
    a, b = (t["text"] for t in twins)
    assert len(a) == len(b) and a != b
    assert a[:64] == b[:64]  # identical edit-distance prefix
    assert twins[0]["source"] == twins[1]["source"]
    diff = sum(1 for x, y in zip(a, b) if x != y)
    assert diff == 1  # single-character edit


def test_zerodiv_targets_are_declared_and_shapes_hold():
    """r15 zero-divisor class (VERDICT r14 item 5): targets stay
    pinned to declared queries; the derived shapes keep their
    defining invariants — identical sensorize readings for the zero
    -variance sensor, MAD=0-with-deviant for the MAD sensor, an
    all-zero-total order chain wired region→nation→customer."""
    import statistics

    import __spark_entry__ as em

    declared = set(em.queries().keys())
    for name, expect in ds.ZERODIV_TARGETS.items():
        assert name in declared, name
        assert expect in ("moved", "survives"), name

    zd = ds._zerodiv_muts(ds.SRC)
    # ZEROLAND chain: referential keys line up, totals are all zero
    (reg,), (nat,), (cust,) = zd["region"], zd["nation"], zd["customer"]
    assert nat["n_regionkey"] == reg["r_regionkey"]
    assert cust["c_nationkey"] == nat["n_nationkey"]
    assert len(zd["orders"]) >= 2
    for o in zd["orders"]:
        assert o["o_custkey"] == cust["c_custkey"]
        assert o["o_totalprice"] == 0.0

    def temp(e: int) -> int:  # sensorize else-branch (valid band)
        assert e % 100 != 0 and e % 10 != 0, e
        return 10 + (e * 7) % 41

    def hum(e: int) -> int:
        return 50 + (e * 13) % 31

    by_user: dict[int, list[int]] = {}
    for r in zd["events"]:
        by_user.setdefault(r["user_id"], []).append(r["event_id"])
    zero_var = [u for u, es in by_user.items() if len(es) == 3]
    mad_dev = [u for u, es in by_user.items() if len(es) == 5]
    assert len(zero_var) == 1 and len(mad_dev) == 1
    zv_temps = [temp(e) for e in by_user[zero_var[0]]]
    zv_hums = [hum(e) for e in by_user[zero_var[0]]]
    assert len(set(zv_temps)) == 1 and len(set(zv_hums)) == 1
    md_temps = sorted(temp(e) for e in by_user[mad_dev[0]])
    med = statistics.median(md_temps)
    mad = statistics.median(sorted(abs(t - med) for t in md_temps))
    assert mad == 0 and max(md_temps) > med  # MAD=0 with a real deviant
    # all readings valid-band (pass the validity filter into zscore)
    for u in by_user:
        for e in by_user[u]:
            assert 10 <= temp(e) <= 50 and 50 <= hum(e) <= 80, e


def test_env_bool_normalizes_and_rejects(monkeypatch):
    """ADVICE r17: SPARK_GRAFT_PREFER_SMJ='1'/'yes' must toggle the
    boolean conf instead of failing Spark session init; junk raises
    loudly at parse time rather than deep inside the JVM."""
    import pytest as _pytest

    import bench

    for raw, want in [
        ("1", "true"), ("true", "true"), ("YES", "true"), ("on", "true"),
        ("0", "false"), ("False", "false"), ("no", "false"), ("", "false"),
    ]:
        monkeypatch.setenv("X_BOOL", raw)
        assert bench._env_bool("X_BOOL", "false") == want, raw
    monkeypatch.delenv("X_BOOL", raising=False)
    assert bench._env_bool("X_BOOL", "true") == "true"
    monkeypatch.setenv("X_BOOL", "maybe")
    with _pytest.raises(ValueError):
        bench._env_bool("X_BOOL", "false")


def test_compact_line_fits_by_construction():
    """bench.py's stdout is captured as its tail (~2000 chars), so
    its one JSON line must stay under 1,800 chars whatever the
    sweep produced: the worst case is the longest declared names in
    every capped slot and errors far past their 80-char cap."""
    import bench
    import __spark_entry__ as em

    longest = sorted(em.queries(), key=len, reverse=True)
    names = [n for n in longest if n != "flagship"][:21]
    timings = {n: 1000.123 + i for i, n in enumerate(names)}
    timings["flagship"] = 0.5  # fastest of all: kept only by name
    out = {
        "metric": "total_runtime_declared_queries",
        "value": 123456.789,
        "unit": "sec",
        "queries": timings,
        "sf": 0.01,
        "errors": {n: "E" * 300 for n in names[:3]},
        "isolated": {n: 1000.123 for n in names[:10]},
        "streaming_ingest_events_per_sec": 1234567,
    }
    line = bench.compact_line(out)
    assert len(json.dumps(line)) <= 1800
    assert line["queries"]["flagship"] == 0.5
    assert len(line["queries"]) == 21
    assert line["n_queries"] == 22 and line["n_errors"] == 3
