"""Seeded inputs for the benchmark, made without any ``iotstream`` code.

Two kinds of input:

- sensor payload drops: JSON lines in the reference payload format
  ``{id, messageId, timestamp, metrics{temperature, humidity}}``, with
  the reference generator's 1/9/90 empty/out-of-range/valid mix and a
  small share of malformed lines;
- a staged fixture: a row-permuted copy of the checked-in fixture
  tables, written with the same physical parquet types.

The generator deliberately does not import ``iotstream.generator``: a
change to the program must never change what the benchmark feeds it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

SENSORS = 1000
#: Share of payload lines that are not valid JSON (truncated or junk).
MALFORMED_SHARE = 0.005
#: First event time of drop 0, epoch seconds (2024-01-01T00:00:00Z).
EPOCH0 = 1_704_067_200
#: Events per second of event time; timestamps jitter around it.
EVENT_RATE = 200
JITTER_S = 30

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def payload_lines(seed: int, drop: int, n: int) -> list[str]:
    """The ``n`` JSON payload lines of drop ``drop`` for ``seed``.

    A line's kind follows the reference generator's quality mix: 1% an
    empty ``{}`` reading, 9% out of range (temperature 50-80 and
    humidity 100-130), the rest valid (10-50, 50-80). About
    ``MALFORMED_SHARE`` of lines are then corrupted: cut mid-object or
    replaced by a non-JSON token. Event times run at ``EVENT_RATE`` per
    second with up to ``JITTER_S`` seconds of disorder.
    """
    rng = _rng(seed, 1, drop)
    loop = np.arange(drop * n, (drop + 1) * n, dtype=np.int64)
    sensor = rng.integers(0, SENSORS, n)
    ts = EPOCH0 + loop // EVENT_RATE + rng.integers(-JITTER_S, JITTER_S + 1, n)
    kind = rng.random(n)
    temp = rng.integers(10, 51, n)
    hum = rng.integers(50, 81, n)
    bad = kind < 0.10
    temp[bad] = rng.integers(50, 81, int(bad.sum()))
    hum[bad] = rng.integers(100, 131, int(bad.sum()))
    empty = kind < 0.01
    broken = rng.random(n) < MALFORMED_SHARE
    cut = rng.random(n) < 0.5
    lines = []
    for i, s, t, e, tc, hc, b, c in zip(
        loop.tolist(), sensor.tolist(), ts.tolist(), empty.tolist(),
        temp.tolist(), hum.tolist(), broken.tolist(), cut.tolist(),
    ):
        metrics = "{}" if e else f'{{"temperature": {tc}, "humidity": {hc}}}'
        line = (
            f'{{"id": "sensor-{s:04d}", "messageId": "sensor-{s:04d}-{i}", '
            f'"timestamp": {t}, "metrics": {metrics}}}'
        )
        if b:
            line = line[: len(line) // 2] if c else f"junk-{i}"
        lines.append(line)
    return lines


def land_drop(root: str, seed: int, drop: int, n: int) -> str:
    """Write drop ``drop`` as one file into ``root/payloads`` and return
    its path. The file is written beside the directory and renamed in,
    so a stream source never sees it half written."""
    in_dir = os.path.join(root, "payloads")
    os.makedirs(in_dir, exist_ok=True)
    name = f"drop-{drop:05d}.json"
    tmp = os.path.join(root, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(payload_lines(seed, drop, n)))
        fh.write("\n")
    final = os.path.join(in_dir, name)
    os.replace(tmp, final)
    return final


def stage_fixture(dest: str, seed: int) -> str:
    """Copy every table of the checked-in fixture into ``dest`` with its
    rows permuted by ``seed``. Column types, schema metadata and
    compression are kept, so the copy differs only in row order."""
    os.makedirs(dest, exist_ok=True)
    for i, name in enumerate(FIXTURE_TABLES):
        src = os.path.join(FIXTURE_DIR, f"{name}.parquet")
        table = pq.read_table(src)
        order = _rng(seed, 2, i).permutation(table.num_rows)
        pq.write_table(
            table.take(order),
            os.path.join(dest, f"{name}.parquet"),
            compression="snappy",
        )
    return dest
