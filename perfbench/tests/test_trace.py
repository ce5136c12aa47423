"""The trace collector on an event log recorded from a two-unit run.

``data/`` holds a traced pass over two query units (``flagship``, then
``streaming_dedup_wm``) at the smallest fixture scale: the event log
(trimmed to the fields the parser reads), the benchmark's spans and the
progress the listener recorded.
"""

from __future__ import annotations

import json
import os

from perfbench.trace import UNIT_METRICS, EventLog, Spans, layer_means, unit_table

DATA = os.path.join(os.path.dirname(__file__), "data")


def _table(progress=None):
    spans = Spans.load(os.path.join(DATA, "spans.json"))
    log = EventLog.read(os.path.join(DATA, "eventlog.json"))
    if progress is None:
        with open(os.path.join(DATA, "progress.json"), encoding="utf-8") as fh:
            progress = json.load(fh)
    return unit_table(spans, log, progress, cores=4)


def test_one_row_per_unit_with_every_layer_metric():
    rows = _table()
    assert [r["unit"] for r in rows] == [1, 4]
    assert all(set(UNIT_METRICS) <= set(r) for r in rows)


def test_streaming_unit_layers():
    drain = _table()[0]  # streaming_dedup_wm: one data batch, one empty watermark batch
    assert drain["streaming.batches"] == 2
    assert drain["streaming.empty_batches"] == 1
    assert drain["streaming.empty_batch_ratio"] == 0.5
    assert drain["streaming.state_instances"] == 8
    assert drain["streaming.state_rows"] == 3  # left after the watermark batch evicts
    assert drain["sinks.records_written"] == 1000
    assert drain["sinks.files_written"] == 9
    assert drain["exec.jobs"] == 6
    assert drain["exec.tasks"] == 23
    assert drain["entry.eager_jobs"] == 4  # the drain runs inside the query function
    assert 0 < drain["pipeline.start_s"] < drain["wall_s"]


def test_batch_unit_has_no_streaming_layers():
    batch = _table()[1]  # flagship: scan, window aggregate, noop write
    assert batch["streaming.batches"] == 0
    assert batch["sinks.records_written"] == 0
    assert batch["exec.jobs"] == 3
    assert batch["exec.shuffle_write_bytes"] == batch["exec.shuffle_read_bytes"] > 0
    assert batch["sources.records_read"] == 1000
    assert batch["plan.s"] > 0


def test_event_log_progress_matches_listener():
    assert _table() == _table(progress=[])


def test_self_time_excludes_children():
    spans = Spans.load(os.path.join(DATA, "spans.json"))
    self_s = spans.self_times()
    units = sum(s.end - s.start for s in spans.spans if s.name == "unit")
    children = sum(s.end - s.start for s in spans.spans if s.name.startswith("entry."))
    assert abs(self_s["unit"] - (units - children)) < 1e-9


def test_layer_means_average_units():
    rows = _table()
    means = layer_means(rows)
    assert means["exec.jobs"] == (6 + 3) / 2
    assert means["streaming.batches"] == 1.0
