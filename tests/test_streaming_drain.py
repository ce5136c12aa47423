"""availableNow drains: the trailing no-data (watermark flush) batch is
run by default and skipped with ``flush_watermark=False``; the session
conf and the drain's own checkpoint are cleaned up on every way out."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

import iotstream.streaming as st
from iotstream.streaming import run_available_now, scoped_shuffle_partitions

SCHEMA = "id string, ts timestamp, value double"
NO_DATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"


def _stream(spark, tmp_path, rows):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), float(v))
         for i, s, v in rows],
        SCHEMA,
    ).coalesce(1).write.parquet(src)
    return spark.readStream.schema(SCHEMA).parquet(src)


def _drain(writer, **kw):
    """Drain into a list; return (sorted rows, batch ids run)."""
    out = []
    q = run_available_now(
        writer.foreachBatch(lambda df, _epoch: out.extend(df.collect())), **kw
    )
    return sorted(out), [p["batchId"] for p in q.recentProgress]


def _dedup(spark, tmp_path):
    rows = [("a", 0, 1.0), ("a", 0, 1.0), ("b", 60, 2.0), ("c", 7200, 3.0)]
    return (
        _stream(spark, tmp_path, rows)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["id"])
        .writeStream.outputMode("append")
    )


def test_dedup_within_watermark_skips_flush_batch_with_same_output(
    spark, tmp_path
):
    with scoped_shuffle_partitions(spark, 2):
        flushed, flushed_ids = _drain(_dedup(spark, tmp_path / "a"))
        skipped, skipped_ids = _drain(
            _dedup(spark, tmp_path / "b"), flush_watermark=False
        )
    assert flushed_ids == [0, 1]
    assert skipped_ids == [0]
    assert skipped == flushed
    assert sorted(r.id for r in flushed) == ["a", "b", "c"]


def _append_window(spark, tmp_path):
    # the 13:00 row moves the watermark to 12:50, closing the 12:00 window
    rows = [("x", 43210, 5.0), ("x", 43220, 7.0), ("x", 46800, 1.0)]
    return (
        _stream(spark, tmp_path, rows)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"), "id")
        .agg(F.max("value").alias("max_value"))
        .writeStream.outputMode("append")
    )


def test_append_window_needs_the_flush_batch(spark, tmp_path):
    """Append mode emits a window only once the watermark passes its
    end — that happens in the no-data batch, which the default keeps."""
    with scoped_shuffle_partitions(spark, 2):
        rows, ids = _drain(_append_window(spark, tmp_path / "a"))
        unflushed, unflushed_ids = _drain(
            _append_window(spark, tmp_path / "b"), flush_watermark=False
        )
    assert ids == [0, 1]
    assert [(r.window.start.hour, r.max_value) for r in rows] == [(12, 7.0)]
    # why the flag is opt-in: skipping the flush loses the closed window
    assert unflushed_ids == [0]
    assert unflushed == []


def test_session_conf_restored_after_drain_and_failed_start(spark, tmp_path):
    before = spark.conf.get(NO_DATA_KEY)
    with scoped_shuffle_partitions(spark, 2):
        _drain(_dedup(spark, tmp_path / "a"), flush_watermark=False)
    assert spark.conf.get(NO_DATA_KEY) == before
    # complete mode without an aggregation is rejected by start()
    bad = _stream(spark, tmp_path / "b", [("a", 0, 1.0)]).writeStream.outputMode(
        "complete"
    )
    with pytest.raises(Exception, match="(?i)complete"):
        _drain(bad, flush_watermark=False)
    assert spark.conf.get(NO_DATA_KEY) == before


def test_own_checkpoint_removed_caller_checkpoint_kept(
    spark, tmp_path, monkeypatch
):
    made = []

    def fake_ephemeral_dir(prefix):
        made.append(str(tmp_path / f"{prefix}{len(made)}"))
        os.makedirs(made[-1])
        return made[-1]

    monkeypatch.setattr(st, "ephemeral_dir", fake_ephemeral_dir)
    with scoped_shuffle_partitions(spark, 2):
        _drain(_dedup(spark, tmp_path / "a"))
        bad = _stream(spark, tmp_path / "b", [("a", 0, 1.0)]).writeStream
        with pytest.raises(Exception):
            _drain(bad.outputMode("complete"))
        durable = str(tmp_path / "durable-ckpt")
        _drain(_dedup(spark, tmp_path / "c"), checkpoint=durable)
    assert len(made) == 2
    assert not any(os.path.exists(d) for d in made)
    assert os.path.isdir(os.path.join(durable, "commits"))
