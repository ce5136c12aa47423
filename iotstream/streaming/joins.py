"""Streaming joins — stream×static enrichment and stream×stream
interval joins (Structured Streaming state-store joins).

The reference has no joins at all (SURVEY.md §2.4); these are the EXT
capabilities a production stream actually needs: enrich events against
a dimension table without restarting the query, and correlate two
event streams within a time bound.

Scale notes (100 TB / 1000 executors):
- The static side of an enrichment join is broadcast — each micro-batch
  joins map-side with zero shuffle; refresh the dim by restarting from
  checkpoint (or use a rocksdb-state stream-stream join if the dim
  itself streams).
- A stream-stream inner join keeps both sides' rows in the state store
  until the watermark passes the join-condition time bound; the
  watermark delay is therefore the state-size knob — finite in
  production, effectively unbounded in correctness runs (matches are
  emitted eagerly for inner joins, so the drained result is complete
  either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iotstream.sinks import ParquetUpsertSink
from iotstream.streaming import (
    UNBOUNDED_WATERMARK,
    ephemeral_dir,
    run_available_now,
)


def enrich_against_dim_final(
    spark: SparkSession,
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    segment_col: str,
) -> DataFrame:
    """Stream×static broadcast join → running per-segment totals,
    drained availableNow; returns the final upserted state. The dim is
    explicitly broadcast: the join never shuffles the stream."""
    from iotstream.schemas import finite_measures

    # finite-measures contract: value feeds the exact-decimal total
    # (schemas.finite_measures) — the filter rides the stream scan
    joined = finite_measures(stream, "value").join(F.broadcast(dim), key)
    agg = joined.groupBy(segment_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,4)"))
        .cast("double")
        .alias("total_value"),
    )
    sink = ParquetUpsertSink(key_cols=[segment_col])
    writer = agg.writeStream.outputMode("update").foreachBatch(sink.writer())
    run_available_now(writer)
    return sink.to_df(spark)


def interval_join_pairs(
    spark: SparkSession,
    left_stream: DataFrame,
    right_stream: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    max_gap: str = "INTERVAL 30 MINUTES",
    watermark: str = UNBOUNDED_WATERMARK,
) -> DataFrame:
    """Stream-stream inner interval join: right rows in
    ``(left_ts, left_ts + max_gap]`` per key. Both sides watermarked —
    the time-range predicate lets Spark evict state once the watermark
    passes ``left_ts + max_gap``. Output drained append-mode to parquet
    and read back (finite correctness run).

    Cost floor, profiled r9 (PROFILE_r9_streaming_interval_join.json):
    by default an availableNow stream-stream join runs TWO
    micro-batches — batch 0 joins, batch 1 only commits the advanced
    watermark (~1 s fixed). An inner join emits every match in the
    batch that sees both rows, so batch 1 can never emit; the drain
    skips it (``flush_watermark=False``) and runs one batch with one
    incremental planning and one per-partition state-store open/commit
    on both sides. An outer join would need the flush batch to emit
    its unmatched rows. The join itself adds only ~0.65 s over a
    trivial drain of the same source at sf0.1; state width beyond ~8
    strictly hurts (w16/w32 measured worse), w4 vs w8 is noise. All of
    it is per-QUERY fixed cost that amortizes under a continuous
    trigger at production scale — the bench number is micro-batch
    machinery, not a row-scaling term.

    WATERMARKED operator → STRICTLY-positive event-time contract on
    BOTH sides (schemas.positive_event_time): Spark initializes every
    watermark at epoch 0 and the join's late-input filter tests
    ``ts <= watermark``, so a row at or before epoch on either side is
    "late" to the very first micro-batch and silently dropped
    regardless of the configured delay — measured r14 (generalizing
    the r13 session_window finding): a 1969-12-31 23:50 error with a
    00:05 follower lost its pair, and so did an error at EXACTLY
    1970-01-01T00:00:00, while one at 00:00:01 kept it (strict, unlike
    the >= contract of windowed aggs whose eviction keys on window
    END). The explicit filter, mirrored in the oracle, turns the
    silent drop into the declared rule."""
    from iotstream.schemas import positive_event_time

    lw = positive_event_time(left_stream, left_ts).withWatermark(
        left_ts, watermark
    )
    rw = positive_event_time(right_stream, right_ts).withWatermark(
        right_ts, watermark
    )
    cond = (
        (lw[key] == rw[key])
        & (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(max_gap))
    )
    joined = lw.join(rw, cond, "inner").drop(rw[key])
    out_dir = ephemeral_dir("iotstream-ssj-")
    writer = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
    )
    # inner join, append mode: the final watermark cannot emit
    run_available_now(writer, flush_watermark=False)
    return spark.read.schema(joined.schema).parquet(out_dir)
