"""Streaming execution policy (SURVEY.md §2.8 T1-T7).

- T1: tumbling windows via ``F.window`` (operators.windows).
- T2: event-time domain — payload timestamps, not broker ROWTIME
  (documented deviation; deterministic + testable).
- T3: watermarks bound state; the reference has no late-data policy
  (KSQL 0.6 retains windows indefinitely), so correctness runs use an
  effectively-unbounded watermark and production runs a finite one.
- T4: every query gets a ``checkpointLocation`` → restartable,
  exactly-once into file sinks (strictly stronger than the reference's
  unchckpointed fire-and-forget, StreamProcessor.java:126).
- T5: streaming aggregation state lives in the state store.
- T6: pacing via triggers (availableNow in tests, processingTime in
  production) instead of the reference's 100 ms sleep poll
  (HiveMQSource.java:86-93).
- T7: restart-from-checkpoint replaces swallow-and-continue error
  handling (MongoDBRawData.java:46-52).

Flush rule for availableNow drains: after the last data batch, a
watermarked query runs one more micro-batch with no input rows that
only advances the watermark and evicts state. That batch can emit rows
only for append-mode windows and sessions, outer stream-stream joins
and event-time timeouts. Everywhere else (update or complete mode,
``dropDuplicatesWithinWatermark``, inner joins) it is pure fixed cost,
and the caller skips it with ``run_available_now(...,
flush_watermark=False)``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: Don't place scratch on tmpfs unless this much is free: drain sinks
#: hold real (read-back-once) parquet output, and a container-default
#: 64 MB /dev/shm would ENOSPC queries that worked fine on /tmp.
_SHM_MIN_FREE = 8 << 30


def ephemeral_dir(prefix: str) -> str:
    """Scratch dir for ONE-SHOT drains (checkpoints/spill sinks that
    are read back once and never revisited): prefer tmpfs (/dev/shm)
    so per-micro-batch commit fsyncs never hit disk — durability buys
    nothing for a throwaway dir, and the commit-log fsync is a fixed
    per-batch cost on every drained test/bench query. Falls back to
    the normal temp dir when /dev/shm is missing, read-only, or too
    small (Docker defaults it to 64 MB). Durable production queries
    pass their own ``checkpointLocation`` and are unaffected."""
    shm = "/dev/shm"
    base = None
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE:
                base = shm
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=prefix, dir=base)

from iotstream.operators.windows import tumbling_agg
from iotstream.sinks import ParquetUpsertSink

#: Correctness-mode watermark: large enough that no fixture row is ever
#: late-dropped, so the streaming result equals the batch result exactly.
UNBOUNDED_WATERMARK = "3650 days"


def run_available_now(
    writer, checkpoint: str | None = None, *, flush_watermark: bool = True
):
    """Start a writeStream with availableNow trigger and block until all
    available input is processed. Returns the finished query.

    ``flush_watermark=False`` skips the trailing no-data micro-batch
    (see the flush rule in the module docstring). Pass it only when the
    final watermark cannot emit a row. Spark copies
    ``noDataMicroBatches.enabled`` into the query's own session at
    ``start()``, so it is switched off around that call only; the
    default leaves the session conf untouched.

    A checkpoint created here is deleted once the query has ended; a
    caller-supplied one is never touched."""
    own_checkpoint = checkpoint is None
    if own_checkpoint:
        checkpoint = ephemeral_dir("iotstream-ckpt-")
    spark = writer._spark
    try:
        writer = writer.option("checkpointLocation", checkpoint).trigger(
            availableNow=True
        )
        if flush_watermark:
            q = writer.start()
        else:
            with scoped_conf(
                spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false"
            ):
                q = writer.start()
        q.awaitTermination()
    finally:
        # One-shot drain: this checkpoint is never revisited, so unload
        # its state-store providers now. Long sessions that drain many
        # ad-hoc streams (the correctness gate runs ~8) otherwise
        # accumulate providers that the maintenance thread keeps
        # snapshotting.
        try:
            spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception:  # noqa: BLE001 — internal API; hygiene only
            pass
        if own_checkpoint:
            shutil.rmtree(checkpoint, ignore_errors=True)
    return q


@contextlib.contextmanager
def scoped_conf(spark, key: str, value: str):
    """Set one session conf for the ``with`` body; restore the previous
    value on exit, also when the body raises."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def scoped_shuffle_partitions(spark, n: int):
    """Temporarily right-size ``spark.sql.shuffle.partitions`` — the
    number of state-store partitions a streaming query creates. A
    driver session left at the 200 default pays 200 state tasks per
    micro-batch on test-scale data; production sizes this to the
    cluster. Restores the previous value on exit."""
    return scoped_conf(spark, "spark.sql.shuffle.partitions", str(n))


def windowed_agg_final_state(
    spark: SparkSession,
    stream: DataFrame,
    ts_col: str,
    keys: list[str],
    value,
    width: str = "1 minute",
    watermark: str = UNBOUNDED_WATERMARK,
    round_avg: int | None = 6,
) -> DataFrame:
    """Run the A1-A3 windowed aggregate as a REAL streaming query
    (update mode + keyed upsert, exactly the KSQL MAX_TABLE → Connect →
    Mongo path, README.md:87-107) and return the final upserted state.

    With the unbounded correctness watermark the final state equals the
    batch aggregate bit-for-bit — the batch-stream equivalence that
    Structured Streaming's design guarantees.
    """
    agg = tumbling_agg(
        stream.withWatermark(ts_col, watermark),
        ts_col,
        keys,
        value,
        width=width,
        prefix="temperature",
    )
    if round_avg is not None:
        agg = agg.withColumn("avg_temperature", F.round("avg_temperature", round_avg))
    sink = ParquetUpsertSink(key_cols=["window_start", *keys])
    writer = agg.writeStream.outputMode("update").foreachBatch(sink.writer())
    # update mode: the final watermark evicts but cannot emit
    run_available_now(writer, flush_watermark=False)
    return sink.to_df(spark)
