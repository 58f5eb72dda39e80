"""Structured Streaming surface for the extraction engine.

The reference is a batch system with chunked resume (SURVEY §2.11), so no
operator here has a direct counterpart — this is the Spark-native capability
that replaces "re-run the batch script on new files": continuous ingestion of
new page files with exactly-once sinks.

- ``stream_pages``: file-source stream over a pages parquet directory; new
  files are discovered incrementally (the streaming analog of the reference's
  skip-if-exists directory scans).
- ``stream_extract``: the SAME per-row function as batch fused extraction
  (``pipeline.fused.fused_row``) run through ``session.map_rows``, which
  works unchanged on streaming DataFrames, so batch and streaming share
  one code path (no drift between the two).
- ``windowed_event_counts``: watermarked tumbling-window aggregation with
  late-data handling.
- ``sessionize_events``: custom stateful operator via
  ``applyInPandasWithState`` — per-user session assembly with a gap timeout.
- ``write_stream``: parquet sink with checkpointing (exactly-once within the
  sink's commit protocol); ``availableNow`` trigger processes the backlog
  and stops, the deterministic mode used by tests and backfills.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..pipeline.fused import FUSED_SCHEMA, fused_row
from ..pipeline.schema import PAGES_SCHEMA
from ..session import map_rows

__all__ = [
    "stream_pages",
    "stream_extract",
    "dedup_stream",
    "windowed_event_counts",
    "sessionize_events",
    "write_stream",
]


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of pages rows (new parquet files ingested as they
    appear; schema fixed up front as streaming requires)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_extract(pages_stream: DataFrame, mode: str = "exact",
                   bmp_filter: bool = False) -> DataFrame:
    """pages stream -> silver stream with the same fused UDF as batch.

    No repartition here: a streaming micro-batch is already split by input
    file, and a shuffle would force stateful planning for no benefit — skew
    is bounded by maxFilesPerTrigger instead."""
    cols = pages_stream.select("url", "html", "text", "lang")
    return map_rows(cols, lambda *row: [fused_row(*row, mode=mode, bmp_filter=bmp_filter)],
                    FUSED_SCHEMA)


def dedup_stream(stream: DataFrame, key_cols: tuple[str, ...] = ("url",),
                 ts_col: str = "warc_ts", watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup: drop re-crawls/replays of the same key arriving
    within the watermark horizon (``dropDuplicatesWithinWatermark``).

    Unlike plain ``dropDuplicates`` on a stream, state for a key is evicted
    once the watermark passes it — bounded state at 10^12-doc scale instead
    of an ever-growing seen-set. Cross-horizon duplicates are handled by the
    batch exact/near dedup layer downstream (ops/dedup.py)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(key_cols))


def windowed_event_counts(events_stream: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event type; rows later than the
    watermark are dropped, completed windows are emitted exactly once in
    append mode."""
    # watermarks require TIMESTAMP (with tz); NTZ sources cast under the
    # session UTC timezone, which is deterministic for our synthetic data
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "events", "total_value",
        )
    )


_SESSION_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("events", LongType()),
    StructField("status", StringType()),
])

_SESSION_STATE = StructType([
    StructField("start_us", LongType()),
    StructField("end_us", LongType()),
    StructField("n", LongType()),
])


def _session_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Per-user session assembly: extend the open session with each batch;
    emit it when the gap timeout fires."""
    import datetime as dt

    (user_id,) = key
    if state.hasTimedOut:
        start_us, end_us, n = state.get
        state.remove()
        yield pd.DataFrame([{
            "user_id": user_id,
            "session_start": dt.datetime.utcfromtimestamp(start_us / 1e6),
            "session_end": dt.datetime.utcfromtimestamp(end_us / 1e6),
            "events": n,
            "status": "closed",
        }])
        return
    start_us = end_us = None
    n = 0
    if state.exists:
        start_us, end_us, n = state.get
    for pdf in pdfs:
        ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
        if ts_us:
            lo, hi = min(ts_us), max(ts_us)
            start_us = lo if start_us is None else min(start_us, lo)
            end_us = hi if end_us is None else max(end_us, hi)
            n += len(ts_us)
    if start_us is not None:
        state.update((int(start_us), int(end_us), int(n)))
        state.setTimeoutDuration(30 * 60 * 1000)  # 30-min session gap
    yield pd.DataFrame(
        [], columns=["user_id", "session_start", "session_end", "events", "status"]
    )


def sessionize_events(events_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    sessions closed after a 30-minute inactivity gap."""
    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def write_stream(df: DataFrame, path: str, checkpoint: str, available_now: bool = True,
                 output_mode: str = "append"):
    """Parquet sink with checkpointed progress; availableNow drains the
    current backlog and stops (deterministic for tests/backfills)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
