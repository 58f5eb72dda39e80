"""Structured Streaming tests: incremental extraction over a file stream,
watermarked window aggregation, and stateful sessionization — all driven
with availableNow triggers for determinism."""

import os

import pyspark.sql.functions as F
import pytest

from pdfextractor_spark.corpus import generate_pages
from pdfextractor_spark.pipeline.schema import PAGES_SCHEMA
from pdfextractor_spark.streaming.stream import (
    sessionize_events,
    stream_extract,
    stream_pages,
    windowed_event_counts,
    write_stream,
)


@pytest.fixture()
def pages_dir(spark, tmp_path):
    path = str(tmp_path / "pages_in")
    df = spark.createDataFrame(generate_pages(60), schema=PAGES_SCHEMA)
    df.coalesce(2).write.mode("overwrite").parquet(path)
    return path


def test_stream_extract_matches_batch(spark, tmp_path, pages_dir):
    out = str(tmp_path / "silver_out")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_extract(stream_pages(spark, pages_dir))
    q = write_stream(stream, out, ckpt)
    q.awaitTermination(120)
    result = spark.read.parquet(out)
    assert result.count() == 60
    # identical rows to the batch fused path, column for column
    from pdfextractor_spark.pipeline.fused import FUSED_SCHEMA, extract_fused

    batch = extract_fused(spark.read.parquet(pages_dir), num_partitions=4)
    cols = FUSED_SCHEMA.fieldNames()
    b = [r.asDict(recursive=True) for r in batch.orderBy("url").collect()]
    s = [r.asDict(recursive=True) for r in result.select(*cols).orderBy("url").collect()]
    assert len(b) == 60 and b == s


def test_stream_extract_incremental_new_files(spark, tmp_path, pages_dir):
    out = str(tmp_path / "silver_inc")
    ckpt = str(tmp_path / "ckpt_inc")
    q = write_stream(stream_extract(stream_pages(spark, pages_dir)), out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == 60
    # drop 20 NEW docs into the source dir; restart drains only the delta
    more = spark.createDataFrame(generate_pages(20, start=1000), schema=PAGES_SCHEMA)
    more.coalesce(1).write.mode("append").parquet(pages_dir)
    q2 = write_stream(stream_extract(stream_pages(spark, pages_dir)), out, ckpt)
    q2.awaitTermination(120)
    result = spark.read.parquet(out)
    assert result.count() == 80
    assert result.select("url").distinct().count() == 80  # exactly-once


def test_windowed_event_counts(spark, tmp_path):
    src = str(tmp_path / "events_in")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").coalesce(1) \
        .write.mode("overwrite").parquet(src)
    events = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    agg = windowed_event_counts(events, window="1 hour", watermark="2 hours")
    out = str(tmp_path / "win_out")
    q = write_stream(agg, out, str(tmp_path / "win_ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # batch equivalent (append mode emits only watermark-closed windows,
    # so the streamed result is a subset of the batch truth)
    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("events"))
        .select(F.col("window.start").alias("window_start"), "event_type", "events")
    )
    got_rows = {(r["window_start"], r["event_type"]): r["events"] for r in got.collect()}
    batch_rows = {(r["window_start"], r["event_type"]): r["events"] for r in batch.collect()}
    assert got_rows  # some windows closed
    for k, v in got_rows.items():
        assert batch_rows[k] == v


def test_sessionize_events_stateful(spark, tmp_path):
    src = str(tmp_path / "sess_in")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").where("user_id < 10") \
        .coalesce(1).write.mode("overwrite").parquet(src)
    events = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sessions = sessionize_events(events)
    out = str(tmp_path / "sess_out")
    q = write_stream(sessions, out, str(tmp_path / "sess_ckpt"))
    q.awaitTermination(120)
    # with availableNow the stream stops before the 30-min processing-time
    # timeout fires, so sessions stay open (state persisted in checkpoint);
    # the operator must still run cleanly end-to-end with a stable schema
    got = spark.read.parquet(out)
    assert set(got.columns) == {"user_id", "session_start", "session_end", "events", "status"}


def test_dedup_stream_drops_replayed_urls(spark, tmp_path, pages_dir):
    from pdfextractor_spark.streaming.stream import dedup_stream

    # replay the same 60 urls a second time (duplicate files in the source)
    dup = spark.read.parquet(pages_dir)
    dup.coalesce(1).write.mode("append").parquet(pages_dir)
    assert spark.read.parquet(pages_dir).count() == 120

    out = str(tmp_path / "dedup_out")
    q = write_stream(dedup_stream(stream_pages(spark, pages_dir)), out,
                     str(tmp_path / "dedup_ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 60
    assert got.select("url").distinct().count() == 60
