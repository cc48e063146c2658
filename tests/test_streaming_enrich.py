"""Tests for the streaming enrichment operators: stream-static join,
sliding windows, watermarked dedup — rate source → memory sink."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.streaming import sliding_event_counts
import pytest

pytestmark = [pytest.mark.slow, pytest.mark.streaming]


def _run_until(query, predicate, timeout=60.0):
    end = time.time() + timeout
    while time.time() < end:
        query.processAllAvailable()
        if predicate():
            return True
        time.sleep(0.2)
    return False


def test_enrich_stream_static_join(spark):
    dim = spark.createDataFrame(
        [(0, "zero"), (1, "one"), (2, "two")], ["key", "label"]
    )
    src = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .select((F.col("value") % 3).alias("key"), F.col("timestamp").alias("ts"))
    )
    out = src.join(F.broadcast(dim), "key", "left")
    q = out.writeStream.format("memory").queryName("enr_out").outputMode("append").start()
    try:
        ok = _run_until(q, lambda: spark.table("enr_out").count() > 10)
        assert ok, "no enriched output"
        labels = {r["label"] for r in spark.table("enr_out").select("label").distinct().collect()}
        assert labels <= {"zero", "one", "two"} and labels
    finally:
        q.stop()


def test_sliding_window_counts(spark):
    src = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    events = src.select(
        F.col("timestamp").alias("ts"), (F.col("value") % 2).cast("string").alias("event_type")
    )
    out = sliding_event_counts(events, window_len="10 seconds", slide="5 seconds", watermark="1 minute")
    q = out.writeStream.format("memory").queryName("slide_out").outputMode("update").start()
    try:
        ok = _run_until(q, lambda: spark.table("slide_out").count() > 0)
        assert ok, "no sliding-window output"
        # overlapping windows: some timestamp is covered by ≥2 windows
        rows = spark.table("slide_out").select("window_start", "window_end").distinct().collect()
        assert len(rows) >= 2
    finally:
        q.stop()


def test_dedup_stream_drops_repeats(spark):
    # value % 5 repeats constantly; dedup keeps one row per key
    src = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        .select((F.col("value") % 5).alias("k"), F.col("timestamp").alias("ts"))
    )
    out = src.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["k"])
    q = out.writeStream.format("memory").queryName("dd_out").outputMode("append").start()
    try:
        ok = _run_until(q, lambda: spark.table("dd_out").count() >= 5)
        assert ok, "no dedup output"
        counts = [r["n"] for r in spark.sql("SELECT k, count(*) AS n FROM dd_out GROUP BY k").collect()]
        assert all(c == 1 for c in counts)
    finally:
        q.stop()
