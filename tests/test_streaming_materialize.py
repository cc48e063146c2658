"""Streaming == batch on the same bounded input (the replay-harness
property that puts streaming under the oracle gate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark import streaming as S
from mapreduce_faultolerrant_localityaware_spark.operators.wordcount import wordcount_from_text
from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

import pytest

pytestmark = [pytest.mark.slow, pytest.mark.streaming]


def test_streaming_wordcount_equals_batch(spark, sf_dir):
    stream = S.stream_table(spark, sf_dir, "documents")
    got = {
        (r["word"], r["count"])
        for r in S.run_to_batch(S.streaming_wordcount(stream, text_col="text"), spark).collect()
    }
    want = {
        (r["word"], r["count"])
        for r in wordcount_from_text(
            scan(spark, sf_dir, "documents").select(F.col("text").alias("value")), sort=False
        ).collect()
    }
    assert got == want


def test_empty_bounded_stream_yields_empty_result(spark, tmp_path):
    """Zero micro-batches must still produce a readable, empty result
    (regression: the scratch parquet used to never be written)."""
    src = str(tmp_path / "src")
    spark.createDataFrame([], "word string, count long").write.parquet(src)
    stream = spark.readStream.schema("word string, count long").parquet(src)
    agg = stream.groupBy("word").agg(F.sum("count").alias("count"))
    out = S.run_to_batch(agg, spark)
    assert out.count() == 0
    assert set(out.columns) == {"word", "count"}


def test_append_mode_empty_and_idempotent_layout(spark, tmp_path):
    """Append-mode materialization survives an empty input and writes
    per-batch-id directories (retry-idempotent, never double-appends)."""
    src = str(tmp_path / "srcA")
    spark.range(0).selectExpr("id AS k").write.parquet(src)
    stream = spark.readStream.schema("k long").parquet(src)
    out = S.run_to_batch(stream, spark, output_mode="append")
    assert out.count() == 0

    src2 = str(tmp_path / "srcB")
    spark.range(10).selectExpr("id AS k").write.parquet(src2)
    stream2 = spark.readStream.schema("k long").parquet(src2)
    out2 = S.run_to_batch(stream2, spark, output_mode="append")
    assert sorted(r["k"] for r in out2.collect()) == list(range(10))


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    stream = S.stream_table(spark, sf_dir, "events")
    got = S.run_to_batch(S.windowed_event_counts(stream), spark)
    ev = scan(spark, sf_dir, "events")
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    canon = lambda df: {  # noqa: E731
        (r["window_start"], r["event_type"], r["n_events"], round(r["sum_value"], 6))
        for r in df.collect()
    }
    assert canon(got) == canon(want)


def test_streaming_nanos_events_equal_batch_scan(spark, tmp_path):
    """A TIMESTAMP(NANOS) events.parquet streams with the same ts
    normalization as the batch scan: the footer sniff sets the legacy
    flag, nanos truncate to micro timestamps, and the streamed
    (event_id, ts) rows equal scan()'s."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1700000000_000000 + i * 1_500_000 for i in range(10)]
    nanos_dir = tmp_path / "nanos_sf"
    nanos_dir.mkdir()
    table = pa.table(
        {
            "event_id": pa.array(range(10), pa.int64()),
            "ts": pa.array([m * 1000 + 777 for m in micros], pa.timestamp("ns")),
            "user_id": pa.array([i % 3 for i in range(10)], pa.int64()),
            "event_type": pa.array(["click"] * 10),
            "value": pa.array([float(i) for i in range(10)]),
            "props": pa.array(["{}"] * 10),
        }
    )
    pq.write_table(table, nanos_dir / "events.parquet")

    # a foreign session: the flag unset, stream_table() must sniff the
    # footer and set it (restore afterwards — get_spark sets it true)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        stream = S.stream_table(spark, str(nanos_dir), "events")
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        got = S.run_to_batch(stream.select("event_id", "ts"), spark, output_mode="append")
        want = scan(spark, str(nanos_dir), "events").select("event_id", "ts")
        rows = lambda df: sorted(  # noqa: E731
            (r["event_id"], r["us"])
            for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
        )
        assert rows(got) == rows(want) == list(enumerate(micros))
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
