"""Exactly-once idempotent streaming sink under forced micro-batch
replay — the reference's retry-dedup guarantee (reducer per-chunk
guard core/map_reduce.go:167-182, master per-reducer dedup
core/map_reduce.go:621-626) re-expressed as a (batchId → txn) dedup
in a foreachBatch sink.

The replay is DETERMINISTIC: three pinned single-file micro-batches
(mtime+path ordered), a crash injected immediately AFTER the sink
commits batch 1 but BEFORE Structured Streaming commits its offsets —
so the restart re-executes batch 1 with the same batchId over the
same file.  The guard must dedup it; a naive append sink must
double-write (the negative control that proves the guard is
load-bearing, not decorative).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan
from mapreduce_faultolerrant_localityaware_spark.streaming.idempotent_sink import (
    CrashAfterCommit,
    IdempotentBatchSink,
    committed_batch_ids,
    read_committed,
    read_latest_per_key,
    run_idempotent_replay,
)
from mapreduce_faultolerrant_localityaware_spark.streaming.late_data import (
    stage_three_batch_input,
)
import pytest

pytestmark = [pytest.mark.slow, pytest.mark.streaming]


def _staged_events(spark, sf_dir):
    events = scan(spark, sf_dir, "events")
    in_dir = stage_three_batch_input(spark, events)
    schema = spark.read.parquet(os.path.join(in_dir, "00-even.parquet")).schema
    return events, in_dir, schema


def test_replay_after_commit_is_deduped(spark, sf_dir, tmp_path):
    """Append pipeline, crash after batch 1's commit: the restart
    replays batch 1 (same batchId), the sink dedups it, and the final
    committed rows equal the batch oracle EXACTLY."""
    events, in_dir, schema = _staged_events(spark, sf_dir)

    def pipe(stream):
        return stream.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
        )

    sink = run_idempotent_replay(
        spark, in_dir, schema, str(tmp_path / "out"), pipe,
        output_mode="append",
    )
    # the replay happened and was deduped: batch 1 attempted twice,
    # second attempt skipped
    b1 = [(bid, skipped) for bid, skipped in sink.attempts if bid == 1]
    assert b1 == [(1, False), (1, True)], sink.attempts
    assert committed_batch_ids(str(tmp_path / "out")) == [0, 1, 2]

    got = sorted(
        (r["event_id"], r["user_id"], r["cents"])
        for r in read_committed(spark, str(tmp_path / "out"))
        .select("event_id", "user_id", "cents").collect()
    )
    want = sorted(
        (r["event_id"], r["user_id"], r["cents"])
        for r in events.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).collect()
    )
    assert got == want  # exactly-once: no lost rows, no duplicates


def test_naive_append_sink_double_writes_under_replay(spark, sf_dir, tmp_path):
    """Negative control: the SAME crash point with a plain append sink
    duplicates batch 1 — proving the dedup guard above is what carries
    the exactly-once property."""
    events, in_dir, schema = _staged_events(spark, sf_dir)
    out = str(tmp_path / "naive")
    ckpt = str(tmp_path / "naive_ckpt")

    def naive(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    fb = CrashAfterCommit(naive, crash_batch_id=1)

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        pipe = stream.filter(F.col("event_type") == "purchase").select("event_id")
        return (
            pipe.writeStream.foreachBatch(fb).outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )

    q = start()
    try:
        q.awaitTermination()
    except Exception:
        q = start()
        q.awaitTermination()

    n_expected = events.filter(F.col("event_type") == "purchase").count()
    n_naive = spark.read.parquet(out).count()
    assert n_naive > n_expected, (
        f"naive sink unexpectedly exactly-once ({n_naive} vs {n_expected}) — "
        "the replay did not fire; the positive test is vacuous"
    )


def test_update_mode_upsert_reader_latest_wins(spark, sf_dir, tmp_path):
    """Update-mode aggregation through the same guard: per-batch deltas
    append under their txn id, the upsert reader takes each key's row
    from the highest committed batch, and the final state equals the
    batch groupBy despite the forced replay."""
    events, in_dir, schema = _staged_events(spark, sf_dir)

    def agg(stream):
        return stream.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )

    out = str(tmp_path / "upd")
    run_idempotent_replay(
        spark, in_dir, schema, out, agg, output_mode="update",
    )
    got = {
        r["event_type"]: r["n"]
        for r in read_latest_per_key(spark, out, ["event_type"]).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).collect()
    }
    assert got == want


def test_torn_write_without_marker_is_invisible(spark, sf_dir, tmp_path):
    """Crash BETWEEN data write and marker (the other crash point):
    the unmarked batch dir is a torn write readers never see."""
    events, in_dir, schema = _staged_events(spark, sf_dir)
    out = str(tmp_path / "torn")
    sink = IdempotentBatchSink(out)
    df = events.filter(F.col("event_type") == "purchase").select("event_id")
    sink(df, 0)
    # simulate the torn write: batch 1's data landed, marker did not
    df.limit(3).withColumn("_batch_id", F.lit(1).cast("long")).write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "data", "batch=1"))
    assert committed_batch_ids(out) == [0]
    assert read_committed(spark, out).count() == df.count()
