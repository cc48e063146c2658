"""Sessionization tests — batch (window composition) and streaming
(applyInPandasWithState custom stateful operator)."""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators.events import sessionize
from mapreduce_faultolerrant_localityaware_spark.streaming import sessionize_stream

import pytest

pytestmark = [pytest.mark.slow, pytest.mark.streaming]


def _ts(minute):
    return dt.datetime(2024, 1, 1, 10, minute)


def test_batch_sessionize_gap_splits(spark):
    rows = [
        (1, 100, _ts(0), 1.0), (2, 100, _ts(5), 1.0),   # session 1
        (3, 100, _ts(50), 1.0),                          # >30min gap → session 2
        (4, 200, _ts(0), 1.0),                           # other user, own session 1
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    out = {r["event_id"]: r["session_id"] for r in sessionize(df).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}


def test_streaming_sessionize_boundary_semantics(spark, tmp_path):
    """Streaming fold == batch gaps-and-islands on adversarial inputs:
    a gap of EXACTLY 30 min must NOT split (strict >), duplicate
    timestamps stay one session, a lone event is its own session."""
    from mapreduce_faultolerrant_localityaware_spark.streaming import materialize as M

    rows = [
        (100, _ts(0)), (100, _ts(30)),            # exact-gap boundary: same session
        (100, dt.datetime(2024, 1, 1, 11, 1)),    # 31 min later: new session
        (200, _ts(10)), (200, _ts(10)),           # duplicate ts: one session, n=2
        (300, _ts(5)),                            # singleton session
    ]
    src = str(tmp_path / "events_edge")
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    updates = M.run_to_batch(sessionize_stream(stream), spark, "update")
    final = {
        (r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
        for r in updates.groupBy("user_id", "session_start_us")
        .agg(F.max("session_end_us").alias("session_end_us"), F.max("n_events").alias("n_events"))
        .collect()
    }

    def us(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    assert final == {
        (100, us(_ts(0))): (us(_ts(30)), 2),
        (100, us(dt.datetime(2024, 1, 1, 11, 1))): (us(dt.datetime(2024, 1, 1, 11, 1)), 1),
        (200, us(_ts(10))): (us(_ts(10)), 2),
        (300, us(_ts(5))): (us(_ts(5)), 1),
    }


def test_streaming_sessionize_stateful(spark):
    src = spark.readStream.format("rate").option("rowsPerSecond", "20").load()
    events = src.select(
        (F.col("value") % 3).alias("user_id"), F.col("timestamp").alias("ts")
    )
    q = (
        sessionize_stream(events)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.sql("SELECT * FROM sess_out").count() > 0:
                break
            time.sleep(0.2)
        rows = spark.sql("SELECT * FROM sess_out").collect()
        assert rows, "no session rows emitted"
        # rate source has no gaps → only open sessions; state accumulates
        assert all(not r["closed"] for r in rows)
        by_user = {}
        for r in rows:
            by_user.setdefault(r["user_id"], []).append(r["n_events"])
        # n_events grows monotonically per user across updates
        assert all(ns == sorted(ns) for ns in by_user.values())
    finally:
        q.stop()


def test_streaming_sessionize_event_time_timeout_flushes_idle_key(spark, tmp_path):
    """VERDICT r7 item 6: with ``timeout=True`` an IDLE key's open
    session closes when the event-time watermark passes
    ``last_seen + gap`` — no subsequent activity on that key required.

    Staged two-batch replay (maxFilesPerTrigger=1, pinned mtimes):

      batch 0: user 100 at 10:00 and 10:05   (opens the session)
      batch 1: user 200 at 12:00             (OTHER key; advances the
               clock so wm = 12:00 - 30min = 11:30 > 10:05 + 30min)

    The availableNow no-data batch then fires the armed timeout and
    user 100's session emits closed=True.  User 200's session deadline
    (12:30) stays beyond the final watermark, so it remains open.
    """
    import glob as _glob
    import os
    import shutil

    from mapreduce_faultolerrant_localityaware_spark.streaming import materialize as M

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    batches = [
        [(100, _ts(0)), (100, _ts(5))],
        [(200, dt.datetime(2024, 1, 1, 12, 0))],
    ]
    for i, rows in enumerate(batches):
        tmp = str(tmp_path / f"t{i}")
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
            1
        ).write.parquet(tmp)
        (part,) = _glob.glob(tmp + "/part-*.parquet")
        dest = os.path.join(in_dir, f"{i:02d}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + i * 100,) * 2)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = M.run_to_batch(
        sessionize_stream(stream, timeout=True),
        spark,
        "update",
    )
    rows = out.collect()

    def us(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    closed = [tuple(r) for r in rows if r["closed"]]
    # exactly one closed session: user 100, flushed by timeout alone
    assert closed == [(100, us(_ts(0)), us(_ts(5)), 2, True)]
    # user 200's session is open (deadline 12:30 beyond final wm 11:30)
    open_200 = [r for r in rows if r["user_id"] == 200 and not r["closed"]]
    assert len(open_200) == 1 and open_200[0]["n_events"] == 1
