"""Native F.session_window semantics, pinned on a controlled input —
the boundaries the streaming_session_window oracle encodes:

  * sessions MERGE across micro-batches while consecutive gaps are AT
    MOST the gap (state-store window merge is overlap-OR-adjacency:
    an event exactly at the previous session's end EXTENDS it — the
    oracle's break rule is strictly greater);
  * a gap one second OVER the threshold splits;
  * in append mode a session is EMITTED iff its end fell behind the
    final watermark (state expiry finalizes it); a still-open session
    is withheld — the bounded-state contract.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark._scratch import scratch_dir
from mapreduce_faultolerrant_localityaware_spark.streaming import (
    run_to_batch,
    session_window_counts,
)
import pytest

pytestmark = [pytest.mark.slow, pytest.mark.streaming]


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "user_id LONG, ts STRING, value DOUBLE"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_session_merge_and_expiry_boundaries(spark):
    root = scratch_dir("sesswin-pin")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    batches = [
        # batch 0: u1 opens a session; u4 stages the exact-gap pair;
        # u5 the one-second-over pair
        _mk(spark, [(1, "2024-01-01 10:00:00", 1.0),
                    (4, "2024-01-01 10:00:00", 1.0),
                    (5, "2024-01-01 10:00:00", 1.0)]),
        # batch 1: u1's event 25 min later MERGES (gap < 30);
        # u4's event exactly 30 min later ALSO merges (adjacency);
        # u5's event 30 min + 1 s later SPLITS
        _mk(spark, [(1, "2024-01-01 10:25:00", 2.0),
                    (4, "2024-01-01 10:30:00", 1.0),
                    (5, "2024-01-01 10:30:01", 1.0)]),
        # batch 2: clock advance to 13:00 -> watermark 12:00 evicts
        # and finalizes every earlier session; u99's own session
        # (end 13:30 > 12:00) stays open and must NOT be emitted
        _mk(spark, [(99, "2024-01-01 13:00:00", 1.0)]),
    ]
    for i, df in enumerate(batches):
        tmp = os.path.join(root, f"t{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(tmp + "/part-*.parquet")
        dest = os.path.join(in_dir, f"{i:02d}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + i * 100,) * 2)
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    agg = session_window_counts(stream, watermark="1 hour")
    out = run_to_batch(agg, spark, output_mode="append")
    got = {
        (
            r["user_id"],
            r["session_start"].strftime("%H:%M:%S"),
            r["session_end"].strftime("%H:%M:%S"),
            r["n_events"],
            r["sum_value"],
        )
        for r in out.collect()
    }
    assert got == {
        # u1: cross-batch merge, end = last event (10:25) + gap
        (1, "10:00:00", "10:55:00", 2, 3.0),
        # u4: gap exactly 30 min -> adjacency MERGES into one session
        (4, "10:00:00", "11:00:00", 2, 2.0),
        # u5: one second over the gap -> split
        (5, "10:00:00", "10:30:00", 1, 1.0),
        (5, "10:30:01", "11:00:01", 1, 1.0),
        # u99 absent: session end 13:30 is past the final watermark
    }
