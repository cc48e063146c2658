"""Watermark late-data semantics, pinned on a controlled input.

Empirically establishes the two boundary rules the streaming_late_data
oracle encodes (Spark 3.4+ two-value watermark: late filter = the
eviction watermark from TWO batches back; eviction = current):

  * a row is DROPPED  iff window_end <= w1 (= max ts of batch 0 − delay)
  * a window is EMITTED iff window_end <= w2 (= global max ts − delay)
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark._scratch import scratch_dir
from mapreduce_faultolerrant_localityaware_spark.streaming import (
    late_window_counts,
    stage_three_batch_input,
)
from mapreduce_faultolerrant_localityaware_spark.streaming.materialize import run_to_batch

import pytest

pytestmark = [pytest.mark.slow, pytest.mark.streaming]


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "event_id LONG, ts STRING, event_type STRING, value DOUBLE"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_late_drop_and_emission_boundaries(spark):
    """Hand-staged three files (no event_id parity involved) so each
    row's fate is known exactly."""
    root = scratch_dir("late-pin")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    batches = [
        # batch 0: advances the clock to 10:30 -> w1 = 09:30
        _mk(spark, [(1, "2024-01-01 10:00:00", "x", 1.0),
                    (2, "2024-01-01 10:30:00", "x", 1.0)]),
        # batch 1: the global max (12:00) -> w2 = 11:00; its own rows
        # pass the (epoch) late filter of batch 0
        _mk(spark, [(9, "2024-01-01 12:00:00", "x", 1.0)]),
        # batch 2: filtered against w1=09:30:
        #   01:00 (window_end 02:00 <= w1)  -> DROPPED
        #   09:45 (window_end 10:00 >  w1)  -> kept, emitted (<= w2)
        #   10:05 (window_end 11:00 <= w2)  -> kept, emitted (boundary!)
        _mk(spark, [(3, "2024-01-01 01:00:00", "x", 1.0),
                    (4, "2024-01-01 09:45:00", "x", 1.0),
                    (5, "2024-01-01 10:05:00", "x", 1.0)]),
    ]
    for i, df in enumerate(batches):
        tmp = os.path.join(root, f"t{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(tmp + "/part-*.parquet")
        dest = os.path.join(in_dir, f"{i:02d}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + i * 100,) * 2)
    schema = spark.read.parquet(in_dir).schema
    agg = late_window_counts(spark, in_dir, schema)
    out = run_to_batch(agg, spark, output_mode="append")
    got = {
        (r["window_start"].strftime("%H:%M"), r["n_events"]) for r in out.collect()
    }
    # 01-02 window absent (late row dropped); 12-13 absent (> w2);
    # 10-11 emitted AT the w2 boundary with rows from batches 0 and 2
    assert got == {("09:00", 1), ("10:00", 3)}


def test_stage_three_batch_split_is_a_partition(spark, sf_dir):
    """The three staged files partition the input exactly (no row lost
    or duplicated by the even/max/odd split)."""
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    ev = scan(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    in_dir = stage_three_batch_input(spark, ev)
    back = spark.read.parquet(in_dir)
    assert back.count() == ev.count()
    assert back.select("event_id").distinct().count() == ev.count()
    files = sorted(os.path.basename(p) for p in glob.glob(in_dir + "/*.parquet"))
    assert [f.split("-")[0] for f in files] == ["00", "01", "02"]
