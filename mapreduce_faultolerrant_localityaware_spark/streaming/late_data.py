"""Deterministic watermark/late-data semantics under the batch oracle
gate — the one streaming behavior the availableNow single-batch replay
CANNOT exercise (with the whole input in one micro-batch the watermark
never advances mid-stream, so nothing is ever late).

Since the multi-stateful-operator rework (Spark 3.4+), each stateful
operator carries TWO watermark values per micro-batch: late-event
filtering uses the PREVIOUS batch's eviction watermark, eviction uses
the current one.  Drops therefore lag the data that advanced the
clock by one batch — so a deterministic late-drop replay needs THREE
pinned micro-batches (``maxFilesPerTrigger=1`` + explicit mtimes):

  batch 0  f0 = even-event_id rows with ts < max(ts)   advances clock
  batch 1  f1 = ALL rows carrying the global max ts    bridge batch —
           (its rows are filtered with batch 0's late watermark, i.e.
           epoch, so nothing is lost) — pushes the eviction frontier
           to the global max
  batch 2  f2 = odd-event_id rows with ts < max(ts)    late half: its
           old rows are filtered against w1 = max(ts of f0) − delay

Empirically pinned boundaries (tests/test_streaming_late_data.py):
a row is DROPPED iff its window_end <= w1, and a window is EMITTED
(append mode) iff window_end <= w2 = max(all ts) − delay.  Both
cutoffs are pure functions of the input, so a SQL oracle reproduces
the surviving set exactly:

    out = window-agg( f0 ∪ f1 ∪ {f2 : window_end(ts) > w1} )
          where window_end <= w2

This is the replay harness for the production shape (unbounded
source, same operator graph); the reference has no streaming plane at
all (SURVEY §3: its one query is a bounded batch word count), so this
is engine-extension surface.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stage_three_batch_input(spark: SparkSession, events: DataFrame) -> str:
    """Materialize ``events`` as three single-file parquets with pinned
    arrival order: ``00-even`` (event_id % 2 == 0, ts < max), ``01-max``
    (every row with the global max ts), ``02-odd`` (the rest).

    File-source ordering is (modification time, path); both are forced
    so the replay is deterministic on any filesystem.  The staging
    write is the test-harness analog of "yesterday's files are already
    in the bucket, today's land later" — on a real deployment this
    function does not exist.
    """
    from .._scratch import scratch_dir

    root = scratch_dir("late")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir, exist_ok=True)
    with_max = events.join(
        F.broadcast(events.agg(F.max("ts").alias("_maxts")))
    )
    splits = [
        ("even", (F.col("event_id") % 2 == 0) & (F.col("ts") < F.col("_maxts"))),
        ("max", F.col("ts") == F.col("_maxts")),
        ("odd", (F.col("event_id") % 2 != 0) & (F.col("ts") < F.col("_maxts"))),
    ]
    for i, (tag, pred) in enumerate(splits):
        tmp = os.path.join(root, f"tmp-{tag}")
        with_max.filter(pred).drop("_maxts").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dest = os.path.join(in_dir, f"{i:02d}-{tag}.parquet")
        shutil.move(part, dest)
        # pin (mtime, path) ordering explicitly: strictly increasing
        os.utime(dest, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
        shutil.rmtree(tmp, ignore_errors=True)
    return in_dir


def late_window_counts(spark: SparkSession, in_dir: str, schema) -> DataFrame:
    """Append-mode tumbling counts over the staged three-batch input:
    one file per micro-batch, ``1 hour`` watermark, integer-cent sums
    for hash-stable output.  Emits ONLY finalized windows; rows from
    the last batch whose window the two-batches-back watermark already
    passed are dropped — the bounded-state contract that makes this
    operator viable over an unbounded 100 TB/day stream.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    ts_type = dict(stream.dtypes).get("ts", "")
    if ts_type != "timestamp":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window(F.col("ts"), "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_cents",
        )
    )
