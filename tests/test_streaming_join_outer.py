"""Stream-stream LEFT OUTER interval join: watermark-expiry null
emission, pinned on a controlled input (VERDICT r7 item 5).

Empirically establishes the emission rule the streaming_join_outer
oracle encodes.  With both sides watermarked by ``delay`` and the join
window ``[l.ts - tol, l.ts + tol]``:

  * matched pairs emit eagerly (same as inner);
  * an unmatched left row emits null-extended iff
      ``l.ts + tol <  w``   (STRICT; == is NOT emitted — 2nd test)
    where ``w = min(max_l_ts, max_r_ts) - delay`` is the global
    eviction watermark after the data batch (min-policy across the two
    sides' per-operator watermarks);
  * unmatched left rows with ``l.ts + tol >= w`` stay in state and are
    never emitted by the bounded replay.

The null rows arrive in the no-data watermark-advancing micro-batch
that availableNow appends after the data batch — the same mechanism
test_streaming_late_data pins for window eviction.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark._scratch import scratch_dir
from mapreduce_faultolerrant_localityaware_spark.streaming.enrich_stream import (
    interval_join_streams,
)
from mapreduce_faultolerrant_localityaware_spark.streaming.materialize import (
    run_to_batch,
)
import pytest

pytestmark = [pytest.mark.slow, pytest.mark.streaming]


def _stage(spark, root, sub, rows):
    """One single-file parquet dir -> one micro-batch for that side."""
    df = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, ts STRING"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = os.path.join(root, sub)
    df.coalesce(1).write.mode("overwrite").parquet(d + "_tmp")
    (part,) = glob.glob(d + "_tmp/part-*.parquet")
    os.makedirs(d)
    shutil.move(part, os.path.join(d, "00.parquet"))
    return d


def _run(spark, left_rows, right_rows, how="leftOuter"):
    root = scratch_dir("join-outer-pin")
    ldir = _stage(spark, root, "left", left_rows)
    rdir = _stage(spark, root, "right", right_rows)
    schema = spark.read.parquet(ldir).schema
    ls = spark.readStream.schema(schema).parquet(ldir)
    rs = spark.readStream.schema(schema).parquet(rdir)
    j = interval_join_streams(
        ls, rs, how=how
    )
    out = j.select(
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
    )
    res = run_to_batch(out, spark, output_mode="append")
    pairs = [(r["left_id"], r["right_id"]) for r in res.collect()]
    # None-safe order (fullOuter emits rows with a null left id)
    return sorted(pairs, key=lambda t: (t[0] is None, t[0] or 0, t[1] is None, t[1] or 0))


def test_outer_emits_matched_plus_watermark_closed_unmatched(spark):
    """Three fates in one replay: matched (eager), unmatched-old
    (null-extended at watermark close), unmatched-recent (held in
    state, absent from the bounded replay)."""
    got = _run(
        spark,
        left_rows=[
            (1, 100, "2024-01-01 10:00:00"),  # matched by right id 10
            (2, 200, "2024-01-01 10:00:00"),  # unmatched; 10:05 < w=11:45 -> nulls
            (3, 300, "2024-01-01 11:55:00"),  # unmatched; 12:00 > w -> held
        ],
        right_rows=[
            (10, 100, "2024-01-01 10:02:00"),
            (11, 400, "2024-01-01 12:10:00"),  # sets max_r; w=min(11:55,12:10)-10m
        ],
    )
    assert got == [(1, 10), (2, None)]


def test_outer_boundary_window_end_equal_watermark_not_emitted(spark):
    """A left row whose join window ends EXACTLY at the eviction
    watermark is NOT emitted — the rule is strict ``<``.  Here
    w = min(11:55, 12:10) - 10m = 11:45 and row 4's window ends at
    11:40 + 5m = 11:45."""
    got = _run(
        spark,
        left_rows=[
            (2, 200, "2024-01-01 10:00:00"),  # 10:05 <  11:45 -> emitted
            (4, 500, "2024-01-01 11:40:00"),  # 11:45 == 11:45 -> NOT emitted
            (3, 300, "2024-01-01 11:55:00"),  # sets max_l
        ],
        right_rows=[(11, 400, "2024-01-01 12:10:00")],
    )
    assert got == [(2, None)]


def test_inner_mode_unchanged_no_null_rows(spark):
    """how='inner' on the same input emits only the matched pair —
    the outer null path is opt-in."""
    got = _run(
        spark,
        left_rows=[
            (1, 100, "2024-01-01 10:00:00"),
            (2, 200, "2024-01-01 10:00:00"),
        ],
        right_rows=[
            (10, 100, "2024-01-01 10:02:00"),
            (11, 400, "2024-01-01 12:10:00"),
        ],
        how="inner",
    )
    assert got == [(1, 10)]


def test_full_outer_emits_closed_unmatched_on_both_sides(spark):
    """fullOuter = leftOuter's contract on BOTH sides: the matched
    pair emits eagerly; the old unmatched LEFT row null-extends right;
    the old unmatched RIGHT row null-extends left; recent unmatched
    rows on either side are held in state and absent.

    w = min(max_l 11:55, max_r 12:10) - 10m = 11:45."""
    got = _run(
        spark,
        left_rows=[
            (1, 100, "2024-01-01 10:00:00"),  # matched by right id 10
            (2, 200, "2024-01-01 10:00:00"),  # unmatched; 10:05 < w -> (2, None)
            (3, 300, "2024-01-01 11:55:00"),  # unmatched; 12:00 > w -> held
        ],
        right_rows=[
            (10, 100, "2024-01-01 10:02:00"),  # the match
            (12, 600, "2024-01-01 10:30:00"),  # unmatched; 10:35 < w -> (None, 12)
            (11, 400, "2024-01-01 12:10:00"),  # unmatched; sets max_r; held
        ],
        how="fullOuter",
    )
    assert got == [(1, 10), (2, None), (None, 12)]


def test_full_outer_right_boundary_strict(spark):
    """The right side's eviction boundary is STRICT too: a right row
    whose join window ends exactly at w is NOT emitted.  w =
    min(11:55, 12:10) - 10m = 11:45; row 13's window ends 11:40 + 5m
    = 11:45."""
    got = _run(
        spark,
        left_rows=[(3, 300, "2024-01-01 11:55:00")],
        right_rows=[
            (12, 600, "2024-01-01 10:30:00"),  # 10:35 <  11:45 -> emitted
            (13, 700, "2024-01-01 11:40:00"),  # 11:45 == 11:45 -> NOT emitted
            (11, 400, "2024-01-01 12:10:00"),  # sets max_r; held
        ],
        how="fullOuter",
    )
    assert got == [(None, 12)]
