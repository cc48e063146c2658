"""Chained stateful streaming (Spark 4 multi-stateful support,
SPARK-40925): stream-stream interval join feeding a tumbling window
aggregation in ONE streaming query — and the emission rule the
streaming_join_agg oracle encodes, pinned on a controlled input.

With both sides watermarked by ``delay`` and join tolerance ``tol``,
the input-side eviction watermark after the single data batch is
``w_in = min(max_l, max_r) − delay``; the JOIN's OUTPUT watermark is
delayed a further ``tol`` (a buffered left row can still match a right
row up to ``tol`` newer, so downstream must not consider event times
beyond ``w_in − tol`` final).  A tumbling window on the join output is
therefore EMITTED (append mode) iff

    window_end  <  w_in − tol        (STRICT — the == boundary is
                                      held in state, not emitted)

Both sides of the boundary are pinned below: with w_in − tol = 12:45,
the 1-minute window ending 12:44 emits and the one ending 12:45 does
not.
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
    df = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, ts STRING"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = os.path.join(root, sub)
    df.coalesce(1).write.mode("overwrite").parquet(d + "_tmp")
    (part,) = glob.glob(d + "_tmp/part-*.parquet")
    os.makedirs(d)
    shutil.move(part, os.path.join(d, "00.parquet"))
    return d


def test_join_then_window_agg_boundary_strict(spark):
    """w_in = min(13:00, 13:00) − 10m = 12:50; w_agg = 12:50 − 5m
    = 12:45.  1-minute windows: end 12:44 emits, end 12:45 (==) does
    not, end 12:50 (>) does not."""
    root = scratch_dir("chained-pin")
    pts = [
        (1, 100, "2024-01-01 12:43:30"),  # window end 12:44  -> emitted
        (2, 200, "2024-01-01 12:44:10"),  # window end 12:45  -> held (==)
        (3, 300, "2024-01-01 12:46:30"),  # window end 12:47  -> held (>)
        (9, 900, "2024-01-01 13:00:00"),  # sets both maxima
    ]
    ldir = _stage(spark, root, "left", pts)
    rdir = _stage(spark, root, "right", [(i + 10, u, t) for (i, u, t) in pts])
    schema = spark.read.parquet(ldir).schema
    ls = spark.readStream.schema(schema).parquet(ldir)
    rs = spark.readStream.schema(schema).parquet(rdir)
    j = interval_join_streams(
        ls, rs, how="inner",
    )
    agg = (
        j.select(F.col("l.ts").alias("cts"))
        .groupBy(F.window("cts", "1 minute").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.date_format("win.end", "HH:mm").alias("we"), "n_pairs")
    )
    res = run_to_batch(agg, spark, output_mode="append")
    got = sorted((r["we"], r["n_pairs"]) for r in res.collect())
    assert got == [("12:44", 1)]
