"""Bounded streaming runs materialized as batch DataFrames — the
bridge that puts streaming operators under the SAME correctness gate
as batch queries (streaming result == batch/oracle query on the same
input).

Pattern: a parquet file-source stream + ``trigger(availableNow=True)``
processes the whole (deterministic) input as micro-batches and stops;
``foreachBatch`` overwrites a scratch parquet with the cumulative
result each batch (complete mode), so after ``awaitTermination`` the
scratch dir holds exactly the final state — which a batch engine (or
DuckDB oracle) must reproduce.  This is the standard backfill/replay
harness: the production pipeline is the same code with an unbounded
source and a real sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Streaming file-source view of a synthetic table (schema from a
    one-time static footer read; file sources require explicit schema).
    ``events.ts`` is normalized exactly as in sources.scans.scan."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    from ..sources.scans import _normalize_events_ts, ensure_nanos_readable

    ensure_nanos_readable(spark, path)
    schema = spark.read.parquet(path).schema
    # file source requires a directory basePath; a glob that matches
    # exactly this file keeps basePath at sf_dir (works unchanged when
    # the "file" is a directory-tree of part files on a real cluster).
    stream = spark.readStream.schema(schema).parquet(path + "*")
    if table == "events":
        return _normalize_events_ts(stream)
    return stream


def run_to_batch(
    stream_df: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming DataFrame to end-of-input (availableNow) and
    return the final result as a batch DataFrame.

    ``complete`` mode: every micro-batch rewrites the full-to-date
    result; the last rewrite is the final answer.  State stays bounded
    by the operator's own watermarks; the scratch parquet is the only
    materialization (never a driver collect).
    """
    from .._scratch import scratch_dir

    tmp = scratch_dir("stream")
    out = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    # Seed the sink with an empty, schema-bearing write so a stream
    # that yields ZERO micro-batches (empty bounded input) still leaves
    # a readable result instead of crashing the final read.
    empty = spark.createDataFrame([], stream_df.schema)

    if output_mode == "complete":
        # complete mode: each batch REWRITES the full-to-date result;
        # a micro-batch retry re-overwrites the same path — idempotent
        # by construction.
        empty.write.mode("overwrite").parquet(out)

        def _sink(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(out)

        read_path = out
    else:
        # append mode: each batch contributes only new rows.  A plain
        # mode("append") write is NOT retry-safe (a re-run micro-batch
        # would double-append), so each batch overwrites its own
        # batch-id-keyed subdirectory — Structured Streaming replays
        # with the same batch id, making the write idempotent.
        empty.write.mode("overwrite").parquet(os.path.join(out, "batch-seed"))

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(os.path.join(out, f"batch-{batch_id}"))

        read_path = os.path.join(out, "batch-*")

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(read_path)
