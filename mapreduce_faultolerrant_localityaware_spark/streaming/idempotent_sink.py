"""Exactly-once idempotent ``foreachBatch`` sink — the streaming
analog of the reference's retry dedup guards (reducer per-chunk guard
``core/map_reduce.go:167-182``: a re-sent map result for an
already-accumulated chunk is dropped; master per-reducer dedup
``core/map_reduce.go:621-626``: only the first copy of each reducer's
final result is accepted).

Structured Streaming's ``foreachBatch`` contract is at-least-once: a
micro-batch whose sink ran but whose checkpoint offset commit did not
land (crash in between) is RE-EXECUTED after restart with the SAME
``batchId`` over the SAME input (deterministic sources).  The
``batchId`` is therefore the transaction id, and exactly-once is a
sink-side dedup on it — precisely the reference's guard, re-keyed from
(chunkId, reducerId) to batchId.

Protocol (per micro-batch):
  1. if ``<out>/_commits/<batchId>`` exists → replayed transaction,
     SKIP (the dedup guard; data is already fully committed).
  2. write the batch to ``<out>/data/batch=<batchId>/`` with
     ``mode=overwrite`` — a crash mid-write leaves garbage that step 2
     of the replay overwrites, never duplicates.
  3. atomically create the commit marker (write-temp + ``os.rename``,
     atomic on POSIX within a filesystem).

Readers see only committed transactions: :func:`read_committed` lists
the markers and reads exactly those batch directories, so a
crash-between-2-and-3 leaves an invisible torn write, and a
crash-after-3 is deduped by step 1 on replay.  Both crash points
yield exactly-once output.

On a real cluster the same protocol runs against an object store with
conditional PUT for the marker; the driver-local ``os.rename`` is the
single-filesystem stand-in (the reference's S3 state writes have the
same last-writer-wins posture, ``aws_SDK_wrap/s3Wrap.go:72-111``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class IdempotentBatchSink:
    """``foreachBatch`` callable with (batchId → txn) dedup.

    ``attempts`` records every invocation (batch_id, skipped) — tests
    assert from it that a replay actually happened and was deduped.
    """

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.attempts: list[tuple[int, bool]] = []
        os.makedirs(os.path.join(out_dir, "_commits"), exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.out_dir, "_commits", str(batch_id))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(self._marker(batch_id)):
            # replayed transaction: already fully committed — the dedup
            # guard that makes at-least-once delivery exactly-once.
            # The batch must still be fully CONSUMED (a stateful query's
            # state-store partitions only commit when every partition is
            # processed; Spark 4 validates exactly that), so drain it to
            # the no-op sink: process, don't re-apply.
            batch_df.write.format("noop").mode("overwrite").save()
            self.attempts.append((batch_id, True))
            return
        data_dir = os.path.join(self.out_dir, "data", f"batch={batch_id}")
        # overwrite: a torn write from a previous crashed attempt of
        # this batch is replaced wholesale, never appended to.
        batch_df.withColumn("_batch_id", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(data_dir)
        tmp = self._marker(batch_id) + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("committed\n")
        os.rename(tmp, self._marker(batch_id))  # atomic commit point
        self.attempts.append((batch_id, False))


def committed_batch_ids(out_dir: str) -> list[int]:
    commits = os.path.join(out_dir, "_commits")
    if not os.path.isdir(commits):
        return []
    return sorted(int(n) for n in os.listdir(commits) if not n.endswith(".tmp"))


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of exactly the COMMITTED transactions (uncommitted batch
    dirs — torn writes — are invisible)."""
    ids = committed_batch_ids(out_dir)
    if not ids:
        raise ValueError(f"no committed batches under {out_dir}")
    paths = [os.path.join(out_dir, "data", f"batch={i}") for i in ids]
    return spark.read.parquet(*paths)


def read_latest_per_key(
    spark: SparkSession, out_dir: str, key_cols: list[str]
) -> DataFrame:
    """Upsert-reader view over the committed transactions: for each
    key, the row from the HIGHEST committed batch wins — the
    materialized state of an update-mode aggregation whose sink
    appends per-batch deltas."""
    from pyspark.sql import Window

    df = read_committed(spark, out_dir)
    w = Window.partitionBy(*key_cols).orderBy(F.desc("_batch_id"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_batch_id")
    )


class CrashAfterCommit:
    """Test/chaos wrapper: delegate to ``inner``, then raise ONCE right
    after ``crash_batch_id`` commits — the crash point that forces
    Structured Streaming to re-execute an already-committed transaction
    on restart (sink ran, offset commit didn't)."""

    def __init__(self, inner, crash_batch_id: int):
        self.inner = inner
        self.crash_batch_id = crash_batch_id
        self.crashed = False

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.inner(batch_df, batch_id)
        if batch_id == self.crash_batch_id and not self.crashed:
            self.crashed = True
            raise RuntimeError(
                f"injected crash after commit of batch {batch_id} "
                "(before checkpoint offset commit)"
            )


def run_idempotent_replay(
    spark: SparkSession,
    in_dir: str,
    schema,
    out_dir: str,
    build_query,
    output_mode: str = "update",
) -> IdempotentBatchSink:
    """Drive ``build_query(stream_df)`` over the pinned multi-file input
    (one file per micro-batch), through the idempotent sink, with an
    injected crash-after-commit at batch 1 and a restart from
    the same checkpoint — the deterministic replay harness.

    Returns the sink; its ``attempts`` log shows the replayed batch
    arriving twice with the second attempt deduped.
    """
    ckpt = os.path.join(out_dir, "_ckpt")
    sink = IdempotentBatchSink(out_dir)
    fb = CrashAfterCommit(sink, 1)

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        return (
            build_query(stream)
            .writeStream.foreachBatch(fb)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    try:
        q.awaitTermination()
    except Exception:
        # the injected crash: offsets for batch 1 never
        # committed, so the restart below REPLAYS that transaction.
        q = start()
        q.awaitTermination()
    return sink
