"""Lineage cuts: the one place the engine decides how a frame's state is
persisted so later jobs read it instead of re-deriving it.

Three uses share it:

* **Multi-consumer frames.**  AQE does NOT reuse a shared aggregate
  stage across plan branches — a frame consumed by k sibling branches
  (a scalar min/max attach, a cell totals aggregate, a join-back)
  compiles into k copies of its subtree, and the base table is SCANNED
  k times per execution (``tests/ledger_sf0.001.json`` pins every
  query's scans).  :func:`materialize_once` checkpoints such a frame
  so it computes EXACTLY ONCE and every consumer reads its blocks.
* **Per-round barriers of iterative loops** (graph label propagation,
  PageRank, BPE merges): the same eager checkpoint resets the plan each
  round so it cannot grow without bound; :func:`release_checkpoint`
  frees a superseded round's blocks.
* **The driver-crash journal** (:class:`Rounds` with a ``journal_dir``):
  each round is written as parquet under ``journal_dir`` and committed
  by Spark's ``_SUCCESS`` marker, so a FRESH session resumes from the
  last committed round — the counterpart of the reference's master
  recovery (master/recovery.go:222-273, where a replica replays the
  dead master's persisted phase state).  Checkpoints die with the
  SparkContext that wrote them; the journal does not.

Eager, not lazy, by default (interleaved A/B at sf0.1): a lazy
checkpoint only MARKS the RDD, and AQE submits independent downstream
query stages CONCURRENTLY — two consumers racing before any block
exists each compute the full lineage.  On the rank family the eager
form is 20–25 % faster end to end (roc_auc 1.88→1.47 s, kruskal_wallis
1.78→1.31 s, lift_table 3.02→2.24 s warm) at identical semantics.
``eager=False`` is for a frame whose first consumer is a single driver
action (js_divergence's rollup collect), which writes the blocks
without a race.  Builders that time ``query_fn(spark, sf)`` still
charge all the work to the query; the plan tool (dump_named_plans)
executes these small subtrees at the test SF.

Reliable checkpoint when the session has a checkpoint dir (blocks are
files on shared storage and survive executor death), localCheckpoint
otherwise; blocks and reliable files age out via the ContextCleaner
(``spark.cleaner.referenceTracking.cleanCheckpoints`` in session.py).

Use it ONLY on bounded or collapsed frames (domain tables, per-entity
aggregates, codebooks, per-round graph state) — never on raw
document/text frames, where the materialization itself would be the
PB-scale cost (the dedup.py lesson).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def materialize_once(df: DataFrame, eager: bool = True) -> DataFrame:
    """Return ``df`` backed by a checkpointed RDD: computed exactly once
    across ALL consumers, with lineage severed."""
    try:
        reliable = (
            df.sparkSession.sparkContext._jsc.sc().getCheckpointDir().isDefined()
        )
    except Exception:  # noqa: BLE001
        reliable = False
    return df.checkpoint(eager=eager) if reliable else df.localCheckpoint(eager=eager)


def release_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint``'s storage blocks deterministically.

    Call it only once NO future job can read them (the next round's
    checkpoint has already materialized); without this, every round's
    blocks linger until the ContextCleaner notices.
    ``DataFrame.unpersist`` only talks to the SQL cache manager, so
    reach the checkpointed internal RDD through the plan's LogicalRDD
    node.  Best-effort, and a no-op on any other frame (a journal
    read-back included): on a reflection mismatch the blocks simply
    age out via GC.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


class Rounds:
    """Where an iterative loop keeps its state between rounds.

    Without ``journal_dir`` every cut is an eager checkpoint in this
    session, and each new cut releases the previous one.  With it,
    every cut is a parquet directory ``{journal_dir}/{name}_rNNNN``
    (plus ``once`` frames such as ``edges``), each committed by
    ``_SUCCESS``: a kill mid-write leaves no marker, so a resumed run
    deterministically redoes that round from the previous committed
    one.  ``journal_dir`` may be any Hadoop filesystem URI (s3a://,
    hdfs://, viewfs://); commit checks go through the Hadoop FS API.
    """

    def __init__(self, spark, name: str, journal_dir: str | None = None):
        self.spark = spark
        self.name = name
        self.journal_dir = journal_dir
        self._prev: DataFrame | None = None

    def _path(self, leaf: str) -> str:
        return os.path.join(self.journal_dir, leaf)

    def _round_path(self, i: int) -> str:
        return self._path(f"{self.name}_r{i:04d}")

    def _committed(self, path: str) -> bool:
        jvm = self.spark.sparkContext._jvm
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
        return p.getFileSystem(hconf).exists(p)

    def _write(self, path: str, df: DataFrame) -> DataFrame:
        df.write.mode("overwrite").parquet(path)
        # read back the committed files: they ARE the lineage cut, and
        # a crash after this point resumes from exactly these files
        return self.spark.read.parquet(path)

    def once(self, leaf: str, df: DataFrame) -> DataFrame:
        """``df`` cut once for the whole loop (journaled as ``leaf``)."""
        if self.journal_dir is None:
            return materialize_once(df)
        path = self._path(leaf)
        if self._committed(path):
            return self.spark.read.parquet(path)
        return self._write(path, df)

    def resume(self, limit: int, init: DataFrame) -> tuple[int, DataFrame]:
        """``(round, state)`` to continue from: the last committed round
        ``<= limit``, else round 0 = ``init`` (journaled, or left lazy
        in memory)."""
        if self.journal_dir is None:
            return 0, init
        last = None
        for i in range(limit + 1):
            if not self._committed(self._round_path(i)):
                break
            last = i
        if last is None:
            return 0, self._write(self._round_path(0), init)
        return last, self.spark.read.parquet(self._round_path(last))

    def cut(self, i: int, df: DataFrame) -> DataFrame:
        """Persist round ``i``'s state and return it lineage-free."""
        if self.journal_dir is not None:
            return self._write(self._round_path(i), df)
        df = materialize_once(df)
        if self._prev is not None:
            release_checkpoint(self._prev)  # new round materialized; old blocks dead
        self._prev = df
        return df
