"""SparkSession factory.

The reference's runtime knobs (configurations/config.json: CHUNK_SIZE,
ISTANCES_NUM_REDUCE, WORKER_NUM_MAP ...) map onto Spark conf:
``CHUNK_SIZE`` → ``spark.sql.files.maxPartitionBytes``,
``ISTANCES_NUM_REDUCE`` → ``spark.sql.shuffle.partitions`` (but we let
AQE coalesce at runtime instead of fixing a reducer count up front).
Fault tolerance (reference master/recovery.go, core/utils.go ping
machinery) is delegated to Spark lineage + task retry — no code here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """A quarter of the host's physical memory, capped at 16g: the heap
    grows lazily toward its limit, so a flat 16g lets one long session
    take most of a small host."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(16 * 1024, phys // 4 // 2**20)}m"


def get_spark(
    app_name: str = "mapreduce_faultolerrant_localityaware_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults are written for local[...] testing but nothing here is
    local-only: AQE + skew-join handling are exactly the knobs that
    matter on a 1000-executor cluster, and shuffle_partitions is only
    an initial value — AQE coalesces from real map-output statistics
    (the same statistics the reference computes by hand in
    core/workersUtils.go:53-56 for its locality heuristic).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # reliable-checkpoint files (graph rounds, js_divergence's
        # tokenize cache) are deleted by the ContextCleaner when their
        # RDD is GC'd — default false LEAKS one vocabulary-scale file
        # set per query into the checkpoint dir for the session's life
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # events.parquet is TIMESTAMP(NANOS) in some testdata
        # generations; read nanos as long once, globally, instead of
        # mutating session conf inside scan().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # surface parquet TIMESTAMP(isAdjustedToUTC=false) as session-
        # zone TIMESTAMP (zone pinned UTC above) instead of NTZ: the
        # engine's temporal semantics are instant-based, and reading
        # the type the queries use DIRECTLY from the scan removes the
        # cast projection scan() would otherwise interpose — which
        # blocked parquet filter pushdown on ts for every events query
        # (round-5 bench: sessionize 0.17s -> 0.42s).  Identical
        # values under UTC; foreign sessions without this conf fall
        # back to scan()'s schema-driven cast.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
