"""Adaptive parallelism floor for compute-heavy operators.

Per-row-expensive pipelines (shingling, k× md5 minhashing, bit-vote
simhash) are CPU-bound in the scan stage.  If the source arrives in
fewer partitions than the cluster has cores — a single small parquet
file locally, or one giant unsplittable blob at cluster scale — the
whole pipeline serializes.  ``ensure_parallelism`` round-robin
repartitions ONLY in that case: on a healthy 100 TB input (hundreds of
thousands of splits) it is a no-op, so it never introduces a shuffle
where the data is already spread.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    if df.isStreaming:
        # streams take their parallelism from the source's file/offset
        # batching (and .rdd is illegal on a streaming relation);
        # stateless operators built on this helper stay stream-capable
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
