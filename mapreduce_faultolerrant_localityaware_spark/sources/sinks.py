"""Sinks.

Reference parity: the reference serializes final tokens as ``K->V``
lines joined by CRLF to ``outTokens.list``
(core/utils.go:710-731 SerializeToFile, core/map_reduce.go:17), after
an optional master-side collect (core/map_reduce.go:619-635).  At
100 TB a driver collect is forbidden — the distributed text write is
the default; ``format_tokens`` exists for small/test outputs only.

Parquet, CSV, JSON and ORC outputs are Spark's own
``df.write.mode("overwrite")`` calls.  This module holds the
reference's ``K->V`` format and the layout writers (range-clustered,
bucketed, Z-order) with their file statistics and compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_tokens(df: DataFrame, path: str, key: str = "word", value: str = "count") -> None:
    """Distributed write of ``K->V`` lines (reference sink format, SURVEY Q5).

    One part-file per partition — no driver materialization.
    """
    out = df.select(F.concat_ws("->", F.col(key).cast("string"), F.col(value).cast("string")).alias("value"))
    out.write.mode("overwrite").text(path)


def format_tokens(rows, sep: str = "\r\n") -> str:
    """Driver-side serialization of collected (key, value) rows to the
    reference's exact on-disk format: ``K->V`` joined by CRLF
    (core/utils.go:720).  Test/small-output use only.
    """
    return sep.join(f"{k}->{v}" for k, v in rows)


def write_clustered(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int | None = None
) -> None:
    """Range-clustered parquet layout: ``repartitionByRange`` assigns
    each output file a narrow, (near-)disjoint band of ``cluster_cols``
    and ``sortWithinPartitions`` orders rows inside it, so parquet
    file- and row-group statistics prune range predicates down to a
    handful of files — the sort-based layout optimization a 100 TB
    date/key-clustered lake relies on (what Delta's OPTIMIZE ZORDER
    approximates for the multi-column case).  One shuffle at write
    time buys every later range scan its pruning.
    """
    cols = [F.col(c) for c in cluster_cols]
    part = df.repartitionByRange(n_files, *cols) if n_files else df.repartitionByRange(*cols)
    part.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def write_bucketed(
    df: DataFrame, table: str, path: str, bucket_col: str, n_buckets: int = 8
) -> None:
    """Bucketed + sorted external table: pre-shuffles ONCE at write time
    so every later equi-join/agg on ``bucket_col`` skips its exchange
    (see tests/test_scale_layout.py::test_bucketed_join_no_shuffle).
    The 100 TB pattern for a fact table joined repeatedly on one key.
    """
    (
        df.write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def zvalue(x, y, bits: int = 16):
    """Morton (Z-order) interleave of the low ``bits`` bits of two
    non-negative integer columns: bit i of x lands at position 2i, bit
    i of y at 2i+1.  A pure shift/mask/add expression tree — codegen'd
    JVM-side, and generated identically as SQL for the DuckDB oracle
    (tools emit the same formula), so layouts are hash-verifiable.
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xc.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(yc.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zvalue_sql(x: str, y: str, bits: int = 16) -> str:
    """The exact SQL rendering of :func:`zvalue` for the DuckDB oracle."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def write_zorder(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Z-order-clustered parquet layout (what Delta/Iceberg's
    OPTIMIZE ZORDER materializes): range-partition and in-file sort by
    the Morton interleave of TWO columns, so file-level min/max
    statistics prune predicates on EITHER column — the property a
    single-column range clustering (write_clustered) fundamentally
    lacks (its secondary column spans the full domain in every file).

    At 100 TB this is the layout choice for a fact table filtered by
    two independent dimensions (e.g. part and supplier): one shuffle
    at write time halves the bits of each dimension per file, giving
    every later scan ~sqrt(selectivity) file pruning on each axis.
    The ``zval`` column is materialized so readers (and the oracle)
    can verify the interleave and range-prune on it directly.
    """
    out = df.withColumn("zval", zvalue(col_x, col_y, bits))
    part = (
        out.repartitionByRange(n_files, "zval")
        if n_files
        else out.repartitionByRange("zval")
    )
    part.sortWithinPartitions("zval").write.mode("overwrite").parquet(path)


def rank_buckets(df: DataFrame, col: str, bits: int = 8) -> list[float]:
    """Equi-depth bucket cut points for ``col`` (2**bits buckets) via
    approxQuantile — driver-sized model state (like a k-means fit),
    computed in one pass with bounded error.  Used to rank-normalize a
    skewed column before Morton interleaving: Z-order only balances
    file pruning across axes when both domains have comparable bit
    occupancy, which raw skewed values (ids, prices, timestamps with
    hotspots) do not."""
    n = (1 << bits) - 1
    probs = [i / (n + 1) for i in range(1, n + 1)]
    return df.stat.approxQuantile(col, probs, 0.001)


def bucketize(col, cuts: list[float]):
    """Map a value to its equi-depth bucket index: the count of cut
    points <= value — one codegen'd pass over a literal array, no join
    and no per-row Python."""
    c = F.col(col) if isinstance(col, str) else col
    arr = F.array(*[F.lit(float(x)) for x in cuts])
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, cut: acc + F.when(c >= cut, 1).otherwise(0),
    )


def write_zorder_ranked(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    bits: int = 8,
    n_files: int | None = None,
) -> None:
    """Z-order layout for SKEWED domains: equi-depth rank-bucketize
    each dimension to ``bits`` bits first (so every bucket holds
    ~equal rows regardless of the value distribution), then Morton-
    interleave the bucket indices and cluster as in write_zorder.
    This is what "OPTIMIZE ZORDER BY (a, b)" does internally on
    real lakehouse engines — raw-value interleaving (write_zorder)
    only balances pruning when both domains are already uniform."""
    cuts_x = rank_buckets(df, col_x, bits)
    cuts_y = rank_buckets(df, col_y, bits)
    out = df.withColumn(
        "zval",
        zvalue(bucketize(col_x, cuts_x), bucketize(col_y, cuts_y), bits),
    )
    part = (
        out.repartitionByRange(n_files, "zval")
        if n_files
        else out.repartitionByRange("zval")
    )
    part.sortWithinPartitions("zval").write.mode("overwrite").parquet(path)


def table_stats(spark, path: str, stat_cols: list[str] | None = None) -> DataFrame:
    """Per-file layout statistics of a parquet directory — row count
    plus min/max per requested column — the manifest a table-format
    (Delta/Iceberg) maintains, derived here straight from the data:
    the operational input to compaction decisions (file-count/size
    skew) and to verifying that a clustered layout actually produces
    prunable min/max bands.  One scan, one groupBy(file): the file
    name is a split-local constant so the partial aggregation
    collapses each file to one row before the exchange."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols or []:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        df.withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(*aggs)
    )


def compact_files(
    spark,
    path: str,
    out_path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction — the OPTIMIZE half of lakehouse table
    maintenance: a streaming ingest (or an over-partitioned shuffle
    write) leaves thousands of KB-sized files whose open/footer cost
    dominates every later scan; compaction rewrites them into
    ~``target_rows_per_file`` files.  Row-preserving by construction
    (a pure repartition+rewrite, no dedup, no ordering claim), and
    the row-count based sizing needs only ONE metadata-cheap count.
    Returns the number of output files written."""
    import math

    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    written = spark.read.parquet(out_path)
    return written.select(F.input_file_name()).distinct().count()
