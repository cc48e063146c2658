"""Sinks.

Reference parity: the reference serializes final tokens as ``K->V``
lines joined by CRLF to ``outTokens.list``
(core/utils.go:710-731 SerializeToFile, core/map_reduce.go:17), after
an optional master-side collect (core/map_reduce.go:619-635).  At
100 TB a driver collect is forbidden — the distributed text write is
the default; ``format_tokens`` exists for small/test outputs only.

Parquet, CSV, JSON and ORC outputs are Spark's own
``df.write.mode("overwrite")`` calls, and a bucketed table is
``df.write.bucketBy(...).saveAsTable(...)``.  This module holds the
reference's ``K->V`` format and the range-clustered and Z-order layout
writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_tokens(df: DataFrame, path: str) -> None:
    """Distributed write of ``K->V`` lines (reference sink format, SURVEY Q5).

    One part-file per partition — no driver materialization.
    """
    out = df.select(
        F.concat_ws("->", F.col("word").cast("string"), F.col("count").cast("string")).alias("value")
    )
    out.write.mode("overwrite").text(path)


def format_tokens(rows) -> str:
    """Driver-side serialization of collected (key, value) rows to the
    reference's exact on-disk format: ``K->V`` joined by CRLF
    (core/utils.go:720).  Test/small-output use only.
    """
    return "\r\n".join(f"{k}->{v}" for k, v in rows)


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


def zvalue_sql(x: str, y: str) -> str:
    """The exact SQL rendering of :func:`zvalue` for the DuckDB oracle."""
    terms = []
    for i in range(16):
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
