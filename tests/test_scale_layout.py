"""Scale-layout evidence tests — the physical-layout techniques that
matter at 100 TB, demonstrated end-to-end on local copies of the test
tables (written under /tmp; the read-only testdata is untouched):

- partition pruning: a date-partitioned layout + a date filter must
  produce a plan whose scan lists only matching partitions
- bucketed co-located join: two tables bucketed on the join key must
  join with NO shuffle exchange
- RDD two-level-combine parity: the reference's explicit combiner
  pipeline (SURVEY O5/O8/O10) equals the DataFrame plan's output
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators.wordcount import (
    wordcount_from_text,
    wordcount_rdd,
)
from mapreduce_faultolerrant_localityaware_spark.plans import formatted_plan
from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="scale_layout_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_partition_pruning(spark, sf_dir, tmpdir):
    orders = scan(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = f"{tmpdir}/orders_by_year"
    orders.write.partitionBy("o_year").parquet(path)

    q = spark.read.parquet(path).filter(F.col("o_year") == 1997).select("o_orderkey")
    plan = formatted_plan(q)
    assert "PartitionFilters" in plan and "o_year" in plan
    # count matches the unpartitioned filter — pruning is transparent
    want = orders.filter(F.col("o_year") == 1997).count()
    assert q.count() == want


def test_bucketed_join_no_shuffle(spark, sf_dir, tmpdir):
    orders = scan(spark, sf_dir, "orders")
    lineitem = scan(spark, sf_dir, "lineitem")
    # external tables: bucketed layout at an explicit path (warehouse dir is static config)
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
        "path", f"{tmpdir}/orders_b"
    ).mode("overwrite").saveAsTable("orders_b")
    lineitem.withColumnRenamed("l_orderkey", "o_orderkey").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).option("path", f"{tmpdir}/lineitem_b").mode("overwrite").saveAsTable("lineitem_b")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        j = spark.table("lineitem_b").join(spark.table("orders_b"), "o_orderkey")
        plan = formatted_plan(j)
        # bucketed layout co-locates both sides: sort-merge join with no
        # shuffle exchange anywhere in the plan
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_rdd_combiner_parity(spark, sf_dir):
    docs = scan(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    df_counts = {(r["word"], r["count"]) for r in wordcount_from_text(docs, sort=False).collect()}
    rdd_counts = {(r["word"], r["count"]) for r in wordcount_rdd(docs).collect()}
    assert df_counts == rdd_counts


def test_repartition_by_range_layout(spark, sf_dir, tmpdir):
    """Range-partitioned, sorted-within-partition write — the layout
    for time-ordered 100 TB tables: downstream range scans prune files,
    and within-file ordering gives parquet min/max page skipping."""
    ev = scan(spark, sf_dir, "events")
    out = ev.repartitionByRange(8, F.col("ts")).sortWithinPartitions("ts")
    path = f"{tmpdir}/events_ranged"
    out.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    # each output file covers a disjoint ts range (ranges don't overlap)
    import pyspark.sql.functions as SF

    stats = (
        back.withColumn("f", SF.input_file_name())
        .groupBy("f")
        .agg(SF.min("ts").alias("lo"), SF.max("ts").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in stats)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next


def test_token_roundtrip(spark, tmpdir):
    from mapreduce_faultolerrant_localityaware_spark.sources import scan_tokens, write_tokens

    df = spark.createDataFrame([("the", 10), ("è", 3)], ["word", "count"])
    path = f"{tmpdir}/tokens"
    write_tokens(df, path)
    back = {(r["word"], r["count"]) for r in scan_tokens(spark, path).collect()}
    assert back == {("the", 10), ("è", 3)}


def test_write_clustered_disjoint_file_bands(spark, sf_dir, tmpdir):
    """write_clustered produces (near-)disjoint per-file value bands on
    the cluster column — the property min/max statistics pruning needs —
    while preserving every row."""
    from mapreduce_faultolerrant_localityaware_spark.sources import sinks
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    orders = scan(spark, sf_dir, "orders")
    path = f"{tmpdir}/clustered_orders"
    sinks.write_clustered(orders, path, ["o_orderdate"], n_files=6)
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    stats = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
        .collect()
    )
    assert len(stats) > 1, "clustering produced a single file; widen n_files"
    spans = sorted((r["lo"], r["hi"]) for r in stats)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next


def test_zorder_prunes_both_axes(spark, tmpdir):
    """Z-order layout gives PARTIAL file pruning on EACH of the two
    interleaved columns — the property single-column range clustering
    lacks (its secondary column spans the full domain in every file).
    Uniform 0..255 domains (equal bit widths, the layout's sweet spot:
    skewed-width domains should be rank-bucketed first)."""
    from mapreduce_faultolerrant_localityaware_spark.sources import sinks

    rows = [(x, y) for x in range(0, 256, 4) for y in range(0, 256, 4)]
    df = spark.createDataFrame(rows, ["x", "y"])
    path = f"{tmpdir}/zorder_xy"
    sinks.write_zorder(df, path, "x", "y", bits=8, n_files=16)
    back = spark.read.parquet(path)
    assert back.count() == len(rows)
    # zval must equal the reference interleave recomputed on read-back
    recheck = back.withColumn("z2", sinks.zvalue("x", "y", bits=8))
    assert recheck.filter(F.col("zval") != F.col("z2")).count() == 0
    stats = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"))
        .collect()
    )
    n_files = len(stats)
    assert n_files >= 8, "z-order write produced too few files for the claim"
    # a 0..63 box on each axis must be prunable to a strict subset of
    # files by min/max stats alone
    x_hit = sum(1 for r in stats if r["min(x)"] <= 63 and r["max(x)"] >= 0)
    y_hit = sum(1 for r in stats if r["min(y)"] <= 63 and r["max(y)"] >= 0)
    assert x_hit < n_files
    assert y_hit < n_files


def test_runtime_bloom_filter_join(spark, sf_dir):
    """The session keeps Spark's runtime bloom-filter join pruning ON
    (default since 3.5): a selective dimension side injects a bloom
    filter into the fact-side scan of a SHUFFLE join, so fact rows
    that cannot match die before the exchange — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling
    the ~matching fraction.  Local data sits under the application-
    side size threshold (the optimization targets big scans), so the
    test drops that threshold to materialize the plan shape the
    cluster would produce."""
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        li = scan(spark, sf_dir, "lineitem")
        supp = scan(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
        j = li.join(supp, li.l_suppkey == supp.s_suppkey).groupBy("s_name").count()
        optimized = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloomfilter" in optimized or "might_contain" in optimized
        rows = j.collect()
        phys = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "might_contain" in phys
        # the filter is pruning-only: results equal the plain join
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "10GB",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        plain = li.join(supp, li.l_suppkey == supp.s_suppkey).groupBy("s_name").count()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "10GB",
        )
