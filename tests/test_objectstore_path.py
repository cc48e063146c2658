"""Non-local Hadoop-FS scheme I/O — closing the round-5 gap: "the
reference's entire storage plane is S3 (aws_SDK_wrap/s3Wrap.go:72-111,
chunk upload core/initDistribuitedVersion.go:93-124); the engine
documents s3a:// as the replacement but every test reads file://".

No cloud or S3A jars exist in this container, so the test drives the
SAME code path an s3a:// URI takes — Spark hands the URI to the Hadoop
FileSystem registry, which resolves the scheme to an implementation —
through ``viewfs://``, Hadoop's mount-table filesystem (in the stock
hadoop-client jars).  Every engine read/write below crosses a
non-``file:`` scheme with an authority, mount resolution, and the
FS-registry dispatch that s3a:// uses; only the leaf implementation
differs.  Swapping the URI for a real bucket is a config change, not a
code change — which is exactly the property being proven.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators.wordcount import wordcount_from_text
from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan


def _mount(spark, tmp: str, name: str) -> str:
    """Register a viewfs:// mount table pointing at tmp; return root.

    ``name`` must be unique per test: Hadoop caches FileSystem
    instances by (scheme, authority), so reusing an authority would
    resolve against the FIRST test's (deleted) mount target.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set(f"fs.viewfs.mounttable.{name}.link./warehouse", f"file://{tmp}")
    return f"viewfs://{name}/warehouse"


def test_engine_sinks_and_scans_over_nonlocal_scheme(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="sparkgraft_viewfs_")
    try:
        root = _mount(spark, tmp, "objstorea")
        nation = scan(spark, sf_dir, "nation")

        # plain parquet round-trip
        nation.write.mode("overwrite").parquet(f"{root}/nation")
        back = spark.read.parquet(f"{root}/nation")
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))

        # hive-partitioned layout (the 100 TB lake primitive) on the
        # non-local scheme: partition pruning must still see the dirs
        orders = scan(spark, sf_dir, "orders")
        orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(f"{root}/orders")
        urgent = (
            spark.read.parquet(f"{root}/orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .count()
        )
        assert urgent == orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
        # the partition value became a directory on the mounted store
        assert any(
            d.startswith("o_orderpriority=") for d in os.listdir(os.path.join(tmp, "orders"))
        )

        # an engine QUERY over data scanned from the non-local scheme
        # equals the same query over the original file:// table
        docs = scan(spark, sf_dir, "documents")
        docs.write.mode("overwrite").parquet(f"{root}/documents")
        wc_obj = wordcount_from_text(spark.read.parquet(f"{root}/documents"), "text", sort=False)
        wc_loc = wordcount_from_text(docs, "text", sort=False)
        assert sorted(map(tuple, wc_obj.collect())) == sorted(map(tuple, wc_loc.collect()))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resumable_journal_over_nonlocal_scheme(spark):
    """The driver-recovery journal declares itself portable to shared
    storage (s3a/hdfs) because it uses the Hadoop FS API for commit
    checks — prove it by journaling through viewfs://."""
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import (
        connected_components,
    )

    tmp = tempfile.mkdtemp(prefix="sparkgraft_viewfs_journal_")
    try:
        root = _mount(spark, tmp, "objstoreb")
        edges = (
            spark.range(64)
            .filter("id % 8 != 7")
            .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
        )
        labels = connected_components(edges, journal_dir=f"{root}/journal").collect()
        assert len(labels) == 64
        assert all(r["cluster_id"] == r["doc_id"] - r["doc_id"] % 8 for r in labels)
        # journal rounds really landed behind the mount
        assert any(d.startswith("labels_r") for d in os.listdir(os.path.join(tmp, "journal")))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# mocks3://: a SECOND non-local scheme with a credentials contract.
#
# The viewfs:// tests above prove FS-registry dispatch; they cannot prove
# the part of the s3a:// contract a real user hits FIRST — per-scheme
# credentials configuration resolved at FileSystem.initialize().  This
# suite compiles the committed MockS3FileSystem (sources/java/...), an
# object-store stand-in whose initialize() REQUIRES
# fs.mocks3.access.key/fs.mocks3.secret.key (mirroring
# fs.s3a.access.key/fs.s3a.secret.key) and maps mocks3://bucket/key onto
# a local backing root — then drives the engine's sink, scan, partition
# discovery and resumable journal through it in a subprocess Spark
# session (the class must be on the driver classpath before JVM launch).
# ---------------------------------------------------------------------------

import subprocess
import sys
import textwrap


def _compile_mocks3(tmp: str) -> str:
    import pyspark

    jars = glob_mod.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    assert jars, "hadoop-client-api jar not found in pyspark distribution"
    src = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "mapreduce_faultolerrant_localityaware_spark",
        "sources",
        "java",
        "sparkgraft",
        "fs",
        "MockS3FileSystem.java",
    )
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes, exist_ok=True)
    subprocess.run(
        ["javac", "-encoding", "UTF-8", "-cp", jars[0], "-d", classes, src],
        check=True,
        capture_output=True,
    )
    return classes


MOCKS3_SCRIPT = textwrap.dedent(
    """
    import sys, os
    sys.path.insert(0, ".")
    from pyspark.sql import SparkSession, functions as F

    classes, root, sf_dir, with_creds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4] == "1"
    b = (
        SparkSession.builder.master("local[4]").appName("mocks3-contract")
        .config("spark.driver.extraClassPath", classes)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.hadoop.fs.mocks3.impl", "sparkgraft.fs.MockS3FileSystem")
        .config("spark.hadoop.fs.mocks3.root", root)
    )
    if with_creds:
        b = (b.config("spark.hadoop.fs.mocks3.access.key", "test-access")
              .config("spark.hadoop.fs.mocks3.secret.key", "test-secret"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import (
        connected_components,
    )

    nation = scan(spark, sf_dir, "nation")
    if not with_creds:
        # the credentials contract: no creds -> initialize() must fail
        # BEFORE any data moves, like S3A with no provider chain
        try:
            nation.write.mode("overwrite").parquet("mocks3://bucket/nation")
        except Exception as e:
            msg = str(e)
            assert "credentials" in msg, msg[:500]
            print("MOCKS3_NO_CREDS_REFUSED")
            sys.exit(0)
        raise AssertionError("write without credentials unexpectedly succeeded")

    # parquet write -> read round-trip over the bucket scheme
    nation.write.mode("overwrite").parquet("mocks3://bucket/nation")
    back = spark.read.parquet("mocks3://bucket/nation")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))

    # hive-partitioned layout + partition discovery on the bucket
    orders = scan(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet("mocks3://bucket/orders")
    urgent = (spark.read.parquet("mocks3://bucket/orders")
              .filter(F.col("o_orderpriority") == "1-URGENT").count())
    assert urgent == orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert any(d.startswith("o_orderpriority=")
               for d in os.listdir(os.path.join(root, "bucket", "orders")))

    # resumable journal (_SUCCESS commit checks via the Hadoop FS API)
    edges = (spark.range(64).filter("id % 8 != 7")
             .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")))
    labels = connected_components(edges, journal_dir="mocks3://bucket/journal").collect()
    assert len(labels) == 64
    assert all(r["cluster_id"] == r["doc_id"] - r["doc_id"] % 8 for r in labels)
    assert any(d.startswith("labels_r")
               for d in os.listdir(os.path.join(root, "bucket", "journal")))
    print("MOCKS3_CONTRACT_OK")
    """
)

import glob as glob_mod

import pytest

pytestmark = [pytest.mark.slow]

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_mocks3(classes: str, root: str, sf_dir: str, with_creds: bool):
    return subprocess.run(
        [sys.executable, "-c", MOCKS3_SCRIPT, classes, root, sf_dir, "1" if with_creds else "0"],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_mocks3_credentialed_scheme_contract(sf_dir):
    tmp = tempfile.mkdtemp(prefix="sparkgraft_mocks3_")
    try:
        classes = _compile_mocks3(tmp)
        root = os.path.join(tmp, "store")
        os.makedirs(root, exist_ok=True)

        # 1) missing credentials fail fast at initialize()
        out = _run_mocks3(classes, root, sf_dir, with_creds=False)
        assert "MOCKS3_NO_CREDS_REFUSED" in out.stdout, out.stdout + out.stderr

        # 2) with credentials: sink/scan/partitioning/journal round-trip
        out = _run_mocks3(classes, root, sf_dir, with_creds=True)
        assert "MOCKS3_CONTRACT_OK" in out.stdout, out.stdout + out.stderr
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
