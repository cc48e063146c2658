"""Tests: connected components (vs a pure-Python union-find oracle),
salted join equivalence, approx_count_distinct accuracy, and the new
sink formats."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators import relational
from mapreduce_faultolerrant_localityaware_spark.operators.graph import connected_components
from mapreduce_faultolerrant_localityaware_spark.sources import scans, sinks


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in parent}


def test_connected_components_vs_union_find(spark):
    # two chains, one triangle-with-tail, one isolated pair
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22), (22, 23), (30, 31)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == _uf_components(edges)


def test_connected_components_long_chain(spark):
    # diameter 9 — forces multiple propagation rounds
    edges = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(11)}


def test_join_salted_equals_plain(spark, sf_dir):
    li = scans.scan(spark, sf_dir, "lineitem")
    supp = scans.scan(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")
    plain = li.join(supp, "l_suppkey")
    salted = relational.join_salted(li, supp, "l_suppkey", salt_buckets=4)
    assert salted.count() == plain.count()
    agg = lambda d: {  # noqa: E731
        r["s_name"]: r["n"] for r in d.groupBy("s_name").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert agg(salted) == agg(plain)


def test_approx_distinct_within_rsd(spark, sf_dir):
    orders = scans.scan(spark, sf_dir, "orders")
    exact = orders.select(F.countDistinct("o_custkey")).collect()[0][0]
    approx = orders.select(F.approx_count_distinct("o_custkey")).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05  # default rsd ~2.3%


def test_csv_json_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    csv_path, json_path = str(tmp_path / "c"), str(tmp_path / "j")
    df.write.mode("overwrite").option("header", "true").option("sep", ",").csv(csv_path)
    df.write.mode("overwrite").json(json_path)
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())])
    back_csv = {(r["k"], r["v"]) for r in spark.read.option("header", "true").schema(schema).csv(csv_path).collect()}
    back_json = {(r["k"], r["v"]) for r in spark.read.schema(schema).json(json_path).collect()}
    assert back_csv == back_json == {(1, "a"), (2, "b")}


def test_orc_sink_roundtrip(spark, sf_dir, tmp_path):
    supp = scans.scan(spark, sf_dir, "supplier")
    path = str(tmp_path / "supp_orc")
    supp.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == supp.schema
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in supp.collect()}
    # predicate pushdown reaches the ORC scan, same as parquet
    from mapreduce_faultolerrant_localityaware_spark.plans import formatted_plan

    plan = formatted_plan(back.filter(F.col("s_suppkey") == 7))
    assert "PushedFilters: [IsNotNull(s_suppkey), EqualTo(s_suppkey,7)]" in plan


def test_write_bucketed_layout(spark, sf_dir, tmp_path):
    supp = scans.scan(spark, sf_dir, "supplier")
    try:
        sinks.write_bucketed(supp, "supp_bt", str(tmp_path / "supp_bt"), "s_suppkey", 4)
        # bucket-suffixed files (part-*_0000N) present, readable, complete;
        # empty buckets write no file, so expect ≥2 distinct buckets
        files = glob.glob(str(tmp_path / "supp_bt" / "*.parquet"))
        buckets = {f.rsplit("_", 1)[1].split(".")[0] for f in files}
        assert len(buckets) >= 2
        assert spark.table("supp_bt").count() == supp.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS supp_bt")


def test_cc_releases_checkpoint_blocks(spark):
    """Each propagation round frees the previous round's localCheckpoint
    blocks: a long chain (many rounds) must leave at most the FINAL
    labels checkpoint cached, not one relation per round."""
    sc = spark.sparkContext

    def n_cached():
        return len(sc._jsc.sc().getRDDStorageInfo())

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    before = n_cached()
    out = connected_components(pairs, max_iter=30)
    assert all(r["cluster_id"] == 0 for r in out.collect())
    leaked = n_cached() - before
    assert leaked <= 1, f"checkpoint blocks leaked: {leaked} extra cached RDDs"
