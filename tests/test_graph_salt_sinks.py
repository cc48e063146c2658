"""Tests: connected components (vs a pure-Python union-find oracle),
salted join equivalence, approx_count_distinct accuracy, the CSV,
JSON and ORC sinks, and the round loops' checkpoint release."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators import _materialize, graph, relational
from mapreduce_faultolerrant_localityaware_spark.operators._materialize import materialize_once
from mapreduce_faultolerrant_localityaware_spark.operators.graph import connected_components
from mapreduce_faultolerrant_localityaware_spark.sources import scans


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


def _chain(spark, n: int, *extra: tuple):
    """The path 0 - 1 - ... - n, plus the ``extra`` edges."""
    edges = [(i, i + 1) for i in range(n)] + list(extra)
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


#: each round loop, as a call whose loop runs more rounds as ``n`` grows
_ROUND_LOOPS = {
    # min-label propagation: one round per hop of the chain
    "connected_components": lambda spark, n: connected_components(_chain(spark, n), max_iter=30),
    # star contraction: O(log² n) rounds, so the chain grows as 2**n
    "connected_components_two_phase": lambda spark, n: graph.connected_components_two_phase(
        _chain(spark, 2**n)
    ),
    "label_propagation": lambda spark, n: graph.label_propagation(_chain(spark, 6), rounds=n),
    # a path ending in the triangle 4-5-6: the 2-core never peels empty
    "kcore_peel": lambda spark, n: graph.kcore_peel(_chain(spark, 6, (6, 4)), rounds=n),
}


def _left_cached(spark, monkeypatch, name: str, n: int) -> int:
    """RDDs that ``name``'s loop at ``n`` leaves cached.  Every frame
    the loop cuts is held alive meanwhile: the ContextCleaner frees an
    unreachable one after a JVM GC, at no fixed time, so only the
    operator's own release may free blocks here."""
    kept = []

    def keep(df, *args, **kwargs):
        kept.append(materialize_once(df, *args, **kwargs))
        return kept[-1]

    monkeypatch.setattr(_materialize, "materialize_once", keep)
    monkeypatch.setattr(graph, "materialize_once", keep)
    sc = spark.sparkContext

    def cached() -> set:
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    before = cached()
    try:
        _ROUND_LOOPS[name](spark, n).collect()
        return len(cached() - before)
    finally:
        monkeypatch.undo()


def test_cc_releases_checkpoint_blocks(spark, monkeypatch):
    """Each propagation round frees the previous round's localCheckpoint
    blocks, and the edge cut is freed once the last round's labels are
    cut: connected components and label propagation must leave only the
    FINAL labels checkpoint cached, not one relation per round."""
    for name in ("connected_components", "label_propagation"):
        left = [_left_cached(spark, monkeypatch, name, n) for n in (2, 8)]
        assert left == [1, 1], f"{name} leaves {left} cached RDDs at 2 and 8 rounds"


@pytest.mark.parametrize("name", sorted(set(_ROUND_LOOPS) - {"connected_components"}))
def test_round_loops_release_checkpoint_blocks(spark, monkeypatch, name):
    """A round loop frees each superseded round's blocks, so the RDDs it
    leaves cached do not grow with its round count."""
    left = [_left_cached(spark, monkeypatch, name, n) for n in (2, 8)]
    assert left[0] == left[1], f"{name} leaves {left} cached RDDs at 2 and 8 rounds"
