"""Operator-layer tests: relational operators, dedup, similarity,
textstats — semantics on small data plus plan-shape guardrails
(pushdown / broadcast / no-Python-UDF) that encode the 100 TB
properties correctness tests can't see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators import (
    dedup,
    similarity,
    textstats,
)
from mapreduce_faultolerrant_localityaware_spark.operators.relational import _floor_div
from mapreduce_faultolerrant_localityaware_spark.plans import (
    assert_broadcast_join,
    assert_no_python_udf,
    assert_pushed_filters,
)
from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan


def test_floor_div_exact(spark):
    # floor, not truncation, on a negative numerator; exact beyond 2**53
    cases = [(7, 3, 2), (-7, 3, -3), (-6, 3, -2), (10**17 + 7, 3, 33333333333333335)]
    df = spark.createDataFrame([(a, b) for a, b, _ in cases], "a long, b long")
    got = [r["q"] for r in df.select(_floor_div(F.col("a"), F.col("b")).alias("q")).collect()]
    assert got == [q for _, _, q in cases]


def test_top_k_uses_take_ordered(spark, sf_dir):
    orders = scan(spark, sf_dir, "orders")
    top = orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(5)
    plan = top._jdf.queryExecution().executedPlan().toString()
    # orderBy+limit must plan as TakeOrderedAndProject — per-partition
    # top-n + driver merge, never a total sort (the scale-safe shape)
    assert "TakeOrderedAndProject" in plan
    assert len(top.collect()) == 5


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = scan(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 10).select("l_orderkey", "l_quantity")
    assert_pushed_filters(q, "l_quantity")


def test_dim_join_goes_broadcast(spark, sf_dir):
    cust = scan(spark, sf_dir, "customer")
    nation = scan(spark, sf_dir, "nation")
    j = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    assert_broadcast_join(j)


def test_union_distinct_limit(spark):
    a = spark.createDataFrame([(1,), (2,)], ["x"])
    b = spark.createDataFrame([(2,), (3,)], ["x"])
    u = a.unionByName(b)
    assert u.count() == 4
    assert sorted(r["x"] for r in u.distinct().collect()) == [1, 2, 3]
    assert u.limit(2).count() == 2


def test_repartition_key_partitioning(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(100)], ["x", "k"])
    rp = df.repartition(6, F.col("k"))
    assert rp.rdd.getNumPartitions() == 6
    # same key never straddles partitions (correct hash partitioning —
    # the property the reference's length-only hash also had, SURVEY Q1)
    parts = rp.select("k").rdd.mapPartitions(lambda it: [set(r["k"] for r in it)]).collect()
    seen = {}
    for pid, ks in enumerate(parts):
        for k in ks:
            assert seen.setdefault(k, pid) == pid


# ---- dedup ----

def test_dedup_exact_finds_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    out = {r["keep_id"]: r["n_dups"] for r in dedup.dedup_exact(df).collect()}
    assert out == {1: 2, 3: 1}  # normalization folds case+whitespace


def test_minhash_identical_docs_are_candidates(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely unrelated words appear here only")],
        ["doc_id", "text"],
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.dedup_minhash_candidates(df).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_simhash_similar_docs_close(spark):
    base = "spark engine query plan shuffle partition aggregate join scan filter"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "zebra yak xylophone walrus vulture")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(fp[1], fp[2]) < ham(fp[1], fp[3])


def test_ngram_jaccard_bounds(spark):
    t = "a b c d e f g h i j"
    df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    rows = dedup.dedup_ngram_jaccard(df, threshold=0.5).collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == 1.0


def test_dedup_plans_stay_jvm_side(spark, sf_dir):
    docs = scan(spark, sf_dir, "documents")
    for q in (dedup.dedup_exact(docs), dedup.dedup_minhash_candidates(docs), dedup.simhash(docs)):
        assert_no_python_udf(q)


# ---- similarity ----

def test_ann_bruteforce_self_nearest(spark):
    # vectors pointing roughly the same way rank nearest
    data = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [-1.0, 0.0, 0.0])]
    df = spark.createDataFrame(data, ["vec_id", "embedding"])
    out = similarity.ann_bruteforce(df, df.filter(F.col("vec_id") == 0), k=2)
    rows = out.orderBy(F.desc("cos_sim")).collect()
    assert [r["neighbor_id"] for r in rows] == [1, 2]


def test_ann_ivf_prunes_to_cell(spark):
    data = [(0, [1.0, 0.0], 0), (1, [0.99, 0.01], 0), (2, [1.0, 0.01], 1)]
    df = spark.createDataFrame(data, ["vec_id", "embedding", "label"])
    out = similarity.ann_ivf(df, df.filter(F.col("vec_id") == 0))
    assert [r["neighbor_id"] for r in out.collect()] == [1]  # cell 1 pruned


# ---- textstats ----

def test_token_stats_counts(spark):
    df = spark.createDataFrame([(1, "one two  three\nfour 42")], ["doc_id", "text"])
    r = textstats.token_stats(df).collect()[0]
    assert r["n_tokens"] == 4  # '42' is not letters
    assert r["n_ws_tokens"] == 5


def test_lang_id_picks_marker_language(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog in the house"), (2, "el perro y el gato por la casa con"), (3, "xyzzy plugh")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_quality_score_range(spark, sf_dir):
    docs = scan(spark, sf_dir, "documents")
    rows = textstats.quality_score(docs).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in rows)
    assert all(0.0 <= r["stopword_ratio"] <= 1.0 for r in rows)


def test_fingerprint_stable(spark):
    df = spark.createDataFrame([(1, "Some  Text"), (2, "some text")], ["doc_id", "text"])
    rows = textstats.fingerprint(df).collect()
    assert rows[0]["content_md5"] == rows[1]["content_md5"]
