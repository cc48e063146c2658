"""Edge-input robustness: nulls, empties, and degenerate groups must
flow through the operator surface without errors or row corruption."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_faultolerrant_localityaware_spark.operators import dedup, graph, textstats
from mapreduce_faultolerrant_localityaware_spark.operators.wordcount import wordcount_from_text

_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def test_wordcount_null_and_empty_text(spark):
    df = _docs(spark, [(1, None), (2, ""), (3, "  \t "), (4, "one two two")])
    got = {r["word"]: r["count"] for r in wordcount_from_text(df, "text").collect()}
    assert got == {"two": 2, "one": 1}


def test_dedup_exact_null_text(spark):
    df = _docs(spark, [(1, None), (2, None), (3, "x")])
    out = dedup.dedup_exact(df).collect()
    # null text hashes as the empty text → one group for both, not an error
    assert sum(r["n_dups"] for r in out) == 3


_NULL_DELTA = [(10, "a b c"), (11, None), (12, "x y z"), (13, None)]


def test_dedup_incremental_keeps_null_text_docs(spark):
    # one row per delta doc; the two NULL-text docs share the empty
    # text's hash, so the first is kept and the second is a duplicate
    base = _docs(spark, [(1, "a b c")])
    got = {
        r["doc_id"]: (r["in_base"], r["keep"])
        for r in dedup.dedup_incremental(base, _docs(spark, _NULL_DELTA)).collect()
    }
    assert got == {
        10: (True, False),
        11: (False, True),
        12: (False, True),
        13: (False, False),
    }


def test_dedup_exact_keep_best_keeps_null_text_docs(spark):
    got = {
        r["doc_id"]: (r["n_copies"], r["keep"])
        for r in dedup.dedup_exact_keep_best(_docs(spark, _NULL_DELTA)).collect()
    }
    # NULL length ties, so the min id (11) is the best NULL-text copy
    assert got == {10: (1, True), 11: (2, True), 12: (1, True), 13: (2, False)}


@pytest.mark.parametrize("name", ["text", "body text", "my-text", "select", "we`ird"])
def test_content_hash_of_any_column_name(spark, name):
    # the hash is one SQL template, so the column name is quoted into it;
    # whitespace and case normalize away and NULL hashes as the empty text
    df = _docs(spark, [(1, "  Hello \t World  "), (2, "hello world"), (3, None)])
    got = [r[0] for r in df.withColumnRenamed("text", name).select(dedup.content_hash(name)).collect()]
    assert got == [hashlib.md5(b"hello world").hexdigest()] * 2 + [hashlib.md5(b"").hexdigest()]


def test_fingerprint_null_text_is_empty_text(spark):
    rows = textstats.fingerprint(_docs(spark, [(1, None), (2, "")])).collect()
    assert rows[0]["content_md5"] == rows[1]["content_md5"] == hashlib.md5(b"").hexdigest()


def test_minhash_short_docs_empty_signatures(spark):
    # docs shorter than the shingle width produce no shingles — they
    # simply have no signature row (nothing to LSH), not a crash
    df = _docs(spark, [(1, "one two"), (2, "a b c d e")])
    sigs = dedup.minhash_signatures(df).collect()
    assert {r["doc_id"] for r in sigs} == {2}


def test_group_agg_null_keys(spark):
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), ("a", 3.0)],
        T.StructType(
            [T.StructField("k", T.StringType()), T.StructField("v", T.DoubleType())]
        ),
    )
    got = {
        r["k"]: r["s"]
        for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    assert got == {None: 3.0, "a": 3.0}  # null is one group (SQL semantics)


def test_quality_score_skips_tokenless_docs(spark):
    df = _docs(spark, [(1, "1234 ... !!"), (2, "real words here")])
    out = textstats.quality_score(df)
    assert {r["doc_id"] for r in out.collect()} == {2}


def test_empty_input_frames(spark):
    empty = _docs(spark, [])
    assert wordcount_from_text(empty, "text").count() == 0
    assert dedup.dedup_exact(empty).count() == 0
    assert empty.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).count() == 0


def test_bpe_token_stats_edges(spark):
    df = _docs(spark, [(1, ""), (2, "   "), (3, "don't stop"), (4, None)])
    rows = {r["doc_id"]: r for r in textstats.bpe_token_stats(df).collect()}
    assert rows[1]["n_pieces"] == 0 and rows[1]["chars_per_piece"] is None
    assert rows[2]["n_pieces"] == 1 and rows[2]["n_nonws_pieces"] == 0
    assert rows[3]["n_nonws_pieces"] == 3  # don | 't | " stop"
    assert rows[4]["n_pieces"] is None  # null text propagates


def test_scrub_text_detects_and_redacts(spark):
    df = _docs(
        spark,
        [
            (1, "mail me at a.b+c@ex-ample.co.uk or see https://x.io/p?q=1 now"),
            (2, "no pii here at all"),
            (3, "email inside url https://host/a@b.com stays one URL"),
        ],
    )
    rows = {r["doc_id"]: r for r in textstats.scrub_text(df).collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_urls"] == 1
    assert rows[2]["n_emails"] == 0 and rows[2]["n_urls"] == 0
    # URL replaced first AND counted first: the address-shaped substring
    # inside the URL is attributed to the URL only, never double-counted
    assert rows[3]["n_urls"] == 1
    assert rows[3]["n_emails"] == 0


def test_sample_stratified_rates(spark, sf_dir):
    from mapreduce_faultolerrant_localityaware_spark.operators import relational as R
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan as _scan

    orders = _scan(spark, sf_dir, "orders")
    out = R.sample_stratified(
        orders, "o_orderpriority", {"1-URGENT": 0.5}, key_col="o_orderkey", default_rate=0.1
    )
    tot = {r["o_orderpriority"]: r["n"] for r in orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["o_orderpriority"]: r["n"] for r in out.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(got["1-URGENT"] / tot["1-URGENT"] - 0.5) < 0.1
    assert abs(got["5-LOW"] / tot["5-LOW"] - 0.1) < 0.05
    # determinism: same call → identical sample
    again = R.sample_stratified(
        orders, "o_orderpriority", {"1-URGENT": 0.5}, key_col="o_orderkey", default_rate=0.1
    )
    assert {r["o_orderkey"] for r in again.collect()} == {r["o_orderkey"] for r in out.collect()}


def test_sample_stratified_rate_boundary_exact(spark):
    """Rates whose double product truncates (0.29 * 10000 = 2899.999…)
    must round to the intended bucket threshold, not lose a bucket —
    keys hashing exactly to bucket 2899 prove round-vs-truncate."""
    from mapreduce_faultolerrant_localityaware_spark.operators import relational as R

    df = spark.range(20000).selectExpr("id AS k", "'s' AS g")
    out = R.sample_stratified(df, "g", {"s": 0.29}, key_col="k")
    kept = {r["k"] for r in out.collect()}
    # recompute the bucket in Python with exact integer md5 arithmetic
    import hashlib

    def bucket(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 10000

    boundary = [k for k in range(20000) if bucket(k) == 2899]
    assert boundary, "no key hit the boundary bucket; widen the range"
    assert all(k in kept for k in boundary), "bucket 2899 lost to double truncation"
    assert kept == {k for k in range(20000) if bucket(k) < 2900}


def test_lsh_candidates_empty_and_tiny(spark):
    empty = _docs(spark, [])
    assert dedup.dedup_minhash_candidates(empty).count() == 0
    assert dedup.lsh_bucket_stats(empty).count() == 0
    solo = _docs(spark, [(1, "only one document here nothing matches")])
    assert dedup.dedup_minhash_candidates(solo).count() == 0


def test_round6_ops_empty_and_degenerate_inputs(spark):
    """Round-6 operators must return empty/degenerate-safe results on
    empty corpora and single-doc inputs — not errors."""
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus, events as ev_ops, textstats as ts

    empty = _docs(spark, [])
    assert dedup.substring_spans(empty).count() == 0
    assert ts.entropy_score(empty).count() == 0
    assert corpus.lm_bigram_score(empty).count() == 0
    assert corpus.tokens_to_ids(empty).count() == 0
    assert corpus.split_assign(empty).count() == 0
    assert dedup.dedup_editdist(empty).count() == 0

    one = _docs(spark, [(1, "only one document here")])
    assert dedup.substring_spans(one, window=2).collect()[0]["dup_windows"] == 0
    assert dedup.dedup_editdist(one).count() == 0  # no pairs from one doc
    # single-token doc: zero bigrams -> absent from lm output, present in entropy
    tiny = _docs(spark, [(1, "word")])
    assert corpus.lm_bigram_score(tiny).count() == 0
    assert ts.entropy_score(tiny).collect()[0]["entropy"] == 0.0

    from pyspark.sql import types as T2
    ev_schema = T2.StructType([
        T2.StructField("event_id", T2.LongType()),
        T2.StructField("user_id", T2.LongType()),
        T2.StructField("value", T2.DoubleType()),
    ])
    assert ev_ops.zscore_outliers(spark.createDataFrame([], ev_schema)).count() == 0


def test_merge_schema_read(spark, tmp_path):
    """Schema evolution on read: a partition written BEFORE a column
    existed reads back as NULLs under mergeSchema — the append-only
    lakehouse evolution path."""
    p = str(tmp_path / "evolving")
    spark.range(0, 5).selectExpr("id", "id * 2 AS v").write.parquet(p + "/part=a")
    spark.range(5, 10).selectExpr(
        "id", "id * 2 AS v", "'new' AS extra"
    ).write.parquet(p + "/part=b")
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v", "extra", "part"}
    assert df.count() == 10
    assert df.filter(F.col("extra").isNull()).count() == 5


def test_round7_ops_on_nulls_and_empties(spark):
    """Round-7 operators over null/empty/degenerate docs: no errors,
    sane rows."""
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus, textstats

    df = _docs(spark, [(1, None), (2, ""), (3, "  "), (4, "one two three")])

    # ngram_coverage: every doc gets a row; degenerate docs report 0
    cov = {r["doc_id"]: r for r in textstats.ngram_coverage(df, n=2).collect()}
    assert set(cov) == {1, 2, 3, 4}
    assert cov[1]["n_shingles"] == 0 and cov[1]["dup_frac"] == 0.0
    assert cov[4]["n_shingles"] == 2

    # shard_assign: every doc sharded exactly once, dense positions —
    # a NULL id included (its NULL shard is a partition of its own)
    sa = corpus.shard_assign(df.union(_docs(spark, [(None, "x")])), n_shards=4).collect()
    assert sorted(r["doc_id"] for r in sa if r["doc_id"] is not None) == [1, 2, 3, 4]
    assert [(r["shard"], r["pos"]) for r in sa if r["doc_id"] is None] == [(None, 1)]
    by_shard = {}
    for r in sa:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert all(sorted(p) == list(range(1, len(p) + 1)) for p in by_shard.values())

    # bpe_train on a corpus with no repeated pairs: empty merge table
    empty_rules = corpus.bpe_train(_docs(spark, [(1, "ab cd")]), n_merges=5)
    assert empty_rules.count() == 0

    # bpe_encode with an empty rule list: every word stays fully
    # character-split, so n_subwords is the total letter count
    enc = {r["doc_id"]: r for r in corpus.bpe_encode(df, []).collect()}
    assert 4 in enc and enc[4]["n_subwords"] == len("onetwothree")
    assert enc[4]["fertility"] == round(len("onetwothree") / 3, 6)


def test_domain_cap_null_source(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus

    rows = [(1, None, 10), (2, None, 20), (3, "s", 30)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = corpus.domain_cap(df, cap=1).collect()
    # null source is its own group (groupBy semantics), capped like any
    srcs = {r["source"]: r["doc_id"] for r in out}
    assert srcs == {None: 2, "s": 3}


def test_mixture_shares_of_a_tokenless_corpus_are_null(spark):
    # digits and an empty string: no letter tokens anywhere, so the
    # token shares (and mixture weights) are 0/0 — NULL, not an ANSI
    # DIVIDE_BY_ZERO
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, "123", "a", "en"), (2, "", "b", "it")], ["doc_id", "text", "source", "lang"]
    )
    rep = {r["source"]: r for r in corpus.mixture_report(df).collect()}
    assert {s: (r["n_tokens"], r["doc_share"], r["token_share"]) for s, r in rep.items()} == {
        "a": (0, 0.5, None),
        "b": (0, 0.5, None),
    }
    wts = corpus.mixture_weights(df).collect()
    assert sorted((r["source"], r["n_tokens"], r["token_share"], r["weight"], r["boost"]) for r in wts) == [
        ("a", 0, None, None, None),
        ("b", 0, None, None, None),
    ]


@pytest.mark.parametrize("name", ["body text", "we`ird", "select"])
def test_tokens_of_any_column_name(spark, name):
    # the tokenizer is one SQL parse, so the column name is quoted into
    # it: a name with a space, a backtick or a reserved word tokenizes
    # exactly like the same data under a plain name
    from mapreduce_faultolerrant_localityaware_spark.functions.text import tokens

    df = _docs(spark, [(1, "Don't stop, 2nd più"), (2, ""), (3, None)])
    for lowercase in (False, True):
        plain = [r[0] for r in df.orderBy("doc_id").select(tokens("text", lowercase)).collect()]
        odd = df.withColumnRenamed("text", name).orderBy("doc_id")
        got = [r[0] for r in odd.select(tokens(name, lowercase)).collect()]
        assert got == plain
    assert plain[0] == ["don", "t", "stop", "nd", "più"] and plain[1] == [] and plain[2] is None


@pytest.mark.parametrize("edges", [[(1, 1), (2, 3)], [(None, 4), (2, 3)]], ids=["loop", "null"])
def test_connected_components_variants_agree(spark, edges):
    # both drop self-loops and NULL endpoints, so a node reached only
    # through one is not clustered by either
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    one = sorted(tuple(r) for r in graph.connected_components(df).collect())
    two = sorted(tuple(r) for r in graph.connected_components_two_phase(df).collect())
    assert one == two == [(2, 2), (3, 2)]


# two triangles joined by a bridge, a pendant and a separate edge;
# weights are distinct so the spanning forest is unique
_GRAPH = [(1, 2, 4), (2, 3, 2), (1, 3, 7), (3, 4, 1), (4, 5, 5), (5, 6, 3), (6, 4, 6),
          (6, 7, 8), (8, 9, 9)]
# the same graph once more: reversed copies, exact duplicates and
# self-loops on nodes that already have an edge
_NOISY = (_GRAPH + [(d, s, w) for s, d, w in _GRAPH[::2]] + _GRAPH[1::3]
          + [(1, 1, 0), (4, 4, 0), (9, 9, 0)])
_UNDIRECTED_OPS = {
    "connected_components": lambda e: graph.connected_components(e, "src", "dst"),
    "connected_components_two_phase": (
        lambda e: graph.connected_components_two_phase(e, "src", "dst")),
    "triangle_count": lambda e: graph.triangle_count(e, "src", "dst"),
    "clustering_coefficient": lambda e: graph.clustering_coefficient(e, "src", "dst"),
    "bfs_hops": lambda e: graph.bfs_hops(
        e, e.sparkSession.range(1, 2), src="src", dst="dst"),
    "pagerank": lambda e: graph.pagerank(e, iters=5, src="src", dst="dst"),
    "label_propagation": lambda e: graph.label_propagation(e, rounds=3, src="src", dst="dst"),
    "kcore_peel": lambda e: graph.kcore_peel(e, rounds=4, src="src", dst="dst"),
    "common_neighbors": lambda e: graph.common_neighbors(e, "src", "dst"),
    "neighborhood_jaccard": lambda e: graph.neighborhood_jaccard(e, "src", "dst"),
    "degree_histogram": lambda e: graph.degree_histogram(e),
    "assortativity": lambda e: graph.assortativity(e),
    "boruvka_msf": lambda e: graph.boruvka_msf(e),
}


@pytest.mark.parametrize("op", sorted(_UNDIRECTED_OPS))
def test_graph_ops_ignore_orientation_duplicates_and_loops(spark, op):
    def rows(edges):
        df = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")
        return sorted(tuple(r) for r in _UNDIRECTED_OPS[op](df).collect())

    clean = rows(_GRAPH)
    assert clean
    assert rows(_NOISY) == clean
