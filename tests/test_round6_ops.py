"""Round-6 operators: end-to-end dedup pipeline, PQ-ANN, bucketed
mixture sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators import dedup


def test_dedup_pipeline_clusters_and_representatives(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (1, base),
        (2, base),                        # exact dup of 1
        (3, base + " with a tiny tail"),  # near-dup of 1/2
        (4, "completely unrelated legal boilerplate about contracts and parties"),
        (5, "another totally distinct document on astronomy stars and planets"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.dedup_pipeline(df, threshold=0.5).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # 1,2 verified duplicates clustered under min id 1; rep keeps
    assert out[1]["cluster_id"] == 1 and out[1]["keep"]
    assert out[2]["cluster_id"] == 1 and not out[2]["keep"]
    # singletons are their own cluster and kept
    for d in (4, 5):
        assert out[d]["cluster_id"] == d and out[d]["keep"] and out[d]["n_cluster"] == 1
    # near-dup 3: either joins the cluster (if jaccard>=0.5) or stands alone,
    # but n_cluster must be consistent with membership
    sizes = {}
    for r in out.values():
        sizes.setdefault(r["cluster_id"], 0)
        sizes[r["cluster_id"]] += 1
    for r in out.values():
        assert r["n_cluster"] == sizes[r["cluster_id"]]


def test_dedup_pipeline_verify_gate_blocks_spurious_candidates(spark):
    # two docs engineered to share an LSH band only if truly similar:
    # unrelated docs must never end up in one cluster even when LSH
    # emits a spurious candidate, because the Jaccard verify gates it
    # letters-only variation — the tokenizer strips digits, so numeric
    # suffixes would collapse every doc to the same token stream
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
             "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
             "oscar", "papa", "quebec", "romeo", "sierra", "tango"]
    rows = [
        (i, f"document {w} about {w}ish {w}ology {w}ness {w}ism topic {w}like")
        for i, w in enumerate(words)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.dedup_pipeline(df, threshold=0.8).collect()
    assert all(r["n_cluster"] == 1 and r["keep"] for r in out)


def test_mixture_sample_bucketed_no_giant_group_sort(spark):
    """One group far larger than the others: the output must equal the
    brute-force greedy prefix in (md5 rank, id) order, per group."""
    import hashlib

    from mapreduce_faultolerrant_localityaware_spark.operators import corpus

    rows = [(i, "giant", "tok " * ((i % 7) + 1)) for i in range(3000)]
    rows += [(10_000 + i, "small", "tok tok tok") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = corpus.mixture_sample(df, budget_tokens=300)

    got = {(r["doc_id"], r["cum_tokens"]) for r in out.collect()}
    # brute-force oracle: greedy prefix in (md5 rank, id) order
    def rank(i):
        return hashlib.md5(f"mix:{i}".encode()).hexdigest()

    expect = set()
    for grp, ids in (("giant", range(3000)), ("small", range(10_000, 10_005))):
        cum = 0
        for i in sorted(ids, key=lambda i: (rank(i), i)):
            n = {True: (i % 7) + 1, False: 3}[grp == "giant"]
            cum += n
            if cum <= 300:
                expect.add((i, cum))
    assert got == expect


def test_scan_nanos_events_generation(spark, tmp_path):
    """The ts-normalization path for TIMESTAMP(NANOS) testdata
    generations is dormant while the shipped data is micros — keep it
    honest by fabricating a nanos events.parquet and scanning it:
    the footer sniff must set the legacy flag (foreign-session path),
    the bigint nanos must truncate to micro timestamps, and the values
    must equal the same instants written as micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    micros = [1700000000_000000 + i * 1_500_000 for i in range(10)]
    nanos_dir = tmp_path / "nanos_sf"
    nanos_dir.mkdir()
    table = pa.table(
        {
            "event_id": pa.array(range(10), pa.int64()),
            "ts": pa.array([m * 1000 + 777 for m in micros], pa.timestamp("ns")),
            "user_id": pa.array([i % 3 for i in range(10)], pa.int64()),
            "event_type": pa.array(["click"] * 10),
            "value": pa.array([float(i) for i in range(10)]),
            "props": pa.array(["{}"] * 10),
        }
    )
    pq.write_table(table, nanos_dir / "events.parquet")

    # simulate a foreign session: the flag unset, scan() must sniff the
    # footer and set it (restore afterwards — get_spark sets it true)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = scan(spark, str(nanos_dir), "events")
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = [r["us"] for r in df.select(F.unix_micros("ts").alias("us")).orderBy("event_id").collect()]
        assert got == micros  # sub-micro nanos truncated, instants preserved
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_substring_spans_cross_doc_windows(spark):
    rows = [
        (1, "one two three four five"),            # 3 windows at w=3
        (2, "zz one two three yy"),                # shares "one two three"
        (3, "totally different words here"),       # 2 windows, no dups
        (4, "rep rep rep rep rep"),                # within-doc repeats only
        (5, "too short"),                          # < window tokens: no row
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.substring_spans(df, window=3).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert (out[1]["n_windows"], out[1]["dup_windows"]) == (3, 1)
    assert (out[2]["n_windows"], out[2]["dup_windows"]) == (3, 1)
    assert out[1]["dup_ratio"] == pytest.approx(0.333333)
    assert (out[3]["n_windows"], out[3]["dup_windows"]) == (2, 0)
    # a span repeated only WITHIN one doc is not cross-doc duplicated
    assert (out[4]["n_windows"], out[4]["dup_windows"]) == (3, 0)


def test_substring_spans_min_docs_threshold(spark):
    rows = [(i, "shared prefix of text plus suffix " + w)
            for i, w in [(1, "alpha"), (2, "bravo"), (3, "charlie")]]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # the 6-token shared prefix window recurs in all 3 docs
    strict = dedup.substring_spans(df, window=6, min_docs=4).collect()
    assert all(r["dup_windows"] == 0 for r in strict)
    loose = {r["doc_id"]: r for r in dedup.substring_spans(df, window=6, min_docs=3).collect()}
    assert all(loose[i]["dup_windows"] >= 1 for i in (1, 2, 3))


def test_dedup_editdist_verifies_candidates(spark):
    base = ("the quick brown fox jumps over the lazy dog while the "
            "bright summer sun shines over the quiet green valley")
    rows = [
        (1, base),
        (2, base.replace("dog", "cat")),   # levenshtein 3 on normalized text
        (3, "an entirely unrelated treatise on maritime insurance law "
            "covering vessels cargo liability and arbitration clauses"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.dedup_editdist(df, max_dist=10, max_hamming=20).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)]["dist"] == 3
    assert pairs[(1, 2)]["edit_sim"] == pytest.approx(1 - 3 / len(base), abs=1e-6)
    # the distance cap filters the pair out
    assert dedup.dedup_editdist(df, max_dist=2, max_hamming=20).count() == 0


def test_entropy_score_hand_computed(spark):
    import math

    from mapreduce_faultolerrant_localityaware_spark.operators import textstats

    rows = [
        (1, "aa bb aa bb"),        # uniform over 2 types: H = 1.0
        (2, "aa aa aa aa"),        # single type: H = 0.0
        (3, "aa aa bb cc"),        # 1/2, 1/4, 1/4 -> H = 1.5
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.entropy_score(df).collect()}
    assert out[1]["entropy"] == pytest.approx(1.0)
    assert out[2]["entropy"] == pytest.approx(0.0)
    assert out[3]["entropy"] == pytest.approx(1.5)
    assert (out[3]["n_tokens"], out[3]["n_types"]) == (4, 3)
    assert out[3]["ttr"] == pytest.approx(0.75)
    # order-insensitive determinism: repeated runs hash-stable
    a = sorted(map(tuple, textstats.entropy_score(df).collect()))
    b = sorted(map(tuple, textstats.entropy_score(df).collect()))
    assert a == b


def test_split_assign_deterministic_and_additive(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus

    df = spark.createDataFrame([(i,) for i in range(1000)], ["doc_id"])
    a = {r["doc_id"]: r["split"] for r in corpus.split_assign(df).collect()}
    b = {r["doc_id"]: r["split"] for r in corpus.split_assign(df).collect()}
    assert a == b
    # roughly the requested proportions
    n_train = sum(1 for s in a.values() if s == "train")
    assert 820 <= n_train <= 960
    # adding data never reassigns existing keys
    bigger = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    c = {r["doc_id"]: r["split"] for r in corpus.split_assign(bigger).collect()}
    assert all(c[k] == v for k, v in a.items())
    with pytest.raises(ValueError):
        corpus.split_assign(df, weights=(50, 50, 50))


def test_hard_negatives_excludes_same_label(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import similarity

    # two tight same-label clusters; nearest DIFFERENT-label vector is
    # the other cluster's closest member, never a same-label twin
    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [0.99, 0.1], "a"),     # near-twin of 1, same label
        (3, [0.8, 0.6], "b"),      # closest b to 1
        (4, [0.0, 1.0], "b"),
        (5, [-1.0, 0.0], "c"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = df.filter(F.col("vec_id") == 1)
    out = similarity.hard_negatives(df, q, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [3, 4]
    assert all(r["neighbor_label"] != "a" for r in out)
    # similarity ordering holds
    assert out[0]["cos_sim"] >= out[1]["cos_sim"]


def test_tokens_to_ids_vocab_and_oov(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus

    rows = [
        (1, "cat cat cat dog dog bird"),
        (2, "dog cat unseen"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # vocab_size=2: cat (4) -> 1, dog (3) -> 2; bird/unseen -> OOV 0
    out = {r["doc_id"]: r for r in corpus.tokens_to_ids(df, vocab_size=2).collect()}
    assert out[1]["ids"] == [1, 1, 1, 2, 2, 0]
    assert out[2]["ids"] == [2, 1, 0]
    assert out[1]["n_tokens"] == 6
    # count-desc, token-asc determinism: tie between equal counts
    rows2 = [(1, "bb aa bb aa")]
    out2 = corpus.tokens_to_ids(spark.createDataFrame(rows2, ["doc_id", "text"]), vocab_size=2).collect()
    assert out2[0]["ids"] == [2, 1, 2, 1]  # aa wins id 1 on the tie


def test_pagerank_star_graph_centrality(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import pagerank

    # star: 0 is the hub, 1..4 leaves; hub must out-rank every leaf,
    # leaves are symmetric so their ranks are identical
    edges = spark.createDataFrame([(0, i) for i in range(1, 5)], ["doc_a", "doc_b"])
    out = {r["node"]: r["rank_micro"] for r in pagerank(edges, iters=5).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert all(out[0] > out[i] for i in range(1, 5))
    assert len({out[i] for i in range(1, 5)}) == 1
    # bit-reproducible across runs
    again = {r["node"]: r["rank_micro"] for r in pagerank(edges, iters=5).collect()}
    assert out == again


def test_zscore_outliers_flags_only_extremes(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import events as events_ops

    rows = (
        [(i, 1, 10.0) for i in range(20)]       # tight cluster
        + [(99, 1, 100.0)]                      # clear outlier
        + [(200, 2, 50.0)]                      # singleton key: no std
        + [(300, 3, 5.0), (301, 3, 5.0)]        # zero-variance key
    )
    df = spark.createDataFrame(rows, ["event_id", "user_id", "value"])
    out = events_ops.zscore_outliers(df).collect()
    assert [r["event_id"] for r in out] == [99]
    assert out[0]["z"] > 4
    # determinism across runs (integer moment sums)
    again = events_ops.zscore_outliers(df).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pagerank_long_run_bounded_lineage(spark):
    """A 12-iteration run crosses the periodic checkpoint boundary
    twice — results must match the star-graph expectations and stay
    deterministic (exercises the truncate/release path)."""
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(0, i) for i in range(1, 5)], ["doc_a", "doc_b"])
    out = {r["node"]: r["rank_micro"] for r in pagerank(edges, iters=12).collect()}
    assert all(out[0] > out[i] for i in range(1, 5))
    again = {r["node"]: r["rank_micro"] for r in pagerank(edges, iters=12).collect()}
    assert out == again


def test_dedup_incremental_fuzzy_near_and_far(spark):
    base_text = ("the quick brown fox jumps over the lazy dog while the "
                 "bright summer sun shines over the quiet green valley today")
    base = spark.createDataFrame(
        [(1, base_text),
         (2, "a completely different legal document about maritime insurance "
             "claims arbitration and vessel liability provisions")],
        ["doc_id", "text"],
    )
    delta = spark.createDataFrame(
        [(10, base_text.replace("dog", "cat")),   # near-dup of base 1
         (11, "entirely novel astronomy content regarding stellar formation "
              "accretion disks and planetary nebulae evolution")],
        ["doc_id", "text"],
    )
    from mapreduce_faultolerrant_localityaware_spark.operators import dedup

    out = {r["doc_id"]: r for r in
           dedup.dedup_incremental_fuzzy(base, delta, max_hamming=3).collect()}
    assert set(out) == {10, 11}
    assert out[10]["n_matches"] >= 1 and not out[10]["keep"]
    assert out[11]["n_matches"] == 0 and out[11]["keep"]
    # pair-band candidate generation is only complete for hamming<=3
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dedup.dedup_incremental_fuzzy(base, delta, max_hamming=4)


def test_lm_score_repetitive_beats_novel(spark):
    """A doc made of the corpus's dominant bigrams must score LOWER
    cross-entropy than one made of rare transitions."""
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(10)] + [
        (100, "zebra quantum furnace doily omelette crankshaft")
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in corpus.lm_bigram_score(df).collect()}
    assert out[0]["h_bits"] < out[100]["h_bits"]
    assert out[0]["n_bigrams"] == 5
    # deterministic across runs (integer micro-unit sums)
    again = {r["doc_id"]: r["h_bits"] for r in corpus.lm_bigram_score(df).collect()}
    assert {k: v["h_bits"] for k, v in out.items()} == again


def test_approx_percentiles_within_bound(spark, sf_dir):
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    li = scan(spark, sf_dir, "lineitem")
    exact = {r["l_returnflag"]: (r["p50"], r["p95"]) for r in li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("p50"),
        F.percentile("l_extendedprice", 0.95).alias("p95")).collect()}
    import __spark_entry__ as E
    approx = {r["l_returnflag"]: (r["p50_approx"], r["price_p95_approx"])
              for r in E.queries()["approx_percentiles"](spark, sf_dir).collect()}
    for k, (e50, e95) in exact.items():
        a50, a95 = approx[k]
        # accuracy 10000 -> relative rank error 1/10000; values on these
        # distributions stay within a loose 2% value tolerance
        assert abs(a50 - e50) <= max(0.02 * e50, 1.0)
        assert abs(a95 - e95) <= max(0.02 * e95, 1.0)


def test_merge_upsert_latest_wins(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import relational

    base = spark.createDataFrame(
        [(1, "old-a", 1), (2, "old-b", 5), (3, "only-base", 1)],
        ["k", "payload", "version"],
    )
    delta = spark.createDataFrame(
        [(1, "new-a", 2),        # higher version: wins
         (2, "stale-b", 3),      # LOWER than base's 5: base wins
         (4, "inserted", 1)],    # new key: inserts
        ["k", "payload", "version"],
    )
    out = {r["k"]: (r["payload"], r["version"]) for r in
           relational.merge_upsert(base, delta, "k", "version").collect()}
    assert out == {1: ("new-a", 2), 2: ("old-b", 5), 3: ("only-base", 1), 4: ("inserted", 1)}
    # tie on version: delta wins (MERGE convention)
    delta_tie = spark.createDataFrame([(3, "delta-tie", 1)], ["k", "payload", "version"])
    out2 = {r["k"]: r["payload"] for r in
            relational.merge_upsert(base, delta_tie, "k", "version").collect()}
    assert out2[3] == "delta-tie"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        relational.merge_upsert(base, delta.drop("version"), "k", "version")


def test_dedup_rep_pagerank_elects_hub(spark):
    """In a star-shaped duplicate cluster the hub (highest PageRank)
    must be elected representative, NOT the min id."""
    import __spark_entry__  # noqa: F401  (ensures module import works standalone)
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import (
        connected_components,
        pagerank,
    )

    # star with hub 5 (higher id than leaves: min-id election would
    # pick 1, centrality picks 5)
    edges = spark.createDataFrame([(5, i) for i in (1, 2, 3, 4)], ["doc_a", "doc_b"])
    labels = connected_components(edges)
    pr = pagerank(edges, iters=5)
    j = labels.join(pr, labels["doc_id"] == pr["node"]).select(
        "doc_id", "cluster_id", "rank_micro"
    )
    rep = j.groupBy("cluster_id").agg(
        (F.max(F.struct(F.col("rank_micro"), (-F.col("doc_id")).alias("negid")))["negid"] * -1).alias("rep_id")
    )
    out = {r["doc_id"]: r for r in
           j.join(rep, "cluster_id").withColumn("keep", F.col("doc_id") == F.col("rep_id")).collect()}
    assert out[5]["keep"]
    assert all(not out[i]["keep"] for i in (1, 2, 3, 4))
    assert all(out[i]["cluster_id"] == 1 for i in (1, 2, 3, 4, 5))  # min-label cluster id


def test_chunk_overlap_windows(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus

    # 10 tokens, size=4, stride=3 -> starts 1,4,7,10; the start-10
    # window ("j") is fully covered by the start-7 chunk ("g h i j"),
    # so the fully-overlapped-tail filter drops it (round-6 advice)
    df = spark.createDataFrame([(1, "a b c d e f g h i j")], ["doc_id", "text"])
    out = sorted(
        corpus.chunk_overlap(df, size=4, stride=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["chunk"] for r in out] == ["a b c d", "d e f g", "g h i j"]
    assert [r["n_tokens"] for r in out] == [4, 4, 4]
    assert [r["chunk_idx"] for r in out] == [0, 1, 2]
    # a tail that DOES add a new token is kept: 11 tokens -> last
    # chunk starts at 10 and covers "j k" (k is new)
    df2 = spark.createDataFrame([(1, "a b c d e f g h i j k")], ["doc_id", "text"])
    out2 = sorted(
        corpus.chunk_overlap(df2, size=4, stride=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["chunk"] for r in out2] == ["a b c d", "d e f g", "g h i j", "j k"]
    # every token is covered at least once
    covered = set(" ".join(r["chunk"] for r in out).split())
    assert covered == set("abcdefghij")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        corpus.chunk_overlap(df, size=4, stride=5)


def test_dedup_exact_keep_best_longest_copy(spark):
    rows = [
        (1, "same   content here"),      # normalizes equal to 2/3; 19 chars
        (2, "same content here"),        # 17 chars
        (3, "same  content   here  "),   # 22 chars: longest -> keeper
        (4, "unique document"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.dedup_exact_keep_best(df).collect()}
    assert out[3]["keep"] and not out[1]["keep"] and not out[2]["keep"]
    assert out[1]["n_copies"] == 3
    assert out[4]["keep"] and out[4]["n_copies"] == 1
    # exact tie on length: min id wins
    tie = spark.createDataFrame([(7, "x y"), (5, "x y")], ["doc_id", "text"])
    out2 = {r["doc_id"]: r["keep"] for r in dedup.dedup_exact_keep_best(tie).collect()}
    assert out2 == {5: True, 7: False}


@pytest.mark.parametrize(
    "text, n_points", [("solo solo solo", 1), ("", 0)], ids=["one_word", "empty"]
)
def test_zipf_fit_degenerate_corpus_is_null(spark, text, n_points):
    """A one-word corpus has one point and an empty corpus none: the
    fit is NULL (as heaps_fit reports), not an ANSI division error,
    and an empty corpus counts 0 points."""
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus

    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = corpus.zipf_fit(df, top_n=20).collect()[0]
    assert (out["n_points"], out["slope"], out["intercept"]) == (n_points, None, None)


def test_zipf_fit_recovers_exponent(spark):
    """A synthetic corpus with freq(rank) ∝ rank^-1 must fit a slope
    near -1; the flat corpus (all tokens equal) fits ~0."""
    from mapreduce_faultolerrant_localityaware_spark.operators import corpus

    words = ["w%s" % chr(ord("a") + i) for i in range(20)]
    zipf_text = " ".join(
        " ".join([w] * max(1, int(100 / (r + 1)))) for r, w in enumerate(words)
    )
    df = spark.createDataFrame([(1, zipf_text)], ["doc_id", "text"])
    out = corpus.zipf_fit(df, top_n=20).collect()[0]
    assert out["n_points"] == 20
    assert -1.25 <= out["slope"] <= -0.8
    flat = spark.createDataFrame([(1, " ".join(words * 5))], ["doc_id", "text"])
    out2 = corpus.zipf_fit(flat, top_n=20).collect()[0]
    assert abs(out2["slope"]) < 0.01
