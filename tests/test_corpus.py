"""Semantic tests for corpus-level operators (TF-IDF, bigram counts,
contamination)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators import corpus


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_tfidf_rare_term_ranks_first(spark):
    df = _docs(
        spark,
        [
            (1, "zyzzyva zyzzyva the cat"),
            (2, "the dog sat on the log"),
            (3, "the bird sat on the wire"),
        ],
    )
    out = corpus.tfidf_top_terms(df, k=1).collect()
    top = {r["doc_id"]: r["token"] for r in out}
    # the corpus-unique term (same tf as 'the' in doc 1, higher idf)
    # must out-weigh the everywhere-word
    assert top[1] == "zyzzyva"
    # rk is 1..k and tfidf is positive
    assert all(r["rk"] == 1 and r["tfidf"] > 0 for r in out)


def test_bigram_counts_exact(spark):
    df = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    rows = {r["bigram"]: r["n"] for r in corpus.bigram_counts(df, k=10).collect()}
    assert rows == {"a b": 3, "b a": 1, "b c": 1}


def test_bigram_short_docs_yield_nothing(spark):
    df = _docs(spark, [(1, "single"), (2, "")])
    assert corpus.bigram_counts(df, k=10).count() == 0


def test_contamination_duplicate_is_fully_contained(spark):
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    df = _docs(
        spark,
        [
            (0, dup),                                   # bench (0 % 50 == 0)
            (1, dup),                                   # train copy -> containment 1.0
            (50, "iota kappa lambda mu nu xi omicron"), # bench, nothing shared
            (2, "totally different training text here"),
        ],
    )
    rows = {r["doc_id"]: r for r in corpus.contamination_check(df).collect()}
    assert rows[0]["containment"] == 1.0
    assert rows[50]["containment"] == 0.0
    assert rows[50]["n_hit"] == 0
    assert set(rows) == {0, 50}  # only bench docs are reported


def test_contamination_plan_is_semi_join(spark):
    df = _docs(spark, [(0, "a b c d e"), (1, "a b c x y")])
    plan = (
        corpus.contamination_check(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_repetition_ratio_flags_repeats(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import textstats

    df = _docs(
        spark,
        [
            (1, "spam spam spam spam spam spam"),      # one distinct 3-gram
            (2, "all words here are fully unique"),    # no repeats
            (3, "ab"),                                 # too short -> null ratio
        ],
    )
    rows = {r["doc_id"]: r for r in textstats.repetition_ratio(df).collect()}
    assert rows[1]["n_distinct"] == 1 and rows[1]["rep_ratio"] == 0.75
    assert rows[2]["rep_ratio"] == 0.0
    assert rows[3]["n_shingles"] == 0 and rows[3]["rep_ratio"] is None


def test_embedding_norms_unit_vector(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 0.0]), (2, [0.0, 0.0, -1.0])], ["vec_id", "embedding"]
    )
    rows = {r["vec_id"]: r for r in similarity.embedding_norms(df).collect()}
    assert rows[1]["l2_norm"] == 5.0 and rows[1]["max_abs"] == 4.0 and rows[1]["n_pos"] == 2
    assert rows[2]["l2_norm"] == 1.0 and rows[2]["n_pos"] == 0 and rows[2]["dim"] == 3


def test_pack_sequences_budget_boundaries(spark):
    # single stream, budget 10, 4-token docs: cum-before = 0,4,8,12,...
    # -> floor(cum_before/10) = 0,0,0,1,1,2,2,2
    df = _docs(spark, [(i, "a b c d") for i in range(8)])
    out = corpus.pack_sequences(df, budget=10, n_streams=1).collect()
    bins = {r["doc_id"]: r["pack_id"] for r in out}
    assert [bins[i] for i in range(8)] == [0, 0, 0, 1, 1, 2, 2, 2]
    assert all(r["stream"] == 0 and r["n_tokens"] == 4 for r in out)


def test_pack_sequences_streams_are_disjoint(spark):
    df = _docs(spark, [(i, "w " * (i % 5 + 1)) for i in range(40)])
    out = corpus.pack_sequences(df, budget=6, n_streams=4)
    rows = out.collect()
    # stream is doc_id % 4 and pack ids never collide across streams
    assert all(r["doc_id"] % 4 == r["stream"] for r in rows)
    by_stream = {}
    for r in rows:
        by_stream.setdefault(r["stream"], set()).add(r["pack_id"])
    packs = [p for s in by_stream.values() for p in s]
    assert len(packs) == len(set(packs))


def test_mixture_report_shares_sum_to_one(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "s1", "en"), (2, "d e", "s1", "fr"), (3, "f", "s2", "en")],
        ["doc_id", "text", "source", "lang"],
    )
    rows = corpus.mixture_report(df).collect()
    assert abs(sum(r["doc_share"] for r in rows) - 1.0) < 1e-5
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-5
    by = {(r["source"], r["lang"]): r for r in rows}
    assert by[("s1", "en")]["n_tokens"] == 3 and by[("s2", "en")]["n_docs"] == 1


def test_srp_fingerprint_plan_is_shuffle_free(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [float(d) for d in range(64)])], ["vec_id", "embedding"]
    )
    plan = (
        similarity.srp_fingerprint(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # fingerprint is a pure per-row expression


def test_resample_plan_single_fill_window(spark, sf_dir):
    from mapreduce_faultolerrant_localityaware_spark.operators.temporal import resample_ffill
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan as _scan

    plan = (
        resample_ffill(_scan(spark, sf_dir, "events"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one Window node (the forward-fill); no cartesian/nested-loop
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tfidf_repeated_calls_bounded_cache(spark, sf_dir):
    """tfidf_top_terms persists its token counts; repeated calls must
    release the previous call's cache (at most ONE cached relation
    alive) and must not register any session-global temp view."""
    from mapreduce_faultolerrant_localityaware_spark.operators.corpus import tfidf_top_terms
    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    sc = spark.sparkContext

    def n_cached():
        return len(sc._jsc.sc().getRDDStorageInfo())

    docs = scan(spark, sf_dir, "documents")
    before = n_cached()
    for _ in range(3):
        tfidf_top_terms(docs, k=2).count()
    assert n_cached() - before <= 1
    assert not [t.name for t in spark.catalog.listTables() if "tfidf" in t.name]
