"""Scale-guard tests for the dedup stack: LSH bucket cap (mass-dup
corpus must NOT explode quadratically), bucket-stats observability,
and the two-phase connected-components variant vs label propagation
and a pure-Python union-find oracle."""

from __future__ import annotations

import pytest

from mapreduce_faultolerrant_localityaware_spark.operators import dedup
from mapreduce_faultolerrant_localityaware_spark.operators.graph import (
    connected_components,
    connected_components_two_phase,
)


def _mass_dup_corpus(spark, n_dups=40, n_unique=5):
    """n_dups identical boilerplate docs + n_unique distinct docs."""
    boiler = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [(i, boiler) for i in range(n_dups)]
    rows += [
        (1000 + i, f"entirely different document number {i} about topic{i} "
                   f"with unique{i} vocabulary{i} content{i} words{i} here{i}")
        for i in range(n_unique)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_lsh_bucket_cap_star_expansion(spark):
    docs = _mass_dup_corpus(spark, n_dups=40)
    # capped: the 40-doc bucket exceeds cap=8 → star expansion, 39 pairs
    capped = dedup.dedup_minhash_candidates(docs, max_bucket_allpairs=8).collect()
    dup_pairs = [r for r in capped if r["doc_a"] < 1000 and r["doc_b"] < 1000]
    assert len(dup_pairs) == 39  # linear, not 40*39/2 = 780
    assert all(r["doc_a"] == 0 for r in dup_pairs)  # star anchored at min id
    # uncapped (default 256): all-pairs inside the bucket
    full = dedup.dedup_minhash_candidates(docs).collect()
    full_dup = [r for r in full if r["doc_a"] < 1000 and r["doc_b"] < 1000]
    assert len(full_dup) == 40 * 39 // 2


def test_lsh_bucket_cap_preserves_clusters(spark):
    docs = _mass_dup_corpus(spark, n_dups=40)
    pairs = dedup.dedup_minhash_candidates(docs, max_bucket_allpairs=8)
    clusters = connected_components(pairs).collect()
    dup_cluster = {r["cluster_id"] for r in clusters if r["doc_id"] < 1000}
    assert dup_cluster == {0}  # star pairs keep the bucket one component
    assert sum(1 for r in clusters if r["doc_id"] < 1000) == 40


def test_lsh_bucket_stats(spark):
    docs = _mass_dup_corpus(spark, n_dups=40)
    stats = {r["band"]: r for r in dedup.lsh_bucket_stats(docs, max_bucket_allpairs=8).collect()}
    assert set(stats) == {0, 1, 2}  # identical docs collide in every band
    for r in stats.values():
        assert r["max_bucket"] == 40
        assert r["n_overflow"] == 1
        assert r["docs_in_buckets"] >= 40


def test_ngram_jaccard_stop_shingle_cap(spark):
    """A boilerplate sentence shared by EVERY doc must not force the
    inverted-index join through one hot shingle key; true near-dups
    still surface via their rare shingles."""
    boiler = "all rights reserved contact us for terms of service"
    rows = [
        (1, f"unique alpha beta gamma delta epsilon zeta content one {boiler}"),
        (2, f"unique alpha beta gamma delta epsilon zeta content two {boiler}"),  # near-dup of 1
        (3, f"totally different words nothing shared with others xyz {boiler}"),
    ] + [(10 + i, f"filler doc number{i} padding{i} text{i} body{i} etc{i} {boiler}") for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # capped jaccard UNDER-estimates (dropped boilerplate shingles still
    # count in the union): true j(1,2)=13/19, capped = 6/26 ≈ 0.23
    out = dedup.dedup_ngram_jaccard(docs, threshold=0.2, max_shingle_df=3).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (1, 2) in pairs  # near-dup found through its rare shingles
    # boilerplate-only overlap stays below threshold / is dropped
    assert all(p == (1, 2) for p in pairs)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_two_phase_matches_label_prop_and_oracle(spark):
    edges = (
        [(i, i + 1) for i in range(15)]          # 16-node chain (diameter 15)
        + [(100, 101), (101, 102), (100, 102)]   # triangle
        + [(200, 201)]                           # pair
        + [(300, 301), (302, 301), (303, 300)]   # star-ish
    )
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    want = _uf_components(edges)
    two = {r["doc_id"]: r["cluster_id"] for r in connected_components_two_phase(df).collect()}
    assert two == want
    lp = {r["doc_id"]: r["cluster_id"] for r in connected_components(df, max_iter=30).collect()}
    assert lp == want


def test_label_prop_nonconvergence_raises(spark):
    # diameter 12 chain cannot converge in 2 rounds
    edges = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)
    # allow_partial returns (possibly wrong) labels without raising
    got = connected_components(df, max_iter=2, allow_partial=True).collect()
    assert len(got) == 13


def test_simhash_pairs_identical_docs_hamming_zero(spark):
    same = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, same), (2, same), (3, "completely unrelated legal boilerplate " * 5)],
        ["doc_id", "text"],
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.dedup_simhash_pairs(df).collect()}
    assert pairs[(1, 2)] == 0
    # repeated-token doc 3 differs from 1/2 in far more than 3 bits
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_pairs_bucket_cap_star_expands_flood(spark):
    # 40 identical docs -> every band bucket holds 40 ids; cap at 10
    # degrades to star expansion: every member pairs with the bucket's
    # min id (0), so output is linear in bucket size and the bucket
    # stays one connected component instead of silently vanishing
    df = spark.createDataFrame(
        [(i, "mass duplicated boilerplate page content") for i in range(40)],
        ["doc_id", "text"],
    )
    star = {(r["doc_a"], r["doc_b"]) for r in dedup.dedup_simhash_pairs(df, max_bucket=10).collect()}
    assert star == {(0, i) for i in range(1, 40)}
    assert dedup.dedup_simhash_pairs(df, max_bucket=64).count() == 40 * 39 // 2


def test_triangle_count_known_graph(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles) plus a pendant edge 4-5 (no new triangle)
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 5)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    row = triangle_count(df).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (5, 7, 4)


def test_triangle_count_orientation_handles_hub(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import triangle_count

    # star graph: hub 0 to 50 leaves -> 0 triangles even though the
    # hub's degree is 50 (degree orientation points every edge AT the
    # hub, so no wedge enumerates from it)
    df = spark.createDataFrame([(0, i) for i in range(1, 51)], ["doc_a", "doc_b"])
    row = triangle_count(df).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (51, 50, 0)


def test_srp_identical_vectors_pair_with_cos_one(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import similarity

    v = [float((i * 37 % 13) - 6) for i in range(64)]
    w = [float(-x) for x in v]  # antipodal: opposite on every plane
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, w)], ["vec_id", "embedding"]
    )
    pairs = {(r["vec_a"], r["vec_b"]): r["cos_sim"]
             for r in similarity.dedup_embedding_srp(df).collect()}
    assert pairs[(1, 2)] == 1.0
    # antipodal vector never lands in the same bucket as v (all 16
    # sign bits differ) and would fail the cosine gate anyway
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_srp_bucket_cap_star_expands_flood(spark):
    # 40 identical vectors -> both SRP band buckets hold all 40 ids; a
    # cap of 10 degrades to star expansion around the min id (0)
    from mapreduce_faultolerrant_localityaware_spark.operators import similarity

    v = [float((i * 37 % 13) - 6) for i in range(64)]
    df = spark.createDataFrame([(i, v) for i in range(40)], ["vec_id", "embedding"])
    star = similarity.dedup_embedding_srp(df, max_bucket=10).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in star} == {(0, i) for i in range(1, 40)}
    assert len(star) == 39 and all(r["cos_sim"] == 1.0 for r in star)
    assert similarity.dedup_embedding_srp(df, max_bucket=64).count() == 40 * 39 // 2


def test_srp_fingerprint_deterministic(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(i + d) for d in range(64)]) for i in range(5)],
        ["vec_id", "embedding"],
    )
    a = {r["vec_id"]: r["srp"] for r in similarity.srp_fingerprint(df).collect()}
    b = {r["vec_id"]: r["srp"] for r in similarity.srp_fingerprint(df).collect()}
    assert a == b and all(0 <= x < 2**16 for x in a.values())


def test_simhash_64bit_collision_rate_drop(spark, sf_dir):
    """The round-6 fingerprint-width upgrade: at >=1e8 docs a 32-bit
    SimHash space is birthday-saturated; even at corpus-sample scale
    (500 docs) 32 bits already collides unrelated docs into identical
    fingerprints, while 64 bits keeps non-duplicates distinct.  Guards
    both the width and its portability packing (bit 63 = signed -2^63).
    """
    from pyspark.sql import functions as F

    from mapreduce_faultolerrant_localityaware_spark.sources.scans import scan

    docs = scan(spark, sf_dir, "documents")
    n = docs.count()
    d64, neg64 = (
        dedup.simhash(docs)
        .select(
            F.countDistinct("simhash"),
            F.sum((F.col("simhash") < 0).cast("long")),
        )
        .first()
    )
    d32 = dedup.simhash(docs, bits=32).select(F.countDistinct("simhash")).first()[0]
    assert dedup.SIMHASH_BITS == 64 and dedup.SIMHASH_BANDS == 8
    # strictly fewer exact-fingerprint collisions at 64 bits, by at least 2x
    assert d64 > d32
    assert (n - d64) * 2 < (n - d32)
    # the packing really uses the top bit: ~half of natural-language
    # fingerprints have bit 63 set and thus come out negative
    assert 0 < neg64 < n


def test_substring_spans_hot_span_every_doc(spark):
    """Worst-case skew for the digest-frequency window: ONE span text
    shared by EVERY doc (the boilerplate-header case) — all its digest
    rows land in a single window partition.  Output must stay exact:
    the shared window positions are duplicated in every doc, the
    unique tails are not."""
    from mapreduce_faultolerrant_localityaware_spark.operators import dedup

    n = 500
    shared = "lorem ipsum dolor sit amet boilerplate header"  # 7 tokens
    # letters-only uniqueness — the tokenizer strips digit runs (Q2),
    # so numeric suffixes would collapse every tail to the same tokens
    def tag(i):
        return "".join(chr(ord("a") + int(c)) for c in str(i))
    uniq = [" ".join(f"{p}{tag(i)}" for p in "uvwxyzq") for i in range(n)]
    rows = [(i, f"{shared} {uniq[i]}") for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.substring_spans(df, window=7).collect()
    assert len(out) == n
    for r in out:
        # 14 tokens -> 8 windows; only the pure-shared window (pos 0)
        # exists in every doc, windows 1..7 mix shared+unique tokens
        assert r["n_windows"] == 8
        assert r["dup_windows"] == 1
        assert r["dup_ratio"] == 0.125


def test_simhash_chunk_votes_match_string_formulation(spark):
    """The r9 integer shift/mask vote derivation must produce
    BIT-IDENTICAL fingerprints to the reference string-comparison
    formulation (_simhash_vote) — same md5 digits, same direction
    bits, only the evaluation strategy differs."""
    from pyspark.sql import functions as F

    from mapreduce_faultolerrant_localityaware_spark.functions.text import tokens
    from mapreduce_faultolerrant_localityaware_spark.operators import dedup
    from mapreduce_faultolerrant_localityaware_spark.operators.dedup import (
        _simhash_vote,
        ensure_parallelism,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words entirely àccénted tökens"),
        (4, "repeat repeat repeat repeat repeat singleton"),
        (5, "x"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def ref64(docs):
        def votes(h):
            return F.array(*[_simhash_vote(h, b) for b in range(64)])

        base = ensure_parallelism(docs).select(
            F.col("doc_id"),
            F.transform(tokens("text", lowercase=True), lambda t: F.md5(t)).alias("hs"),
        )
        counts = F.aggregate(
            "hs",
            F.array_repeat(F.lit(0), 64),
            lambda acc, h: F.zip_with(acc, votes(h), lambda a, v: a + v),
        )
        powers = F.array(
            *[F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long") for b in range(64)]
        )
        packed = F.aggregate(
            F.zip_with(
                counts, powers,
                lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return base.select("doc_id", packed.alias("simhash"))

    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    want = {r["doc_id"]: r["simhash"] for r in ref64(df).collect()}
    assert got == want
