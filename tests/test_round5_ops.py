"""Round-5 operators: chunk-level dedup, token-budget mixture
sampling, int8 embedding quantization, and the stream-stream interval
join (streaming == batch equivalence on bounded input)."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators.corpus import mixture_sample
from mapreduce_faultolerrant_localityaware_spark.operators.dedup import dedup_chunks
from mapreduce_faultolerrant_localityaware_spark.operators.similarity import embedding_quantize


# ---- dedup_chunks ----

def test_dedup_chunks_removes_cross_doc_repeats(spark):
    # chunk size 3: doc 0 = [abc def ghi][jkl mno pqr]; doc 1 repeats
    # doc 0's first chunk then adds its own; doc 2 is doc 0 verbatim.
    docs = spark.createDataFrame(
        [
            (0, "abc def ghi jkl mno pqr"),
            (1, "abc def ghi xyz uvw rst"),
            (2, "abc def ghi jkl mno pqr"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_chunks(docs, chunk_tokens=3).collect()}
    assert out[0]["n_chunks"] == 2 and out[0]["n_kept"] == 2
    assert out[0]["text_dedup"] == "abc def ghi jkl mno pqr"
    # doc 1 loses the boilerplate chunk, keeps its own
    assert out[1]["n_kept"] == 1 and out[1]["text_dedup"] == "xyz uvw rst"
    # doc 2 is fully deduplicated away
    assert out[2]["n_kept"] == 0 and out[2]["text_dedup"] == ""


def test_dedup_chunks_within_doc_repeat_and_tail(spark):
    # one doc: chunk "a b c" appears twice; trailing partial chunk kept
    docs = spark.createDataFrame([(7, "a b c a b c tail")], ["doc_id", "text"])
    row = dedup_chunks(docs, chunk_tokens=3).collect()[0]
    assert row["n_chunks"] == 3  # ceil(7/3)
    assert row["n_kept"] == 2  # second "a b c" dropped
    assert row["text_dedup"] == "a b c tail"


def test_dedup_chunks_first_occurrence_wins_by_doc_order(spark):
    docs = spark.createDataFrame(
        [(10, "same same same"), (3, "same same same")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in dedup_chunks(docs, chunk_tokens=3).collect()}
    assert out[3]["n_kept"] == 1  # min doc_id keeps the chunk
    assert out[10]["n_kept"] == 0


# ---- mixture_sample ----

def test_mixture_sample_budget_and_determinism(spark):
    rows = [(i, "s%d" % (i % 3), "tok " * (5 + i % 7)) for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = mixture_sample(docs, budget_tokens=20)
    got = out.collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    for src, picked in by_src.items():
        assert sum(r["n_tokens"] for r in picked) <= 20
        assert max(r["cum_tokens"] for r in picked) <= 20
    # deterministic under input reordering
    got2 = mixture_sample(
        docs.orderBy(F.desc("doc_id")), budget_tokens=20
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_mixture_sample_greedy_prefix_is_maximal(spark):
    # every doc has 10 tokens; budget 25 → exactly 2 docs per source
    rows = [(i, "only", "t " * 10) for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = mixture_sample(docs, budget_tokens=25).collect()
    assert len(got) == 2
    assert {r["cum_tokens"] for r in got} == {10, 20}


# ---- embedding_quantize ----

def test_embedding_quantize_known_values(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.0]), (2, [0.5, 1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in embedding_quantize(emb, dim=3).collect()}
    # scales = [1.0, 2.0, 0.0]
    assert out[1]["qvec"] == [127, -127, 0]
    # 0.5/1*127 = 63.5 → half-up 64; 1.0/2*127 = 63.5 → 64
    assert out[2]["qvec"] == [64, 64, 0]
    # doc 1 dequantizes exactly; doc 2 error = |0.5-64/127| etc. averaged
    assert out[1]["mae"] == 0.0
    exp = (abs(0.5 - 64 / 127.0 * 1.0) + abs(1.0 - 64 / 127.0 * 2.0) + 0.0) / 3
    assert abs(out[2]["mae"] - round(exp, 6)) < 1e-9


def test_embedding_quantize_roundtrip_error_bound(spark):
    # random-ish but deterministic vectors: dequant error ≤ scale/254 per dim
    rows = [(i, [((i * 37 + j * 11) % 19 - 9) / 4.5 for j in range(4)]) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    maxabs = [max(abs(r[1][j]) for r in rows) for j in range(4)]
    bound = sum(s / 254.0 for s in maxabs) / 4 + 1e-9
    for r in embedding_quantize(emb, dim=4).collect():
        assert r["mae"] <= bound + 5e-7  # +rounding slack


# ---- stream-stream interval join ----

def test_interval_join_streams_equals_batch(spark, tmp_path):
    from mapreduce_faultolerrant_localityaware_spark.streaming.enrich_stream import interval_join_streams
    from mapreduce_faultolerrant_localityaware_spark.streaming.materialize import run_to_batch

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def ts(mins):
        return t0 + datetime.timedelta(minutes=mins)

    rows = [
        (1, ts(0), 100, "click"),
        (2, ts(3), 100, "view"),   # within 5 min of click 1 → pair
        (3, ts(20), 100, "view"),  # outside tolerance of click 1
        (4, ts(21), 100, "click"),  # pairs with view 3 (1 min)
        (5, ts(2), 200, "view"),   # other user: no click → no pair
    ]
    src = os.path.join(str(tmp_path), "events.parquet")
    spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src + "*")
    clicks = stream.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = stream.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    joined = interval_join_streams(clicks, views)
    out = run_to_batch(
        joined.select(
            F.col("l.event_id").alias("click_id"), F.col("r.event_id").alias("view_id")
        ),
        spark,
        output_mode="append",
    )
    assert sorted(map(tuple, out.distinct().collect())) == [(1, 2), (4, 3)]


# ---- dedup_incremental ----

def test_dedup_incremental_semantics(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators.dedup import dedup_incremental

    base = spark.createDataFrame(
        [(1, "seen before"), (2, "base only text")], ["doc_id", "text"]
    )
    delta = spark.createDataFrame(
        [
            (10, "seen before"),      # in base → not kept
            (11, "brand new text"),   # new, first in delta → kept
            (12, "brand new text"),   # duplicate within delta → not kept
            (13, "Seen   BEFORE"),    # normalization: matches base
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup_incremental(base, delta).collect()}
    assert out[10]["in_base"] and not out[10]["keep"]
    assert not out[11]["in_base"] and out[11]["keep"]
    assert not out[12]["in_base"] and not out[12]["keep"]
    assert out[13]["in_base"] and not out[13]["keep"]


# ---- key_skew_report ----

def test_key_skew_report_ranks_heavy_keys(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators.relational import key_skew_report

    rows = [(i, "hot") for i in range(70)] + [(i, "warm") for i in range(20)] + [
        (i, "k%d" % i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["x", "k"])
    out = key_skew_report(df, "k", top_k=3).collect()
    assert [r["key"] for r in out] == ["hot", "warm", "k0"]
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert abs(out[0]["share"] - 0.7) < 1e-9
    assert out[0]["n"] == 70


# ---- multimodal resize ----

def test_resize_media_area_ratio(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators.multimodal import decode_media, resize_media

    df = spark.createDataFrame([(1, bytearray(b"hello"))], ["media_id", "blob"])
    decoded = decode_media(df)
    w, h, feats = decoded.select("width", "height", "features").collect()[0]
    out = resize_media(decoded).collect()[0]
    assert out["resized_w"] == 32 and out["resized_h"] == 32
    ratio = 1024.0 / (w * h)
    assert all(
        abs(got - round(f * ratio, 6)) < 1e-9
        for got, f in zip(out["features_resized"], feats)
    )


# ---- ann_sq8 ----

def test_ann_sq8_matches_python_int_scoring(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators.similarity import ann_sq8

    rows = [(i, [((i * 31 + j * 7) % 17 - 8) / 3.0 for j in range(6)]) for i in range(25)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.where("vec_id < 2")
    got = ann_sq8(emb, queries, k=3, dim=6).collect()

    # python oracle: same quantization + int dot product
    scales = [max(abs(r[1][j]) for r in rows) for j in range(6)]

    def quant(v):
        out = []
        for x, s in zip(v, scales):
            if s == 0:
                out.append(0)
            else:
                y = x / s * 127
                out.append(int(y + 0.5) if y >= 0 else -int(-y + 0.5))
        return out

    qv = {r[0]: quant(r[1]) for r in rows}
    for qid in (0, 1):
        scores = sorted(
            ((sum(a * b for a, b in zip(qv[qid], qv[nid])), nid) for nid in qv if nid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        mine = sorted(
            [(r["score"], r["neighbor_id"]) for r in got if r["query_id"] == qid],
            key=lambda t: (-t[0], t[1]),
        )
        assert mine == scores


# ---- graph_bfs ----

def test_bfs_hops_path_graph(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators.graph import bfs_hops

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["doc_a", "doc_b"]
    )
    seeds = spark.createDataFrame([(1,), (10,), (99,)], ["doc_id"])
    got = {r["node"]: r["hops"] for r in bfs_hops(pairs, seeds).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 10: 0, 11: 1, 99: 0}
    # node 5 is 4 hops out — beyond the horizon, absent
    assert 5 not in got


# ---- events funnel ----

def test_funnel_ordering_semantics(spark):
    from mapreduce_faultolerrant_localityaware_spark.operators.events import funnel

    t0 = datetime.datetime(2026, 1, 1)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [
        # user 1: full ordered funnel
        (1, ts(0), "signup"), (1, ts(5), "click"), (1, ts(9), "purchase"),
        # user 2: click BEFORE signup → funnel stops at signup
        (2, ts(5), "click"), (2, ts(6), "signup"),
        # user 3: purchase before the post-signup click → stops at click
        (3, ts(0), "signup"), (3, ts(1), "purchase"), (3, ts(2), "click"),
        # user 4: click at EXACTLY the signup ts (>= counts it), no purchase
        (4, ts(0), "signup"), (4, ts(0), "click"),
        # user 5: never signed up
        (5, ts(0), "click"), (5, ts(1), "purchase"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = funnel(ev).collect()[0]
    assert out["n_signup"] == 4   # users 1,2,3,4
    assert out["n_click"] == 3    # users 1,3,4 (user 2's click precedes signup)
    assert out["n_purchase"] == 1  # only user 1 purchased after the click
