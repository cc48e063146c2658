"""Multimodal plumbing tests — binary columns, typed metadata, and the
Arrow-batched decode path (deterministic stub in place of real codecs).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from mapreduce_faultolerrant_localityaware_spark.operators import multimodal


@pytest.fixture()
def media_df(spark):
    rows = [(i, bytes([i % 256]) * (100 + i)) for i in range(10)]
    return spark.createDataFrame(rows, ["media_id", "blob"])


def test_attach_media_meta_jvm_side(media_df):
    out = multimodal.attach_media_meta(media_df).collect()
    for r in out:
        assert r["byte_len"] == 100 + r["media_id"]
        want = hashlib.sha256(bytes([r["media_id"] % 256]) * r["byte_len"]).hexdigest()
        assert r["sha256"] == want


def test_decode_media_stub_schema_and_determinism(media_df):
    out = multimodal.decode_media(media_df)
    assert [f.name for f in out.schema.fields] == [
        "media_id", "media_type", "byte_len", "sha256", "width", "height", "features",
    ]
    rows1 = {r["media_id"]: r for r in out.collect()}
    rows2 = {r["media_id"]: r for r in multimodal.decode_media(media_df).collect()}
    for k in rows1:
        assert rows1[k]["features"] == rows2[k]["features"]
        assert len(rows1[k]["features"]) == multimodal.FEATURE_DIM
        assert 64 <= rows1[k]["width"] < 256


def test_frame_sample_plan_explodes(media_df):
    out = multimodal.frame_sample_plan(media_df, every_n=1)
    counts = {r["media_id"]: r["n"] for r in out.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    assert all(n >= 1 for n in counts.values())


def test_phash_fingerprint_bits(spark):
    """pHash packs feature>=0.5 threshold bits; identical blobs get
    identical fingerprints (the dedup bucket property)."""
    from mapreduce_faultolerrant_localityaware_spark.operators import multimodal

    rows = [(1, b"same-bytes"), (2, b"same-bytes"), (3, b"other-bytes")]
    df = spark.createDataFrame(rows, ["media_id", "blob"])
    decoded = multimodal.decode_media(df)
    out = {r["media_id"]: r["phash"] for r in multimodal.phash_fingerprint(decoded).collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < 256
    # bits agree with the decoded features
    feats = {r["media_id"]: r["features"] for r in decoded.collect()}
    expect = sum((1 << i) for i, f in enumerate(feats[3]) if f >= 0.5)
    assert out[3] == expect
