"""Multimodal column handling — image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched Pandas UDFs
(``mapInPandas``).

The container has no image/audio codecs, so the DECODE step is
stubbed: ``_stub_from_digest`` produces a deterministic fake feature
vector from the bytes' sha256.  Everything
around the stub — schema, batch iteration, partition-parallel
execution, output typing — is the real Spark plumbing a production
decode would use unchanged.

Scale shape: mapInPandas streams Arrow record batches through the
Python worker, so peak memory is one batch (bounded by
spark.sql.execution.arrow.maxRecordsPerBatch), not one partition, and
each partition decodes independently — embarrassing parallelism, no
shuffle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: typed metadata schema carried alongside every media blob
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
    ]
)

FEATURE_DIM = 8

DECODED_SCHEMA = T.StructType(
    list(MEDIA_META_SCHEMA.fields)
    + [
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
    ]
)


def attach_media_meta(df: DataFrame) -> DataFrame:
    """Typed metadata for a binary column — pure built-ins (codegen'd):
    length + sha256 stay JVM-side; no Python touches the bytes."""
    return df.select(
        F.col("media_id"),
        F.col("blob"),
        F.length(F.col("blob")).cast("long").alias("byte_len"),
        F.lower(F.sha2(F.col("blob"), 256)).alias("sha256"),
    )


def _stub_from_digest(digest: bytes) -> tuple[int, int, list[float]]:
    """Deterministic fake decode from a payload's sha256 digest:
    (width, height, FEATURE_DIM floats in [0,1)).  Stands in for
    PIL/libjpeg — the real implementation swaps ONLY this function;
    :func:`decode_media` hashes each payload once for both this and
    the sha256 metadata column."""
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    # round k/65536 to 6 dp HALF-UP via exact integer arithmetic:
    # Python's round() is banker's (0.2578125 → 0.257812) but SQL
    # engines round half away from zero (→ 0.257813); ties are real at
    # 16-bit resolution, so the tie rule must match the oracle's.
    feats = [
        ((int.from_bytes(digest[2 + 2 * i : 4 + 2 * i], "big") * 2_000_000 + 65536) // 131072)
        / 1e6
        for i in range(FEATURE_DIM)
    ]
    return width, height, feats


def decode_media(df: DataFrame) -> DataFrame:
    """binary column → decoded features via mapInPandas (Arrow batches)."""
    cols = [f.name for f in DECODED_SCHEMA.fields]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # columnar batch assembly + ONE sha256 per blob: the digest
        # feeds both the stub decode (its digest-derived arithmetic is
        # the oracle contract) and the hex sha256 column, with no
        # per-row dict materialization.
        for pdf in batches:
            ids, types, lens, shas, ws, hs, fs = [], [], [], [], [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                if blob is None:
                    # NULL payload = missing media object: nothing to
                    # decode, emit nothing (degenerate-surface sweep, r9)
                    continue
                data = bytes(blob)
                digest = hashlib.sha256(data).digest()
                w, h, feats = _stub_from_digest(digest)
                ids.append(int(mid))
                types.append("image")
                lens.append(len(data))
                shas.append(digest.hex())
                ws.append(w)
                hs.append(h)
                fs.append(feats)
            # object dtype throughout: an EMPTY python-list column
            # would otherwise default to float64 and Arrow refuses the
            # float64 → list<double> conversion for the features
            # column on all-NULL (degenerate) batches; object-dtype
            # columns are exactly what the old list-of-dicts frame
            # produced, so the Arrow path is unchanged
            yield pd.DataFrame(
                {
                    c: pd.Series(v, dtype="object")
                    for c, v in zip(cols, (ids, types, lens, shas, ws, hs, fs))
                },
                columns=cols,
            )

    return df.select("media_id", "blob").mapInPandas(_decode, DECODED_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plumbing*: emits one row per sampled frame
    index (codec-free — frame count faked from byte_len).  Shows the
    explode-shaped output schema a real sampler would produce."""
    n_frames = (F.length(F.col("blob")) / 1024 + 1).cast("int")
    return df.select(
        F.col("media_id"),
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"),
    )


def resize_media(decoded: DataFrame) -> DataFrame:
    """Resize step over DECODED media: rescale the feature vector by
    the area ratio target/(width·height) — the deterministic stand-in
    for a real bilinear resample (which would swap only the per-row
    kernel, exactly like ``_stub_from_digest``).

    Runs entirely JVM-side on the decode output (higher-order array
    transform, codegen'd): the Python/Arrow boundary is crossed once at
    decode; every downstream media transform stays in the JVM — the
    composition a production pipeline wants (decode once, derive many).
    """
    ratio = F.lit(1024.0) / (
        F.col("width").cast("double") * F.col("height").cast("double")
    )
    return decoded.select(
        "media_id",
        F.lit(32).alias("resized_w"),
        F.lit(32).alias("resized_h"),
        F.transform("features", lambda x: F.round(x * ratio, 6)).alias("features_resized"),
    )


def phash_fingerprint(decoded: DataFrame) -> DataFrame:
    """Perceptual-hash stage of an image dedup pipeline: threshold
    each decoded feature at 0.5 into one bit and pack them into a
    single integer fingerprint — the LAION-style pHash pass that lets
    billions of images dedup by 64-bit integer instead of by pixels.
    (The real pipeline swaps the stub decode for DCT coefficients;
    everything downstream of the feature vector — thresholding,
    packing, bucketing — is unchanged.)  JVM-side expression over the
    decoded relation, no second Python hop after the decode.

    Returns ``media_id, phash (bigint)``; equal fingerprints are the
    dedup buckets (band the bits as in dedup_simhash_pairs for a
    within-hamming search at scale).
    """
    bits = [
        F.when(F.col("features")[i] >= 0.5, F.lit(1 << i)).otherwise(0)
        for i in range(FEATURE_DIM)
    ]
    acc = bits[0]
    for b in bits[1:]:
        acc = acc + b
    return decoded.select(F.col("media_id"), acc.cast("long").alias("phash"))


def modality_alignment(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Cross-modality referential audit: which documents have an
    embedding row and which vectors are orphaned — the first check a
    multimodal/RAG pipeline runs after an embedding batch job, since
    a partial failure silently leaves text without vectors (retrieval
    misses) or vectors without text (index bloat).

    ONE full outer equi-join on the shared key, ids only (neither
    text nor vectors ride the shuffle), then a 3-row aggregate:
    ``matched`` / ``text_only`` / ``vector_only`` with corpus share.

    Returns ``status, n, pct`` (pct of the union key space, 6 dp).
    """
    # literal presence indicators, NOT key-nullness after the join: a
    # docs row with a NULL id is unmatched with BOTH keys null, and
    # key-based classification would count that text row as
    # 'vector_only' (it has to fall somewhere) — the indicator is
    # non-null exactly when the side's ROW is present.
    d = docs.select(F.col("doc_id").alias("dk"), F.lit(1).alias("has_d"))
    e = emb.select(F.col("vec_id").alias("ek"), F.lit(1).alias("has_e"))
    j = d.join(e, d["dk"] == e["ek"], "full_outer")
    status = (
        F.when(F.col("has_d").isNotNull() & F.col("has_e").isNotNull(), "matched")
        .when(F.col("has_d").isNotNull(), "text_only")
        .otherwise("vector_only")
    )
    counts = j.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "status", "n", F.round(F.col("n") / F.col("total"), 6).alias("pct")
    )


def phash_dedup_report(fingerprints: DataFrame) -> DataFrame:
    """Exact-pHash image dedup summary over :func:`phash_fingerprint`
    output — the LAION-style first pass: identical fingerprints are
    duplicate buckets; each bucket elects its min-id canonical copy
    and the report carries the dedup accounting (how much of the
    media corpus survives).  One row per fingerprint bucket plus the
    exact keep/drop counts — the media twin of dedup_report.

    Scale shape: one fingerprint-keyed partial-agged groupBy (64-bit
    integers ride the exchange, never pixels) — the entire dedup is
    the wordcount shape at any corpus size.  Returns ``(phash,
    n_copies, canonical_id, n_dropped)`` per bucket, duplicates
    first, then fingerprint order for determinism.
    """
    return (
        fingerprints.groupBy("phash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("media_id").cast("long").alias("canonical_id"),
        )
        .select(
            "phash",
            "n_copies",
            "canonical_id",
            (F.col("n_copies") - 1).cast("long").alias("n_dropped"),
        )
    )
