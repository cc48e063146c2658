"""Streaming enrichment operators: sliding-window aggregation,
deduplicated update-mode counts, interval joins and streaming
near-duplicate filters.

All are incremental variants of the batch surface (the reference is
batch-only, SURVEY §1.4); each keeps bounded state under unbounded
input — the property that matters when the stream is a firehose:

- sliding windows: state is windows-per-slide within the watermark
  horizon — memory is O(keys × windows_in_horizon).
- streaming dedup: `dropDuplicatesWithinWatermark` keeps one state
  entry per key seen inside the watermark, then expires it — exact
  dedup under unbounded input with bounded memory, the streaming
  analog of the reference's replay guard (core/map_reduce.go:167-182,
  which dedups re-sent chunk shares by id).

A stream-static join is Spark's own ``stream.join(F.broadcast(dim),
on, how)``: the static dimension is broadcast per micro-batch, so the
stream side never shuffles for the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    SIMHASH_BANDS,
    _simhash_bands,
    content_hash,
    simhash,
    simhash_pair_bands,
)


def sliding_event_counts(
    events: DataFrame,
    window_len: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window counts: each event lands in window_len/slide
    overlapping windows; watermark bounds retained window state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window_len, slide).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def deduped_update_counts(
    events: DataFrame,
    keys: list[str],
    group_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Deduped UPDATE-mode counts — the everyday ingestion dashboard
    semantic: ``dropDuplicatesWithinWatermark`` drops a late duplicate
    that arrives inside the watermark horizon, a fresh key flows into
    the downstream count which updates IN PLACE (update mode re-emits
    the group's new total), and a key whose dedup state has expired
    (watermark passed its event time + delay) is legitimately counted
    again — the documented at-most-delay dedup guarantee, not a bug.

    Chained stateful operators (dedup state → agg state) with ONE
    watermark column: Spark 4 runs this combination in update mode;
    both states are watermark-bounded, so state size tracks the
    horizon, not the stream length — the 100 TB/day posture.
    Update-mode emissions of a count are monotone per group, so the
    materialized final state is ``max`` per group (see the
    ``streaming_dedup_update`` gate query).
    """
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return deduped.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_unique")
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM interval join: pair left/right events with the
    same key whose timestamps lie within ``5 minutes`` of each other.
    Both sides are watermarked and the join condition is
    time-range-bounded, so each side's buffered state is only the
    watermark+5-minute horizon — the requirement for an unbounded
    run (without the range bound Spark would have to buffer a whole
    stream forever; it rejects such joins in append mode).

    ``how="inner"``: matches emit as soon as both rows have arrived;
    the watermark governs state EVICTION, not emission.

    ``how="leftOuter"`` (round 8, VERDICT r7 item 5): matched pairs
    emit eagerly like inner; an UNMATCHED left row emits null-extended
    only when the watermark closes its join window — i.e. when the
    global eviction watermark (min of both sides' max event time,
    minus ``10 minutes``) passes ``l.ts + 5 minutes``, proving no
    future right row can match.  Left rows whose window the final
    watermark never closes remain in state and are NOT emitted — the
    bounded-replay consequence of the same contract that keeps state
    bounded on an unbounded stream.  Spark emits these null rows in
    the watermark-advancing batch AFTER the data batch; availableNow
    replays include that no-data batch, so a single-file bounded
    replay is deterministic: matched ∪ {unmatched left with
    l.ts + 5 min < min(max_l, max_r) − 10 min} (boundary pinned
    by tests/test_streaming_join_outer.py).

    ``how="fullOuter"``: the leftOuter contract applied to BOTH sides
    — matched pairs emit eagerly; an unmatched row on EITHER side
    emits null-extended once the eviction watermark strictly passes
    its join-window end (``side.ts + 5 minutes < w``), and rows whose
    window the final watermark never closes stay in state, unemitted
    (both boundaries pinned by tests/test_streaming_join_outer.py).

    A bounded replay equals the batch join of the same inputs ONLY
    when the replay arrives in a single micro-batch (or in event-time
    order across micro-batches): with multiple unordered
    micro-batches, a row more than ``10 minutes`` older than the
    observed max event time can be evicted before its partner arrives,
    silently dropping that pair — exactly the late-data loss the
    watermark contract defines.  Drive bounded replays with
    availableNow + one-file-per-batch ordering (as run_to_batch does),
    or widen the ``10 minutes`` watermark to cover the input's worst-case disorder.
    """
    lw = left.withWatermark("ts", "10 minutes").alias("l")
    rw = right.withWatermark("ts", "10 minutes").alias("r")
    return lw.join(
        rw,
        F.expr(
            "l.user_id = r.user_id AND "
            "r.ts BETWEEN l.ts - INTERVAL 5 minutes"
            " AND l.ts + INTERVAL 5 minutes"
        ),
        how,
    )


def incremental_dedup_stream(delta: DataFrame, base: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.dedup.dedup_incremental``: a
    STREAM of newly crawled documents dedups against the STATIC
    accepted corpus — the steady-state shape of a production ingestion
    pipeline run continuously instead of per-snapshot.

    Plan: digest both sides (md5 of normalized text — the stream never
    carries text past this projection), stream-static LEFT ANTI join
    against the base digest set (broadcast per micro-batch, so a base
    refresh is picked up without restarting the query), then a
    streaming aggregation electing min-id per surviving digest.  The
    min-id election (complete mode) rather than ``dropDuplicates``
    keeps the result DETERMINISTIC under any arrival order — batch
    parity is exact, not arrival-dependent.  State is one row per
    distinct surviving digest; under unbounded input, bound it by
    rotating the query per ingestion epoch (each epoch's survivors
    merge into the base, exactly like the batch snapshot pipeline).

    Returns ``content_hash, keep_id, n_delta``.
    """
    bh = base.select(content_hash("text")).distinct()
    dh = delta.select(F.col("doc_id"), content_hash("text"))
    return (
        dh.join(F.broadcast(bh), "content_hash", "left_anti")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_delta"),
        )
    )


def fuzzy_dedup_stream(delta: DataFrame, base: DataFrame) -> DataFrame:
    """Streaming twin of ``dedup_incremental_fuzzy``: a STREAM of new
    documents SimHash-matches against the STATIC accepted corpus,
    emitting every (delta, base) near-dup pair within Hamming distance 3
    — and it is fully STATELESS, so it runs in append mode with zero
    streaming state: instead of a stateful pair-distinct, each pair is
    emitted exactly once by keeping only its FIRST matching band,
    which is computable IN-ROW from the two fingerprints already on
    the joined row (an array of per-band equality bits +
    array_position).  The aggregation the batch operator runs on top
    (per-delta match counts) is the consumer's one-liner; the stream's
    job is the match feed.

    Scale shape: per-row fingerprints on both sides (simhash's
    zero-shuffle expression), the static base collapses to
    (band, key, id, fingerprint) integers behind an aggregation
    barrier and BROADCASTS per micro-batch (base refreshes are picked
    up live), and the 16-bit adjacent-band keys bound bucket fan-out
    exactly as in the batch operator.
    """
    base_sig = simhash(base).groupBy("doc_id").agg(
        F.max("simhash").alias("simhash")
    )
    bb = simhash_pair_bands(base_sig, "doc_id", "base", 3)
    db = simhash_pair_bands(
        simhash(delta), "doc_id", "delta", 3
    )
    j = db.join(F.broadcast(bb), ["band", "bv"])
    hamming = F.bit_count(F.col("delta_sim").bitwiseXOR(F.col("base_sim")))
    band_eq = F.zip_with(
        _simhash_bands(16, SIMHASH_BANDS - 1, "delta_sim"),
        _simhash_bands(16, SIMHASH_BANDS - 1, "base_sim"),
        lambda d, b: d == b,
    )
    first_band = F.array_position(band_eq, True) - 1
    return (
        j.filter(hamming <= 3)
        .filter(F.col("band") == first_band)
        .select(
            "delta_id",
            "base_id",
            hamming.cast("long").alias("hamming"),
        )
    )
