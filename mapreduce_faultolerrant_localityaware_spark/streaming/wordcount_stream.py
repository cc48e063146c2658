"""Structured Streaming variants of the engine's query class.

The reference is single-shot batch (SURVEY §1.4 — no streaming
constructs); these operators are the natural streaming extension of
its pipeline: the same tokenize → group-aggregate plan run
incrementally with watermarked state.  The reducer's incremental
accumulation across Reduce() RPCs (core/map_reduce.go:187-189) is the
moral ancestor: Structured Streaming's stateful aggregation does the
same accumulate-per-key, but with checkpointed, fault-tolerant state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.wordcount import token_counts


def streaming_wordcount(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """Streaming DataFrame of text lines → running word counts.

    Complete/update-mode aggregation; pair with a sink via::

        q = streaming_wordcount(stream).writeStream.outputMode("update")...
    """
    return token_counts(lines, text_col, token="word", n="count")


def windowed_event_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window event counts with a watermark for late data.

    State for windows older than the watermark is dropped — bounded
    memory under unbounded input (the scale-critical property).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window_len).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """NATIVE session-window aggregation — ``F.session_window`` with a
    dynamic gap close, the built-in sibling of the custom
    applyInPandasWithState sessionizer (sessionize_stream.py): Spark's
    state store merges overlapping AND adjacent per-event windows
    ``[t, t+gap)`` itself, so a session is a maximal run of events
    with consecutive gaps of AT MOST ``30 minutes`` (an event landing exactly
    at the previous session's end EXTENDS it — empirically pinned in
    tests/test_streaming_session_window.py; the break is strictly
    greater), start = min event time, end = max event time + gap.

    Watermark bounds state: sessions whose end falls behind the
    watermark finalize and their state drops — unbounded input, bounded
    memory (the state-expiry boundary is pinned in
    tests/test_streaming_session_window.py).  Under the bounded
    availableNow replay gate the final result must equal the batch
    gaps-and-islands sessionization of the same input — the oracle.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("win"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def quality_filter_stream(docs: DataFrame) -> DataFrame:
    """Streaming ingestion-time quality gate: score each arriving doc
    with the batch quality heuristics (same expression tree —
    textstats.quality_score works unchanged on a streaming relation
    because it is a pure stateless projection) and pass only docs at
    or above 0.5.  The shape every live crawl pipeline
    runs: filter at ingest, BEFORE anything is stored or shuffled —
    stateless, so it needs no watermark, no state store, and scales
    as a pure map over arriving files.
    """
    from ..operators.textstats import quality_score

    scored = quality_score(docs)
    return scored.filter(F.col("quality") >= 0.5)


def ohlc_stream(events: DataFrame) -> DataFrame:
    """Streaming OHLC bars: the SAME associative struct-min/max
    aggregation as the batch ``temporal.resample_ohlc``, over
    watermarked tumbling windows — because every per-bucket statistic
    is an associative aggregate, the operator is stream-ready without
    any reformulation (open/close via total-order (ts, id) struct
    extrema, no first/last window functions, which streaming cannot
    run).  State per key×window is one small struct; the watermark
    bounds how many windows stay open.
    """
    s = F.struct(
        F.col("ts"), F.col("event_id").alias("eid"), F.col("value").alias("v")
    )
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), F.col("user_id"))
        .agg(
            F.round(F.min(s)["v"], 6).alias("open"),
            F.round(F.max(s)["v"], 6).alias("close"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max("value"), 6).alias("high"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
            "user_id",
            "open",
            "close",
            "low",
            "high",
            "n_events",
        )
    )
