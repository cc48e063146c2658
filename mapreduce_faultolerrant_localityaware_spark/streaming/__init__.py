from .enrich_stream import (
    deduped_update_counts,
    fuzzy_dedup_stream,
    incremental_dedup_stream,
    interval_join_streams,
    sliding_event_counts,
)
from .idempotent_sink import (
    IdempotentBatchSink,
    read_committed,
    read_latest_per_key,
    run_idempotent_replay,
)
from .late_data import late_window_counts, stage_three_batch_input
from .materialize import run_to_batch, stream_table
from .sessionize_stream import sessionize_stream
from .wordcount_stream import (
    ohlc_stream,
    quality_filter_stream,
    session_window_counts,
    streaming_wordcount,
    windowed_event_counts,
)

__all__ = [
    "IdempotentBatchSink",
    "deduped_update_counts",
    "fuzzy_dedup_stream",
    "incremental_dedup_stream",
    "interval_join_streams",
    "late_window_counts",
    "ohlc_stream",
    "quality_filter_stream",
    "read_committed",
    "read_latest_per_key",
    "run_idempotent_replay",
    "run_to_batch",
    "session_window_counts",
    "sessionize_stream",
    "sliding_event_counts",
    "stage_three_batch_input",
    "stream_table",
    "streaming_wordcount",
    "windowed_event_counts",
]
