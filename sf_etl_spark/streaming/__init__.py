"""Structured Streaming surface (SURVEY §2.2 "Streaming", build plan P5).

The reference's only asynchronous artifact is the bulk-job state
machine (``response.rs:47-54``: UploadComplete → InProgress →
JobComplete/Failed/Aborted) — creation, polling, abort, no data plane.
Here that lifecycle becomes a real ``StreamingQuery``: sources emit
micro-batches, watermarks bound state, and the same windowed plans the
batch suite proves against the DuckDB oracle run unchanged under
``readStream``.
"""

from sf_etl_spark.streaming.pipelines import (
    events_stream,
    read_merge_target,
    run_to_memory_table,
    stage_events_as_stream_source,
    stream_click_attribution,
    stream_dedup_within_watermark,
    stream_session_agg,
    stream_stateful_user_counts,
    stream_tumbling_agg,
)

__all__ = [
    "events_stream",
    "read_merge_target",
    "run_to_memory_table",
    "stage_events_as_stream_source",
    "stream_click_attribution",
    "stream_dedup_within_watermark",
    "stream_session_agg",
    "stream_stateful_user_counts",
    "stream_tumbling_agg",
]
