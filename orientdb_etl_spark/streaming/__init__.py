"""Structured Streaming surface (beyond the reference — SURVEY §7 Phase 5).

The reference is batch-only (`OSource.java:31` — a Reader consumed once);
this package adds the streaming counterpart of the engine: the same
transformer registry over ``readStream`` lineages, plus the genuinely
streaming operators (watermarks, tumbling/sliding/session windows,
within-watermark dedup, custom stateful sessionization).
"""

from orientdb_etl_spark.streaming.ops import (
    foreach_batch_upsert,
    session_window_agg,
    sessionize_with_state,
    sliding_window_agg,
    stream_interval_join,
    streaming_dedup,
    tumbling_window_agg,
)
from orientdb_etl_spark.streaming.pipeline import StreamingPipeline, stream_parquet

__all__ = [
    "StreamingPipeline",
    "foreach_batch_upsert",
    "session_window_agg",
    "sessionize_with_state",
    "sliding_window_agg",
    "stream_interval_join",
    "stream_parquet",
    "streaming_dedup",
    "tumbling_window_agg",
]
