"""Structured Streaming: the reference's live CDC apply loop
(consumer.py:53-119) re-expressed as checkpointed micro-batch streaming."""

from postgres_opensearch_cdc_spark.streaming.apply import (  # noqa: F401
    VersionedMirrorSink,
    start_mirror_stream,
    windowed_event_counts,
    sessionized_counts,
    streaming_dedup,
)
