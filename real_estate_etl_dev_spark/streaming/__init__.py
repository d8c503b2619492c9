"""Structured Streaming variants of the ingest + merge path."""

from .ingest import (
    drop_files,
    memory_sink,
    publish_batches,
    queue_status_stream,
    run_available_now,
    run_merge_sink,
    stream_source,
    windowed_counts,
)

__all__ = [
    "drop_files",
    "memory_sink",
    "publish_batches",
    "queue_status_stream",
    "run_available_now",
    "run_merge_sink",
    "stream_source",
    "windowed_counts",
]
