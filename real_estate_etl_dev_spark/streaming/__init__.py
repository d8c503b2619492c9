"""Structured Streaming variants of the ingest + merge path."""

from .ingest import (
    dedup_urls,
    memory_view,
    queue_status_stream,
    run_available_now,
    run_merge_sink,
    stream_source,
    windowed_counts,
)

__all__ = [
    "dedup_urls",
    "memory_view",
    "queue_status_stream",
    "run_available_now",
    "run_merge_sink",
    "stream_source",
    "windowed_counts",
]
