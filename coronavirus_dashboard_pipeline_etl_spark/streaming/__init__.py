"""Structured Streaming wrappers (SURVEY.md §2.9)."""

from .ingest import stream_release_files
from .neardup import probe_neardup_stream
from .windows import dedup_stream, windowed_event_counts

__all__ = [
    "dedup_stream",
    "probe_neardup_stream",
    "stream_release_files",
    "windowed_event_counts",
]
