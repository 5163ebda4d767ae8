"""Structured Streaming wrappers: extraction + stateful dedup gate."""

from .dedup_stream import stream_dedup_exact  # noqa: F401
from .extract_stream import extraction_query  # noqa: F401
