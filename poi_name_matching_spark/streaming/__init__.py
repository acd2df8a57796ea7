"""Structured Streaming ingest (engine capability beyond the reference).

The reference is batch-only (SURVEY.md §2.8). The engine has one
streaming path: ``start_pipeline_stream`` watches a directory of
transcript parquet drops and merges each micro-batch of closed
conversations into the pipeline checkpoint through
``incremental_update``, so signatures, blocks, scores and clusters stay
current. ``apply_transcript_batch`` is the same merge for one batch
outside Structured Streaming."""

from .pipeline import (
    apply_transcript_batch,
    read_transcript_stream,
    start_pipeline_stream,
)

__all__ = [
    "read_transcript_stream",
    "apply_transcript_batch",
    "start_pipeline_stream",
]
