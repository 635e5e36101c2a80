"""Structured Streaming surface of the extraction engine."""

from nreadability_spark.streaming.extract_stream import (  # noqa: F401
    extract_stream,
    run_stream_to_parquet,
    windowed_turn_metrics,
)
from nreadability_spark.streaming.dedup_stream import dedup_stream  # noqa: F401
