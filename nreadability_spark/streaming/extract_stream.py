"""Streaming extraction (SURVEY.md §7.7 made concrete).

The extraction UDF is stateless per row, so the same operator drops
into Structured Streaming unchanged:

    spark.readStream... -> extract_columns(...) -> writeStream

Pieces:
- ``extract_stream``: transcripts stream -> extracted stream. It is the
  batch front, ``extract_transcripts``, which skips the salt on a
  streaming input, without the conversation-offset window (cumulative
  offsets over an unbounded stream require keyed state; see note below).
- ``windowed_turn_metrics``: event-time windowed aggregation with a
  watermark — the late-data-tolerant operational metrics stream
  (turns/minute, extraction rate, error rate).
- ``run_stream_to_parquet``: ``foreachBatch`` sink writing each
  micro-batch through the batch job's bucketed, manifested write;
  ``foreachBatch`` + deterministic extraction + per-bucket dynamic
  overwrite keeps restarts idempotent (the Iceberg MERGE analogue).

Conversation-cumulative offsets over a stream are keyed state:
``streaming.stateful.stream_conv_offsets`` computes them with
``applyInPandasWithState`` keyed by conv_id, over this module's
``extract_stream`` (its ``max_disorder`` admits turns that arrive out
of order). The batch job remains the system of record for them
(BASELINE.json's north rule is a batch table at rest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nreadability_spark.plans.extract_job import extract_transcripts


def extract_stream(stream_df: DataFrame, options=None, include_html=True) -> DataFrame:
    """Streaming transcripts -> streaming extraction results (lazy)."""
    return extract_transcripts(
        stream_df, options=options, include_html=include_html, with_conv_offset=False
    )


def windowed_turn_metrics(
    stream_df: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    options=None,
) -> DataFrame:
    """Event-time windowed extraction metrics with late-data handling."""
    extracted = extract_stream(stream_df, options=options, include_html=False)
    return (
        extracted.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum(F.col("extracted").cast("int")).alias("extracted_turns"),
            F.sum(F.length("content_text")).alias("chars"),
            F.count(F.col("error")).alias("errors"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "turns",
            "extracted_turns",
            "chars",
            "errors",
        )
    )


def run_stream_to_parquet(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    run_id: str = "stream",
    n_buckets: int = 8,
    options=None,
    include_html=True,
    trigger_available_now: bool = True,
):
    """Start the streaming extraction into bucketed parquet via
    foreachBatch; returns the StreamingQuery.

    Micro-batch ``id`` goes to ``out_path/batch=<id>/`` through the batch
    job's ``lineage.write_partitioned``: one file per bucket, ordered by
    ``(conv_id, turn_idx)``, with a manifest per bucket. Dynamic
    partition overwrite then replaces exactly the buckets a micro-batch
    owns, so a crashed-and-restarted stream (checkpoint + deterministic
    UDF) rewrites its own partitions idempotently and never clobbers
    earlier batches sharing a bucket — the sandbox analogue of
    foreachBatch + Iceberg MERGE.
    """
    from nreadability_spark.sources import lineage

    extracted = extract_stream(stream_df, options=options, include_html=include_html)

    def write_batch(batch_df: DataFrame, batch_id: int):
        bucketed = lineage.with_bucket(batch_df, n_buckets).repartition(lineage.BUCKET_COL)
        lineage.write_partitioned(bucketed, f"{out_path}/batch={batch_id}", run_id, n_buckets)

    writer = extracted.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
