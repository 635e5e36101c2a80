"""Streaming extraction: the batch job's table from a transcripts stream.

    spark.readStream... -> extract_stream(...) -> run_stream_to_parquet(...)

Pieces:
- ``extract_stream``: the stream twin of ``extract_transcripts``, one
  query. The stateless front (``extract_transcripts`` without the
  conversation window; a streaming input skips the salt) runs the
  extraction UDF once per turn, then one ``applyInPandasWithState``
  keyed by ``conv_id`` (``stateful.offsets_step``) carries each row
  through and appends its ``conv_offset``. The result has
  ``OUTPUT_COLUMNS``, the batch table's columns.
- ``run_stream_to_parquet``: ``foreachBatch`` sink writing each
  micro-batch through the batch job's bucketed, manifested write;
  ``foreachBatch`` + deterministic extraction + per-bucket dynamic
  overwrite keeps restarts idempotent (the Iceberg MERGE analogue).
- ``windowed_turn_metrics``: event-time windowed aggregation with a
  watermark — the late-data-tolerant operational metrics stream
  (turns/minute, extraction rate, error rate). It reads the stateless
  front: a watermark above the stateful operator is a different query.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from nreadability_spark.plans.extract_job import OUTPUT_COLUMNS, extract_transcripts
from nreadability_spark.sources import lineage
from nreadability_spark.streaming.stateful import (
    OFFSET_STATE_SCHEMA,
    apply_with_state,
    offsets_step,
)


def extract_stream(
    stream_df: DataFrame, include_html=True, max_disorder=0, idle_timeout_ms=None
) -> DataFrame:
    """Streaming transcripts -> the batch job's ``OUTPUT_COLUMNS``
    (lazy), with ``conv_offset`` carried across micro-batches as keyed
    state (``stateful`` module docstring).

    ``max_disorder``: how far out of ``turn_idx`` order a conversation's
    turns may arrive across micro-batches. The result equals the batch
    table whenever the source's true disorder is within it and every
    repeated turn is a copy of its first arrival. A turn waits for a
    later *seen* turn, not for its exact successor: the prefilter removes
    empty and NULL turns, so ``turn_idx`` gaps are systematic, and a gap
    contributes nothing to offsets anyway. Up to ``max_disorder`` turns
    per conversation wait in state; at 0 none do.

    ``idle_timeout_ms``: optional state TTL. When set, a conversation
    idle that long emits its pending turns and has its state evicted
    (bounding the state store); if it later resumes, offsets restart
    from 0. The TTL is a processing-time timeout, for which Spark runs a
    no-data micro-batch on every trigger to look for expired groups, so
    an ``availableNow`` query never finishes unless
    ``spark.sql.streaming.noDataMicroBatches.enabled`` is false when it
    starts (timeouts then fire only on batches that carry data)."""
    front = extract_transcripts(stream_df, include_html=include_html, with_conv_offset=False)
    return apply_with_state(
        front.groupBy("conv_id"),
        partial(
            offsets_step,
            # naive timestamps, as Spark hands them to pandas
            row_schema=to_arrow_schema(front.schema, timestamp_utc=False),
            max_disorder=max_disorder,
        ),
        T.StructType([*front.schema.fields, T.StructField("conv_offset", T.LongType())]),
        OFFSET_STATE_SCHEMA,
        idle_timeout_ms,
    ).select(*OUTPUT_COLUMNS)


def windowed_turn_metrics(
    stream_df: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed extraction metrics with late-data handling."""
    extracted = extract_transcripts(stream_df, include_html=False, with_conv_offset=False)
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
    extracted: DataFrame,
    out_path: str,
    checkpoint_path: str,
    run_id: str = "stream",
    n_buckets: int = lineage.N_BUCKETS,
):
    """Start writing ``extracted``, an ``extract_stream`` result, into
    bucketed parquet via foreachBatch with an ``availableNow`` trigger;
    returns the StreamingQuery.

    Micro-batch ``id`` goes to ``out_path/batch=<id>/`` through the batch
    job's ``lineage.write_partitioned``: one file per bucket, ordered by
    ``(conv_id, turn_idx)``, with a manifest per bucket. Dynamic
    partition overwrite then replaces exactly the buckets a micro-batch
    owns, so a crashed-and-restarted stream (checkpoint + deterministic
    UDF) rewrites its own partitions idempotently and never clobbers
    earlier batches sharing a bucket — the sandbox analogue of
    foreachBatch + Iceberg MERGE.
    """

    def write_batch(batch_df: DataFrame, batch_id: int):
        bucketed = lineage.with_bucket(batch_df, n_buckets).repartition(lineage.BUCKET_COL)
        lineage.write_partitioned(bucketed, f"{out_path}/batch={batch_id}", run_id, n_buckets)

    return (
        extracted.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
