"""Streaming extraction: the batch job's table from a transcripts stream.

    spark.readStream... -> extract_stream(...) -> run_stream_to_parquet(...)

- ``extract_stream``: the stream twin of ``extract_transcripts``, one
  query. The stateless front (``extract_transcripts`` without the
  conversation window; a streaming input skips the salt) runs the
  extraction UDF once per turn, then one ``applyInPandasWithState``
  keyed by ``conv_id`` carries each row through and appends its
  ``conv_offset``. The result has ``OUTPUT_COLUMNS``, the batch table's
  columns.
- ``run_stream_to_parquet``: ``foreachBatch`` sink writing each
  micro-batch through the batch job's bucketed, manifested write;
  ``foreachBatch`` + deterministic extraction + per-bucket dynamic
  overwrite keeps restarts idempotent (the Iceberg MERGE analogue).

The batch job computes ``conv_offset`` (cumulative character offset of
each turn within its conversation) with a window; over an unbounded
stream the running total is keyed state, kept per ``conv_id`` by
``_offsets_group`` around the pure ``_offsets_step``:

- state per conversation: the running character total, the last
  emitted ``turn_idx`` and the pending rows (one serialized Arrow record
  batch, NULL when none wait);
- each micro-batch's rows join the pending ones in ``turn_idx`` order;
  a turn emits once a turn ``max_disorder`` or more past it has been
  seen, so a turn may arrive after turns fewer than ``max_disorder``
  past it. The default 0 emits every turn in the micro-batch it
  arrives in, so nothing waits in state; it is exact for
  per-conversation monotone arrival (an append-only transcript feed
  ordered by turn);
- a repeated ``turn_idx``, or one at or before the last emitted turn,
  is dropped, the first arrival kept: emitting it would falsify offsets
  already shipped. The batch window keeps one copy too, by its own tie
  order, so the two agree on identical copies;
- state TTL: by default state never expires (NoTimeout); passing
  ``idle_timeout_ms`` switches to ProcessingTimeTimeout, emits the
  pending turns in order and evicts the conversation after that idle
  period, bounding the store for finite conversations. A conversation
  that resumes *after* eviction restarts its offsets from 0 — the
  documented trade-off of a TTL; size it above the maximum expected
  conversation gap.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupStateTimeout

from nreadability_spark.plans.extract_job import OUTPUT_COLUMNS, extract_transcripts
from nreadability_spark.sources import lineage

OFFSET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cum_chars", T.LongType()),
        T.StructField("max_emitted", T.IntegerType()),
        # the pending rows as one Arrow record batch, NULL when none wait:
        # state values must be plain Python, and Arrow keeps them exact
        T.StructField("pending", T.BinaryType()),
    ]
)


def _offsets_step(pdf, state, row_schema, max_disorder):
    """The conversation-offset step: pending rows plus ``pdf``'s, first
    seen wins, later than the last emitted turn only; returns ``(rows,
    new_state)``, where ``rows`` are, in ``turn_idx`` order and with
    ``conv_offset`` appended, every row at or below ``max(seen) -
    max_disorder`` (every row when ``pdf`` is ``None``: a timeout
    flushes), and the rest stay pending. ``state`` is the group's state
    tuple, or ``None`` when it has none. It reads ``turn_idx`` and
    ``content_text``; every other column passes through. Pending rows
    are kept under ``row_schema``, the rows' Arrow schema, which pandas
    values do not pin: Spark hands an empty array over as an empty
    float64 ndarray."""
    import pandas as pd
    import pyarrow as pa

    cum, max_emitted, pending = state or (0, -1, None)
    parts = [] if pending is None else [pa.ipc.read_record_batch(pending, row_schema).to_pandas()]
    parts += [] if pdf is None else [pdf]
    if not parts:
        return pd.DataFrame(), state
    rows = pd.concat(parts, ignore_index=True)
    rows = (
        rows[rows["turn_idx"] > max_emitted]
        .drop_duplicates("turn_idx")
        .sort_values("turn_idx", kind="mergesort", ignore_index=True)
    )
    idx = rows["turn_idx"]
    ready = len(rows) if pdf is None else int((idx <= idx.max() - max_disorder).sum())
    out, rest = rows.iloc[:ready], rows.iloc[ready:]
    lens = out["content_text"].fillna("").str.len().astype("int64")
    pending = None
    if len(rest):
        batch = pa.RecordBatch.from_pandas(rest, schema=row_schema, preserve_index=False)
        pending = batch.serialize().to_pybytes()
    new_state = (
        int(cum) + int(lens.sum()),
        int(idx.iloc[ready - 1]) if ready else int(max_emitted),
        pending,
    )
    return out.assign(conv_offset=lens.cumsum().shift(1, fill_value=0) + int(cum)), new_state


def _offsets_group(key, pdf_iter, state, row_schema, max_disorder, idle_timeout_ms):
    """What ``applyInPandasWithState`` runs for one conversation: a live
    group's Arrow chunks are concatenated in arrival order before
    ``_offsets_step`` sees them, its state is updated and, with
    ``idle_timeout_ms``, its processing-time timeout is armed; on a
    timeout the pending rows are emitted and the state removed."""
    import pandas as pd

    old = state.get if state.exists else None
    if state.hasTimedOut:
        rows, _ = _offsets_step(None, old, row_schema, max_disorder)
        state.remove()
    else:
        # a group larger than maxRecordsPerBatch arrives as several
        # chunks in arbitrary post-shuffle order: the step sees them all
        chunks = [c for c in pdf_iter if len(c)]
        if not chunks:
            return
        rows, new = _offsets_step(pd.concat(chunks, ignore_index=True), old, row_schema, max_disorder)
        state.update(new)
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(int(idle_timeout_ms))
    if len(rows):
        yield rows


def extract_stream(
    stream_df: DataFrame, include_html=True, max_disorder=0, idle_timeout_ms=None
) -> DataFrame:
    """Streaming transcripts -> the batch job's ``OUTPUT_COLUMNS``
    (lazy), with ``conv_offset`` carried across micro-batches as keyed
    state (module docstring).

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
    return (
        front.groupBy("conv_id")
        .applyInPandasWithState(
            partial(
                _offsets_group,
                # naive timestamps, as Spark hands them to pandas
                row_schema=to_arrow_schema(front.schema, timestamp_utc=False),
                max_disorder=max_disorder,
                idle_timeout_ms=idle_timeout_ms,
            ),
            outputStructType=T.StructType(
                [*front.schema.fields, T.StructField("conv_offset", T.LongType())]
            ),
            stateStructType=OFFSET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if idle_timeout_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
        .select(*OUTPUT_COLUMNS)
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
