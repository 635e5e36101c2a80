"""Stateful streaming: one group-state shell and conversation offsets.

``apply_with_state`` is the one place that speaks Spark's group-state
protocol (``hasTimedOut``, ``remove``, ``exists``/``get``, ``update``,
``setTimeoutDuration``). Each keyed stream hands it a pure pandas step,
``step(key, pdf, state) -> (rows, new_state)``: ``pdf`` holds all of the
group's rows in this micro-batch, or is ``None`` when the group timed
out; ``state`` is the group's state tuple, or ``None`` when it has none.

The batch job computes ``conv_offset`` (cumulative character offset of
each turn within its conversation) with a window; over an unbounded
stream the running total is keyed state. ``stream_conv_offsets`` keeps
it per ``conv_id`` with ``offsets_step``:

- state per conversation: the running character total, the last
  emitted ``turn_idx`` and the buffered (pending) turns;
- each micro-batch's rows join the pending ones in ``turn_idx`` order;
  a turn emits once a turn ``max_disorder`` or more past it has been
  seen, so a turn may arrive after turns fewer than ``max_disorder``
  past it. The default 0 emits every turn in the micro-batch it
  arrives in, which is exact for per-conversation monotone arrival (an
  append-only transcript feed ordered by turn);
- a repeated ``turn_idx``, or one at or before the last emitted turn,
  is dropped: emitting it would falsify offsets already shipped;
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
from pyspark.sql.streaming.state import GroupStateTimeout

from nreadability_spark.streaming.extract_stream import extract_stream


def apply_with_state(grouped, step, output_schema, state_schema, idle_timeout_ms):
    """``applyInPandasWithState`` in append mode over the pure ``step``
    (module docstring). A live group's Arrow chunks are concatenated in
    arrival order before ``step`` sees them, its state is updated and,
    with ``idle_timeout_ms``, its processing-time timeout is armed; on a
    timeout the state is removed after ``step``'s rows are emitted."""

    def fn(key, pdf_iter, state):
        import pandas as pd

        old = state.get if state.exists else None
        if state.hasTimedOut:
            rows, _ = step(key, None, old)
            state.remove()
        else:
            # a group larger than maxRecordsPerBatch arrives as several
            # chunks in arbitrary post-shuffle order: steps see them all
            chunks = [c for c in pdf_iter if len(c)]
            if not chunks:
                return
            rows, new = step(key, pd.concat(chunks, ignore_index=True), old)
            state.update(new)
            if idle_timeout_ms is not None:
                state.setTimeoutDuration(int(idle_timeout_ms))
        yield rows

    return grouped.applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


OFFSET_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("content_len", T.LongType()),
        T.StructField("conv_offset", T.LongType()),
        T.StructField("extracted", T.BooleanType()),
    ]
)

OFFSET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cum_chars", T.LongType()),
        T.StructField("max_emitted", T.IntegerType()),
        T.StructField("pending_idx", T.ArrayType(T.IntegerType())),
        T.StructField("pending_len", T.ArrayType(T.LongType())),
        T.StructField("pending_ext", T.ArrayType(T.BooleanType())),
    ]
)


def offsets_step(key, pdf, state, max_disorder=0):
    """The conversation-offset step: pending turns plus ``pdf``'s, first
    seen wins, later than the last emitted turn only; emits, in
    ``turn_idx`` order, every turn at or below ``max(seen) -
    max_disorder`` (every turn when ``pdf`` is ``None``: a timeout
    flushes) and keeps the rest pending."""
    import pandas as pd

    (conv_id,) = key
    cum, max_emitted, p_idx, p_len, p_ext = state or (0, -1, [], [], [])
    rows = pd.DataFrame(
        {
            "turn_idx": pd.Series(p_idx, dtype="int64"),
            "content_len": pd.Series(p_len, dtype="int64"),
            "extracted": pd.Series(p_ext, dtype=bool),
        }
    )
    if pdf is not None:
        new = pd.DataFrame(
            {
                "turn_idx": pdf["turn_idx"].astype("int64"),
                "content_len": pdf["content_text"].fillna("").str.len().astype("int64"),
                "extracted": pdf["extracted"].astype(bool),
            }
        )
        rows = pd.concat([rows, new], ignore_index=True)
    rows = (
        rows[rows["turn_idx"] > max_emitted]
        .drop_duplicates("turn_idx")
        .sort_values("turn_idx", kind="mergesort", ignore_index=True)
    )
    idx = rows["turn_idx"]
    ready = len(rows) if pdf is None else int((idx <= idx.max() - max_disorder).sum())
    out, rest = rows.iloc[:ready], rows.iloc[ready:]
    lens = out["content_len"]
    emitted = pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": out["turn_idx"].astype("int32"),
            "content_len": lens,
            "conv_offset": lens.cumsum().shift(1, fill_value=0) + int(cum),
            "extracted": out["extracted"],
        }
    )
    new_state = (
        int(cum) + int(lens.sum()),
        int(idx.iloc[ready - 1]) if ready else int(max_emitted),
        rest["turn_idx"].tolist(),
        rest["content_len"].tolist(),
        rest["extracted"].tolist(),
    )
    return emitted, new_state


def stream_conv_offsets(
    stream_df: DataFrame, options=None, max_disorder=0, idle_timeout_ms=None
) -> DataFrame:
    """Streaming transcripts -> (conv_id, turn_idx, content_len,
    conv_offset, extracted) with state carried across micro-batches.

    ``max_disorder``: how far out of ``turn_idx`` order a conversation's
    turns may arrive across micro-batches (module docstring). The
    result equals the batch window's over the first-seen rows whenever
    the source's true disorder is within it. A turn waits for a later
    *seen* turn, not for its exact successor: the extraction prefilter
    removes empty and NULL turns, so ``turn_idx`` gaps are systematic,
    and a gap contributes nothing to offsets anyway.

    ``idle_timeout_ms``: optional state TTL. When set, a conversation
    idle that long emits its pending turns and has its state evicted
    (bounding the state store); if it later resumes, offsets restart
    from 0. The TTL is a processing-time timeout, for which Spark runs a
    no-data micro-batch on every trigger to look for expired groups, so
    an ``availableNow`` query never finishes unless
    ``spark.sql.streaming.noDataMicroBatches.enabled`` is false when it
    starts (timeouts then fire only on batches that carry data)."""
    extracted = extract_stream(stream_df, options=options, include_html=False)
    return apply_with_state(
        extracted.select("conv_id", "turn_idx", "content_text", "extracted")
        .groupBy("conv_id"),
        partial(offsets_step, max_disorder=max_disorder),
        OFFSET_OUTPUT_SCHEMA,
        OFFSET_STATE_SCHEMA,
        idle_timeout_ms,
    )
