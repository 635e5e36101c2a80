"""Stateful streaming: one group-state shell and conversation offsets.

``apply_with_state`` is the one place that speaks Spark's group-state
protocol (``hasTimedOut``, ``remove``, ``exists``/``get``, ``update``,
``setTimeoutDuration``). Each keyed stream hands it a pure pandas step,
``step(key, pdf, state) -> (rows, new_state)``: ``pdf`` holds all of the
group's rows in this micro-batch, or is ``None`` when the group timed
out; ``state`` is the group's state tuple, or ``None`` when it has none.

The batch job computes ``conv_offset`` (cumulative character offset of
each turn within its conversation) with a window; over an unbounded
stream the running total is keyed state. ``extract_stream`` keeps it per
``conv_id`` with ``offsets_step``, which carries each extracted row
through whole and appends its ``conv_offset``:

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

from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout


def apply_with_state(grouped, step, output_schema, state_schema, idle_timeout_ms):
    """``applyInPandasWithState`` in append mode over the pure ``step``
    (module docstring). A live group's Arrow chunks are concatenated in
    arrival order before ``step`` sees them, its state is updated and,
    with ``idle_timeout_ms``, its processing-time timeout is armed; on a
    timeout the state is removed after ``step``'s rows are emitted. A
    step with no rows may return an empty frame without columns."""

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
        if len(rows):
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


OFFSET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cum_chars", T.LongType()),
        T.StructField("max_emitted", T.IntegerType()),
        # the pending rows as one Arrow record batch, NULL when none wait:
        # state values must be plain Python, and Arrow keeps them exact
        T.StructField("pending", T.BinaryType()),
    ]
)


def offsets_step(key, pdf, state, row_schema, max_disorder=0):
    """The conversation-offset step: pending rows plus ``pdf``'s, first
    seen wins, later than the last emitted turn only; emits, in
    ``turn_idx`` order and with ``conv_offset`` appended, every row at
    or below ``max(seen) - max_disorder`` (every row when ``pdf`` is
    ``None``: a timeout flushes) and keeps the rest pending. It reads
    ``turn_idx`` and ``content_text``; every other column passes
    through. Pending rows are kept under ``row_schema``, the rows' Arrow
    schema, which pandas values do not pin: Spark hands an empty array
    over as an empty float64 ndarray."""
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
