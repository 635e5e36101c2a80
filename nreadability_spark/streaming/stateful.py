"""Stateful streaming: conversation-cumulative offsets over a stream.

The batch job computes ``conv_offset`` (cumulative character offset of
each turn within its conversation) with a window; over an unbounded
stream the running total is keyed state. This module implements it with
``applyInPandasWithState`` keyed by ``conv_id``:

- state per conversation: (next_turn_offset_chars,);
- each micro-batch's rows for a conversation are processed in
  ``turn_idx`` order; the state carries the running character total
  across micro-batches;
- correctness requires per-conversation monotone arrival across
  batches (turns of a conversation do not arrive out of order after a
  batch boundary) — the natural property of an append-only transcript
  CDC feed ordered by turn; within a batch, order is enforced by
  sorting on ``turn_idx``. For sources that CAN deliver turns out of
  order across batches, ``stream_conv_offsets_ordered`` (below) adds a
  bounded-disorder reordering buffer;
- state TTL: by default state never expires (NoTimeout); passing
  ``idle_timeout_ms`` switches to ProcessingTimeTimeout and evicts a
  conversation's state after that idle period, bounding the store for
  finite conversations. A conversation that resumes *after* eviction
  restarts its offsets from 0 — the documented trade-off of a TTL; size
  it above the maximum expected conversation gap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from nreadability_spark.streaming.extract_stream import extract_stream


def apply_with_state(grouped, fn, output_schema, state_schema, idle_timeout_ms):
    """``applyInPandasWithState`` in append mode, the shape every keyed
    stream here uses: no state timeout, or with ``idle_timeout_ms`` a
    processing-time timeout that ``fn`` sets on each group it touches."""
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

STATE_SCHEMA = T.StructType([T.StructField("cum_chars", T.LongType())])


def _make_offsets_fn(idle_timeout_ms):
    def _offsets_fn(key, pdf_iter, state):
        import pandas as pd

        empty = pd.DataFrame(
            columns=["conv_id", "turn_idx", "content_len", "conv_offset", "extracted"]
        )
        if state.hasTimedOut:
            # idle TTL fired: evict this conversation's state
            state.remove()
            yield empty
            return
        (conv_id,) = key
        (cum,) = state.get if state.exists else (0,)
        # Materialize ALL Arrow chunks before sorting: a group larger than
        # maxRecordsPerBatch arrives as several chunks in arbitrary
        # post-shuffle order, so a per-chunk sort would accumulate
        # offsets out of turn_idx order. One concat + one sort is also
        # the vectorized path (no per-row Python).
        chunks = list(pdf_iter)
        if not chunks:
            yield empty
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values("turn_idx", kind="mergesort", ignore_index=True)
        lens = (
            pdf["content_text"]
            .map(lambda s: len(s) if isinstance(s, str) else 0)
            .astype("int64")
        )
        offsets = lens.cumsum().shift(1, fill_value=0) + int(cum)
        state.update((int(cum) + int(lens.sum()),))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(int(idle_timeout_ms))
        yield pd.DataFrame(
            {
                "conv_id": conv_id,
                "turn_idx": pdf["turn_idx"].astype("int32"),
                "content_len": lens,
                "conv_offset": offsets.astype("int64"),
                "extracted": pdf["extracted"].astype(bool),
            }
        )

    return _offsets_fn


# module-level default (importable/picklable, used by tests)
_offsets_fn = _make_offsets_fn(None)


def stream_conv_offsets(stream_df: DataFrame, options=None, idle_timeout_ms=None) -> DataFrame:
    """Streaming transcripts -> (conv_id, turn_idx, content_len,
    conv_offset, extracted) with state carried across micro-batches.

    ``idle_timeout_ms``: optional state TTL. When set, a conversation
    idle that long has its state evicted (bounding the state store); if
    it later resumes, offsets restart from 0. The TTL is a
    processing-time timeout, for which Spark runs a no-data micro-batch
    on every trigger to look for expired groups, so an ``availableNow``
    query never finishes unless
    ``spark.sql.streaming.noDataMicroBatches.enabled`` is false when it
    starts (timeouts then fire only on batches that carry data)."""
    extracted = extract_stream(stream_df, options=options, include_html=False)
    return apply_with_state(
        extracted.select("conv_id", "turn_idx", "content_text", "extracted")
        .groupBy("conv_id"),
        _make_offsets_fn(idle_timeout_ms),
        OFFSET_OUTPUT_SCHEMA,
        STATE_SCHEMA,
        idle_timeout_ms,
    )


# --- out-of-order arrival: order-buffering offsets ---------------------

ORDERED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cum_chars", T.LongType()),
        T.StructField("max_emitted", T.IntegerType()),
        T.StructField("pending_idx", T.ArrayType(T.IntegerType())),
        T.StructField("pending_len", T.ArrayType(T.LongType())),
        T.StructField("pending_ext", T.ArrayType(T.BooleanType())),
    ]
)

# a row is emittable once a row with turn_idx >= its idx + D has been
# seen: the drop rule below then guarantees no earlier-idx row can
# still be accepted, so offsets are final when emitted
DEFAULT_MAX_DISORDER = 64


def _make_ordered_fn(max_disorder, idle_timeout_ms, flush_on_timeout):
    def _ordered_fn(key, pdf_iter, state):
        import pandas as pd

        cols = ["conv_id", "turn_idx", "content_len", "conv_offset", "extracted"]
        empty = pd.DataFrame(columns=cols)

        def load():
            if state.exists:
                cum, max_emitted, p_idx, p_len, p_ext = state.get
                return int(cum), int(max_emitted), dict(zip(p_idx, zip(p_len, p_ext)))
            return 0, -1, {}

        (conv_id,) = key

        if state.hasTimedOut:
            cum, _max_emitted, pending = load()
            state.remove()
            if not (flush_on_timeout and pending):
                yield empty
                return
            # finalize: emit everything buffered, in order
            out = []
            for idx in sorted(pending):
                n, ext = pending[idx]
                out.append((conv_id, idx, int(n), cum, bool(ext)))
                cum += int(n)
            yield pd.DataFrame(out, columns=cols)
            return

        cum, max_emitted, pending = load()
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            for idx, text, ext in zip(
                pdf["turn_idx"], pdf["content_text"], pdf["extracted"]
            ):
                idx = int(idx)
                # drop: duplicates, and rows later than the disorder
                # bound (already emitted past them — emitting now would
                # falsify the offsets of rows already shipped)
                if idx > max_emitted and idx not in pending:
                    n = len(text) if isinstance(text, str) else 0
                    pending[idx] = (n, bool(ext))
        out = []
        if pending:
            max_seen = max(max(pending), max_emitted)
            watermark = max_seen - max_disorder
            for idx in sorted(pending):
                if idx > watermark:
                    break
                n, ext = pending.pop(idx)
                out.append((conv_id, idx, int(n), cum, bool(ext)))
                cum += int(n)
                max_emitted = idx
        p_sorted = sorted(pending.items())
        state.update(
            (
                cum,
                max_emitted,
                [i for i, _ in p_sorted],
                [int(v[0]) for _, v in p_sorted],
                [bool(v[1]) for _, v in p_sorted],
            )
        )
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(int(idle_timeout_ms))
        yield pd.DataFrame(out, columns=cols) if out else empty

    return _ordered_fn


def stream_conv_offsets_ordered(
    stream_df: DataFrame,
    options=None,
    max_disorder: int = DEFAULT_MAX_DISORDER,
    idle_timeout_ms=None,
    flush_on_timeout=True,
) -> DataFrame:
    """Offsets that tolerate OUT-OF-ORDER turn arrival across
    micro-batches (the plain ``stream_conv_offsets`` assumes monotone
    arrival), using a bounded-disorder reordering buffer in keyed state.

    A row is buffered until a row with ``turn_idx >= idx + max_disorder``
    has been seen for its conversation; buffered rows then emit in
    ``turn_idx`` order with true cumulative offsets. Exactly-once and
    never-wrong: duplicates and rows arriving later than the disorder
    bound are DROPPED (emitting them would falsify already-shipped
    offsets) — matching the batch window's result whenever the source's
    true disorder is within the bound. Waiting on exact successor
    indexes would deadlock here: the extraction prefilter removes
    empty/null turns, so turn_idx gaps are systematic, and a gap row
    contributes nothing to offsets anyway.

    ``idle_timeout_ms`` bounds state for idle conversations; with
    ``flush_on_timeout`` the buffer is emitted in order before
    eviction, so trailing rows (which no later row can ever release)
    still ship exactly once.
    """
    extracted = extract_stream(stream_df, options=options, include_html=False)
    return apply_with_state(
        extracted.select("conv_id", "turn_idx", "content_text", "extracted")
        .groupBy("conv_id"),
        _make_ordered_fn(max_disorder, idle_timeout_ms, flush_on_timeout),
        OFFSET_OUTPUT_SCHEMA,
        ORDERED_STATE_SCHEMA,
        idle_timeout_ms,
    )
