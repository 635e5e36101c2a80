"""Streaming SFT chat-template spans: running render offsets as state.

The batch operator (``operators/textops.sft_spans``) computes the
rendered example's per-assistant-turn loss-mask offsets with two
windows over the conversation; over an unbounded event stream the
running character offset is keyed state. ``applyInPandasWithState``
keyed by the conversation key (``user_id``):

- state per conversation: (next_start_offset,);
- each micro-batch's rows for a conversation process in
  (ts, event_id) order (``sft_step``, one sort over the Arrow chunks
  that ``stateful.apply_with_state`` concatenates); EVERY turn
  advances the state, assistant turns also emit their
  [span_start, span_end);
- the monotone-arrival contract of ``extract_stream``'s conversation
  offsets at its default ``max_disorder=0``, and their idle-TTL
  semantics.

``conv_len`` is deliberately NOT emitted: on an unbounded stream the
example's total length is unknowable until the conversation closes —
stream==batch parity is asserted on the span columns, which are final
at emit time (prefix sums never change retroactively under monotone
arrival).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from nreadability_spark.operators.textops import SFT_END, SFT_ROLES
from nreadability_spark.streaming.stateful import apply_with_state

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

SFT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.LongType()),
        T.StructField("turn_id", T.LongType()),
        T.StructField("span_start", T.LongType()),
        T.StructField("span_end", T.LongType()),
    ]
)

SFT_STATE_SCHEMA = T.StructType([T.StructField("cum_chars", T.LongType())])

_END_LEN = len(SFT_END)


def sft_step(key, pdf, state):
    """The span step: every turn advances the running render offset,
    assistant turns also emit their [span_start, span_end)."""
    import pandas as pd

    if pdf is None:
        return pd.DataFrame(columns=SFT_OUTPUT_SCHEMA.fieldNames()), state
    (conv_id,) = key
    (cum,) = state or (0,)
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort", ignore_index=True)
    roles = pdf["event_id"].map(lambda e: SFT_ROLES[int(e) % 3])
    header_len = roles.map(len).astype("int64") + 4  # <| |>
    text_len = (
        pdf["event_type"].fillna("").map(len).astype("int64")
        + 1
        + pdf["props"].fillna("").map(len).astype("int64")
    )
    turn_len = header_len + text_len + _END_LEN
    starts = turn_len.cumsum().shift(1, fill_value=0) + int(cum)
    mask = roles == "assistant"
    spans = pd.DataFrame(
        {
            "conv_id": int(conv_id),
            "turn_id": pdf["event_id"][mask].astype("int64"),
            "span_start": (starts + header_len)[mask].astype("int64"),
            "span_end": (starts + header_len + text_len)[mask].astype("int64"),
        }
    )
    return spans, (int(cum) + int(turn_len.sum()),)


def stream_sft_spans(stream_df: DataFrame, idle_timeout_ms=None) -> DataFrame:
    """Streaming events -> per-assistant-turn loss-mask spans with the
    running render offset carried across micro-batches as keyed state.

    ``idle_timeout_ms``: optional state TTL — an idle conversation's
    offset state is evicted after that period (bounding the store); a
    conversation resuming after eviction restarts at offset 0, the
    same documented trade-off as ``extract_stream``'s offsets."""
    return apply_with_state(
        stream_df.select("user_id", "event_id", "ts", "event_type", "props").groupBy("user_id"),
        sft_step,
        SFT_OUTPUT_SCHEMA,
        SFT_STATE_SCHEMA,
        idle_timeout_ms,
    )
