"""Streaming incremental dedup: first-seen-wins over an unbounded feed.

The batch exact-dedup (``operators/dedup.exact_dedup_groups``) collapses
a table at rest; an ingestion pipeline needs the same answer over an
append-only stream — every row whose normalized-content fingerprint was
already seen in ANY earlier micro-batch is dropped, the first
occurrence passes through. That is keyed state:
``applyInPandasWithState`` keyed by the 60-bit content fingerprint
(computed JVM-side with the same portable md5 expression the batch
operator and its DuckDB oracle use), state = the canonical occurrence.

Scale shape: the only shuffle is the state exchange keyed by fp60
(uniform hash — no hot keys by construction), carrying
(fp60, conv_id, turn_idx), never the text. State is one tiny row per
DISTINCT document seen; ``idle_timeout_ms`` bounds the store for
workloads where duplicates arrive close together (a re-seen fingerprint
after eviction passes through again — the documented TTL trade-off, the
same contract as the offsets operator).

Determinism: within a micro-batch the canonical row is the minimum
(conv_id, turn_idx); across micro-batches the earlier batch wins —
exactly the arrival-order semantics an incremental ingest has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nreadability_spark.functions import hashing
from nreadability_spark.operators.textops import _norm_text
from nreadability_spark.streaming.stateful import apply_with_state

DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("fp60", T.LongType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ]
)

DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ]
)

_OUT_COLS = ["fp60", "conv_id", "turn_idx"]


def dedup_step(key, pdf, state):
    """The first-seen step: within a micro-batch the minimum
    (conv_id, turn_idx) is canonical; once a fingerprint has state,
    every later arrival is a duplicate."""
    import pandas as pd

    if pdf is None or state is not None:
        return pd.DataFrame(columns=_OUT_COLS), state
    first = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").iloc[0]
    canon = (str(first["conv_id"]), int(first["turn_idx"]))
    (fp60,) = key
    return pd.DataFrame([(int(fp60), *canon)], columns=_OUT_COLS), canon


def dedup_stream(stream_df: DataFrame, idle_timeout_ms=None) -> DataFrame:
    """Streaming transcripts -> (fp60, conv_id, turn_idx) of FIRST
    occurrences only; later rows with an already-seen fingerprint are
    dropped (across micro-batches, via keyed state)."""
    fp = (
        stream_df.where(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            hashing.h60(_norm_text(F.col("text"))).alias("fp60"),
            "conv_id",
            "turn_idx",
        )
    )
    return apply_with_state(
        fp.groupBy("fp60"),
        dedup_step,
        DEDUP_OUTPUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        idle_timeout_ms,
    )
