"""The end-to-end extraction job (SURVEY.md §3.4):

    scan -> null-prefilter -> salted repartition -> Arrow-batched
    extraction UDF -> conversation window (cumulative offsets) ->
    bucketed, sorted, lineage-committed write

Scale design notes (the parts that must survive 1000 executors / 100 TB):

- **pre-filter pushes down**: the null/empty text filter is a native
  ``where`` before the UDF, so it reaches the parquet scan
  (PushedFilters), and column pruning keeps the scan to the 6 input
  columns;
- **payload-length skew, not key skew**: extraction is row-local, so the
  UDF stage is decorrelated from conversation length by ``salted`` on
  ``(conv_id, turn_idx)`` — a 10k-turn conversation spreads over the
  whole cluster instead of pinning one task;
- **one keyed shuffle after the UDF**: ``bucket`` is a function of
  ``conv_id``, so ``run_extract_job`` runs the conversation-offset
  window partitioned by ``(bucket, conv_id)`` right after the write's
  ``repartition(bucket)``. The wide payload (``content_html``,
  ``content_text``, ``spans``) crosses one exchange after the UDF, and
  the window's sort is the one the write needs;
- **AQE on** (Spark's default): it coalesces the small partitions of
  the bucket exchange (a ``repartition`` by column, no count); the salt
  exchange has an explicit count, which AQE keeps. AQE splits skewed
  partitions only for joins and ``rebalance``, never for a
  ``repartition``, so the salt above stays the skew remedy;
- **Arrow batch cap**: large HTML rows x default 10k-row batches would
  be GiB-scale per worker; ``session.get_spark`` caps records per batch
  at ``session.ARROW_BATCH_ROWS``. The job reads the caller's session
  settings and changes none of them.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import Window
from pyspark.sql import functions as F

from nreadability_spark.operators.extract import extract_columns
from nreadability_spark.sources import lineage

OUTPUT_COLUMNS = [
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "ts",
    "title",
    "content_html",
    "content_text",
    "extracted",
    "next_page_url",
    "spans",
    "conv_offset",
    "error",
]


# ties on turn_idx break on every other output column, so the copy kept
# of a repeated (conv_id, turn_idx) does not depend on the shuffle
_TIE_BREAK = [c for c in OUTPUT_COLUMNS if c not in ("conv_id", "turn_idx", "conv_offset")]


def with_conv_offsets(df, partition_cols=("conv_id",)):
    """One row per ``(conv_id, turn_idx)`` with its cumulative char
    offset within the conversation: a window over ``partition_cols``,
    which must hold ``conv_id``. A column that is a function of
    ``conv_id`` may lead them, as the write's ``bucket`` does, so the
    window reuses an exchange on that column.

    A repeated turn keeps the first of its copies in ``(turn_idx,
    *_TIE_BREAK)`` order; the others are dropped before the running sum,
    so a redelivered turn is written once and counted once. Both windows
    share one partitioning and order, hence one sort."""
    w = Window.partitionBy(*partition_cols).orderBy("turn_idx", *_TIE_BREAK)
    return (
        df.withColumn("_repeat", F.lag("turn_idx").over(w).eqNullSafe(F.col("turn_idx")))
        .where(~F.col("_repeat"))
        .drop("_repeat")
        .withColumn(
            "conv_offset",
            F.coalesce(
                F.sum(F.length("content_text")).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
    )


def salted(df, *keys):
    """``df`` hash-repartitioned on ``xxhash64(*keys)`` into 2x the
    cluster's default parallelism: the explicit shuffle ahead of a
    Python-UDF stage. It decorrelates the stage from payload skew — long
    conversations and heavy payloads (150 KB pages cost ~50x a chat
    turn) otherwise pin whole tasks, a single parquet file arrives as one
    split, and AQE cannot rebalance *inside* the UDF stage. 2x is the
    measured optimum on local[32]: it beats 1x by ~60% via finer skew
    spreading, and beats 4x-10x, where per-task Arrow/runner overhead
    dominates."""
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.xxhash64(*keys))


def extract_transcripts(df, include_html=True, with_conv_offset=True):
    """Transcripts DataFrame -> extracted DataFrame (lazy; no action).

    ``with_conv_offset=False`` returns ``OUTPUT_COLUMNS`` without
    ``conv_offset``: the front that ``run_extract_job`` windows on its
    own exchange and that streams use as is.

    A batch input is ``salted`` on ``(conv_id, turn_idx)`` before the
    UDF; a streaming one is not, so each micro-batch reaches the UDF
    without a shuffle.

    Each Python worker process pays a fixed cost once, about 0.11-0.21 s
    on a 4-core box under Python 3.11: PySpark's worker calls
    ``importlib.invalidate_caches()`` before every task, and on Python
    < 3.13 that makes every cached zip importer re-read its archive's
    directory. A pandas-UDF worker holds 16 over Spark's own archives:
    twelve over ``pyspark.zip`` (about 10 ms each), two over the 15 MB
    spark-core jar (about 42 ms each, half the cost) and two over py4j.
    Importing this package in a worker makes those calls stat-keyed
    (``session.install_zip_invalidation``), so only a worker's first
    task pays, and the second wave of tasks under the 2x salt does not.
    """
    out = df.select("conv_id", "turn_idx", "role", "tool", "ts", "text")
    # native prefilter (reaches the scan); null/empty rows short-circuit
    # inside the UDF anyway, but skipping them avoids shipping the rows
    out = out.where(F.col("text").isNotNull() & (F.length("text") > 0))
    if not df.isStreaming:
        out = salted(out, "conv_id", "turn_idx")

    out = extract_columns(out, include_html=include_html)
    out = out.drop("text")

    if not with_conv_offset:
        return out.select(*(c for c in OUTPUT_COLUMNS if c != "conv_offset"))
    # the only conv_id-keyed shuffle in the query
    return with_conv_offsets(out).select(*OUTPUT_COLUMNS)


def run_extract_job(
    spark,
    source_df,
    out_path,
    run_id=None,
    n_buckets=lineage.N_BUCKETS,
    include_html=True,
    resume=True,
):
    """Full job with lineage commits and optional resume.

    After the UDF the rows take one exchange, ``repartition(bucket)``;
    the conversation window runs over ``(bucket, conv_id)`` on top of
    it, and its sort is the one the write needs.

    Returns a dict with run metrics: ``rows`` written, wall seconds,
    buckets written and counters observed on the rows this run
    extracted: ``extracted_rows``, ``chars`` of content text and
    ``errors``. They and the bucket manifests come from one observation
    on the write's own pass.
    """
    run_id = run_id or uuid.uuid4().hex

    df = lineage.filter_uncommitted(source_df, out_path, n_buckets) if resume else source_df
    extracted = extract_transcripts(df, include_html=include_html, with_conv_offset=False)
    out = with_conv_offsets(
        lineage.with_bucket(extracted, n_buckets).repartition(lineage.BUCKET_COL),
        (lineage.BUCKET_COL, "conv_id"),
    )

    t0 = time.monotonic()
    manifests, counters = lineage.write_partitioned(
        out.select(*OUTPUT_COLUMNS, lineage.BUCKET_COL),
        out_path,
        run_id,
        n_buckets,
        counters=(
            F.coalesce(F.sum(F.col("extracted").cast("long")), F.lit(0)).alias("extracted_rows"),
            F.coalesce(F.sum(F.length("content_text").cast("long")), F.lit(0)).alias("chars"),
            F.count(F.col("error")).alias("errors"),
        ),
    )
    wall = time.monotonic() - t0

    total_rows = sum(m["rows"] for m in manifests.values())
    return {
        "run_id": run_id,
        "buckets_written": len(manifests),
        "rows": total_rows,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(total_rows / wall, 1) if wall > 0 else None,
        **counters,
    }
