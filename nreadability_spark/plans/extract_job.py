"""The end-to-end extraction job (SURVEY.md §3.4):

    scan -> null-prefilter -> salted repartition -> Arrow-batched
    extraction UDF -> conversation window (cumulative offsets) ->
    bucketed, sorted, lineage-committed write

Scale design notes (the parts that must survive 1000 executors / 100 TB):

- **pre-filter pushes down**: the null/empty text filter is a native
  ``where`` before the UDF, so it reaches the parquet/Iceberg scan
  (PushedFilters), and column pruning keeps the scan to the 6 input
  columns;
- **payload-length skew, not key skew**: extraction is row-local, so the
  UDF stage is decorrelated from conversation length by repartitioning
  on ``xxhash64(conv_id, turn_idx)`` — a 10k-turn conversation spreads
  over the whole cluster instead of pinning one task;
- **one keyed shuffle after the UDF**: ``bucket`` is a function of
  ``conv_id``, so ``run_extract_job`` runs the conversation-offset
  window partitioned by ``(bucket, conv_id)`` right after the write's
  ``repartition(bucket)``. The wide payload (``content_html``,
  ``content_text``, ``spans``) crosses one exchange after the UDF, and
  the window's sort is the one the write needs;
- **AQE on**: it coalesces the small partitions of the bucket
  exchange (a ``repartition`` by column, no count); the salt exchange
  has an explicit count, which AQE keeps. AQE splits skewed partitions
  only for joins and ``rebalance``, never for a ``repartition``, so the
  salt above stays the skew remedy;
- **Arrow batch cap**: large HTML rows x default 10k-row batches would
  be GiB-scale per worker; ``tune_session`` caps records per batch.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import Window
from pyspark.sql import functions as F

from nreadability_spark.functions.prefix import exclusive_prefix_sum
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


def tune_session(spark, arrow_batch_rows=512):
    """Session knobs the job depends on; idempotent."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def with_conv_offsets(df, partition_cols=("conv_id",)):
    """Cumulative char offset of each turn within its conversation: a
    window over ``partition_cols``, which must hold ``conv_id``. A column
    that is a function of ``conv_id`` may lead them, as the write's
    ``bucket`` does, so the window reuses an exchange on that column."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return df.withColumn(
        "conv_offset",
        F.coalesce(F.sum(F.length("content_text")).over(w), F.lit(0)).cast("long"),
    )


def with_conv_offsets_two_phase(df, block_size=1024, length_col="content_text"):
    """Conversation-cumulative char offsets via a two-phase salted
    aggregation (SURVEY.md §4.3.2) — the skew-proof alternative to the
    plain window for pathological conversations.

    The plain ``Window.partitionBy(conv_id)`` puts an entire
    conversation in ONE task; a 10^6-turn conversation pins it. Here the
    turns group into ``turn_idx div block_size`` blocks and the offset
    is a blocked prefix sum per conversation (``functions.prefix``), so
    no task holds more than ``block_size`` turns or one conversation's
    block sums. Exactly equals the single-window result (tests assert
    it).
    """
    out = df.withColumn(
        "_len", F.coalesce(F.length(length_col).cast("long"), F.lit(0))
    )
    return exclusive_prefix_sum(
        out, "_len", "turn_idx", "conv_offset", block_size, ("conv_id",)
    ).drop("_len")


def extract_transcripts(
    df,
    options=None,
    include_html=True,
    salt_partitions="auto",
    with_conv_offset=True,
    conv_offset_strategy="window",
):
    """Transcripts DataFrame -> extracted DataFrame (lazy; no action).

    ``with_conv_offset=False`` returns ``OUTPUT_COLUMNS`` without
    ``conv_offset``: the front that ``run_extract_job`` windows on its
    own exchange and that streams use as is (with ``salt_partitions``
    None).

    ``salt_partitions``: explicit shuffle decorrelating payload skew
    before the UDF stage — long conversations and heavy payloads (150 KB
    pages cost ~50x a chat turn) otherwise pin whole tasks, and AQE
    cannot rebalance *inside* the UDF stage. "auto" = 2x the cluster's
    default parallelism — measured optimum on local[32] (2x beats 1x by
    ~60% via finer skew spreading, and beats 4x-10x, where per-task
    Arrow/runner overhead dominates). Pass None to disable when the
    input is already hash-distributed.

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

    if salt_partitions == "auto":
        salt_partitions = 2 * df.sparkSession.sparkContext.defaultParallelism
    if salt_partitions:
        out = out.repartition(salt_partitions, F.xxhash64("conv_id", "turn_idx"))

    out = extract_columns(out, options=options, include_html=include_html)
    out = out.drop("text")

    if not with_conv_offset:
        return out.select(*(c for c in OUTPUT_COLUMNS if c != "conv_offset"))
    if conv_offset_strategy == "two_phase":
        # skew-proof offsets for pathological conversations (§4.3.2)
        out = with_conv_offsets_two_phase(out)
    else:
        # the only conv_id-keyed shuffle in the query
        out = with_conv_offsets(out)
    return out.select(*OUTPUT_COLUMNS)


def run_extract_job(
    spark,
    source_df,
    out_path,
    run_id=None,
    n_buckets=32,
    options=None,
    include_html=True,
    salt_partitions="auto",
    resume=True,
    conv_offset_strategy="window",
):
    """Full job with lineage commits and optional resume.

    After the UDF the rows take one exchange, ``repartition(bucket)``;
    the conversation window runs over ``(bucket, conv_id)`` on top of
    it, and its sort is the one the write needs. ``"two_phase"`` swaps
    the window for ``with_conv_offsets_two_phase``, whose own exchanges
    then come before the bucket repartition.

    Returns a dict with run metrics: ``rows`` written, wall seconds,
    buckets written and counters observed on the rows this run
    extracted: ``extracted_rows``, ``chars`` of content text and
    ``errors``. They and the bucket manifests come from one observation
    on the write's own pass.
    """
    tune_session(spark)
    run_id = run_id or uuid.uuid4().hex

    df = lineage.filter_uncommitted(source_df, out_path, n_buckets) if resume else source_df
    extracted = extract_transcripts(
        df,
        options=options,
        include_html=include_html,
        salt_partitions=salt_partitions,
        with_conv_offset=False,
    )
    out = lineage.with_bucket(extracted, n_buckets)
    if conv_offset_strategy == "two_phase":
        out = with_conv_offsets_two_phase(out).repartition(lineage.BUCKET_COL)
    else:
        out = with_conv_offsets(
            out.repartition(lineage.BUCKET_COL), (lineage.BUCKET_COL, "conv_id")
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
