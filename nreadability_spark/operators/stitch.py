"""Conversation-level multi-page stitching (O27 / WebTranscoder as a
Spark operator).

The reference follows next-page links over HTTP; in the table-native
engine a conversation's rows ARE the crawl: each turn carries (url,
html). ``stitch_conversations`` groups by ``conv_id`` with
``applyInPandas`` and runs the pure-Python ``web_transcode`` port per
group, with the fetcher resolving URLs against the group's own rows —
no network, deterministic, and distributable.

Scale notes:
- one shuffle, keyed by conv_id (same key as the bucketed output
  layout, so in the full pipeline this co-partitions with the write);
- per-group memory is bounded: the reference's own 30-page cap
  (weblike.MAX_PAGES) bounds the stitched document size;
- group skew is conversation-length skew, bounded by the same cap —
  no salting needed for this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nreadability_spark.functions.ordering import ordered_small
from nreadability_spark.operators.textops import load_documents

STITCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("extracted", T.BooleanType()),
        T.StructField("n_pages_visited", T.IntegerType()),
        T.StructField("content_len", T.LongType()),
        T.StructField("html", T.StringType()),
    ]
)


def stitch_conversations(df: DataFrame, include_html: bool = True) -> DataFrame:
    """(conv_id, turn_idx, url, text) -> one stitched article per
    conversation. The first page (min turn_idx) is the start URL."""

    def stitch(pdf):
        import pandas as pd

        from nreadability_spark.core.weblike import web_transcode

        pdf = pdf.sort_values("turn_idx")
        pages = dict(zip(pdf["url"], pdf["text"]))
        start_url = pdf.iloc[0]["url"]
        html, extracted, n_pages = web_transcode(pages.get, start_url)
        return pd.DataFrame(
            [
                {
                    "conv_id": pdf.iloc[0]["conv_id"],
                    "extracted": bool(extracted),
                    "n_pages_visited": int(n_pages),
                    "content_len": len(html) if html else 0,
                    "html": (html if include_html else "") or "",
                }
            ]
        )

    # explicit user repartition before the groupBy: AQE coalesces
    # small shuffles by BYTE size (a few MB of pages -> ONE partition)
    # and is blind to the Python stitching cost per row, which would
    # serialize every conversation through a single worker. A
    # REPARTITION_BY_NUM exchange is never coalesced, and the groupBy
    # reuses its clustering (no second shuffle).
    n_parts = 2 * df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select("conv_id", "turn_idx", "url", "text")
        .repartition(n_parts, "conv_id")
        .groupBy("conv_id")
        .applyInPandas(stitch, schema=STITCH_RESULT_SCHEMA)
    )


# --- queries() entry: synthetic paginated crawls from documents --------

def _page_html(conv_id, page_no, n_pages, body_text):
    """Deterministic paginated article page: readability-shaped layout
    plus a next-page link for every page but the last."""
    next_link = (
        f'<div class="pagination"><a href="http://synth.example/{conv_id}/page/{page_no + 1}">'
        "Next Page &raquo;</a></div>"
        if page_no < n_pages
        else ""
    )
    return (
        f"<html><head><title>Article {conv_id} | Synth</title></head><body>"
        f'<div id="header"><a href="/">Home</a></div>'
        f'<div class="content"><h1>Article {conv_id}</h1><p>{body_text}</p></div>'
        f"{next_link}"
        f'<div id="footer">footer junk</div></body></html>'
    )


PAGES_PER_CONV = 3


def stitched_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents regrouped as paginated crawls: every ``PAGES_PER_CONV``
    consecutive docs form one multi-page article; pages are stitched
    per conversation (rows-only check — the stitcher is pure Python).

    Page rendering is pure string assembly, so it runs JVM-side
    (``concat`` expressions) — the stitcher's ``applyInPandas`` is the
    only Python stage. The single-file parquet scan is pre-spread so
    the conv_id shuffle reads from parallel map tasks."""
    docs = load_documents(spark, sf_dir).repartition(
        2 * spark.sparkContext.defaultParallelism, F.xxhash64("doc_id")
    )
    n = F.lit(PAGES_PER_CONV)
    conv = F.concat(F.lit("conv"), (F.col("doc_id") / n).cast("long").cast("string"))
    page_no = (F.col("doc_id") % n + 1).cast("int")
    next_link = F.when(
        page_no < PAGES_PER_CONV,
        F.concat(
            F.lit('<div class="pagination"><a href="http://synth.example/'),
            conv,
            F.lit("/page/"),
            (page_no + 1).cast("string"),
            F.lit('">Next Page &raquo;</a></div>'),
        ),
    ).otherwise(F.lit(""))
    page_html = F.concat(
        F.lit("<html><head><title>Article "), conv,
        F.lit(' | Synth</title></head><body><div id="header"><a href="/">Home</a></div>'
              '<div class="content"><h1>Article '), conv,
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p></div>"), next_link,
        F.lit('<div id="footer">footer junk</div></body></html>'),
    )
    crawl = docs.select(
        conv.alias("conv_id"),
        (F.col("doc_id") % n).cast("int").alias("turn_idx"),
        F.concat(
            F.lit("http://synth.example/"), conv,
            F.when(F.col("doc_id") % n == 0, F.lit("")).otherwise(
                F.concat(F.lit("/page/"), page_no.cast("string"))
            ),
        ).alias("url"),
        page_html.alias("text"),
    )
    out = stitch_conversations(crawl, include_html=False)
    return ordered_small(
        out.select("conv_id", "extracted", "n_pages_visited", "content_len"), "conv_id"
    )


QUERIES = {"extract_stitch_conversations": stitched_documents}
ORACLES = {}  # pure-Python stitcher: rows-only check by design
