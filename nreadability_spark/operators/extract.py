"""The extraction operator: an Arrow-batched pandas UDF wrapping the
pure-Python core.

This is the single Python-side operator of the engine (SURVEY.md §2.1
runs entirely inside it); everything around it stays JVM-side. Design
constraints it satisfies:

- zero per-row Python dispatch: one Python invocation per Arrow batch
  (``pandas_udf``), matching the north-star requirement;
- a hostile row can never fail a task: per-row try/except emits an
  ``error`` column instead (a 10^12-row job must survive bad payloads);
- deterministic: the core is a pure function, so Spark is free to retry
  or speculate tasks without changing results;
- worker memory bounded: callers should cap
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (``session.get_spark``
  sets ``session.ARROW_BATCH_ROWS``) because HTML payloads are large;
- only read outputs are computed: the core never builds the reading
  page (``ExtractResult.html``), and builds ``content_html`` only under
  ``include_html``.

Row dispatch, first match wins:

1. null or empty text: the empty row;
2. markup-free text, i.e. no ``<``, no ``&`` and no ``%PDF-`` prefix:
   the constant row, without calling the core — ``title=None``,
   ``content_text=""``, ``extracted=False``, ``next_page_url=None``,
   ``spans=[]``, ``error=None`` and ``content_html="<div />"`` (``""``
   without ``include_html``);
3. a ``%PDF-`` prefix: the layout parser in ``core.pdf``;
4. anything else: the NReadability HTML core.

Why row 2 is the core's row: without ``<`` the parser sees no tag, and
without ``&`` there is no entity, so the document is at most one
implied ``<html>`` root holding the text directly. There is no element,
so there is no body, no ``<title>`` or ``<h1>`` and no candidate: the
core creates an empty body, the top candidate falls back to it, and the
article is an empty ``<div />`` with no text and no spans. The prefix
test keeps PDF payloads on their own parser. ``tests/test_fuzz.py``
checks the row against the full core over arbitrary markup-free text,
on both sides of the 250-char fallback threshold and under every
option flag.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nreadability_spark.core.pdf import extract_pdf, looks_like_pdf
from nreadability_spark.core.transcoder import DEFAULT_OPTIONS, extract

EXTRACT_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("content_html", T.StringType()),
        T.StructField("content_text", T.StringType()),
        T.StructField("extracted", T.BooleanType()),
        T.StructField("next_page_url", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.IntegerType()),
                        T.StructField("end", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("error", T.StringType()),
    ]
)

_EMPTY_ROW = {
    "title": None,
    "content_html": "",
    "content_text": "",
    "extracted": False,
    "next_page_url": None,
    "spans": [],
    "error": None,
}

# the core's row for every markup-free text (module docstring)
_MARKUP_FREE_ROW = dict(_EMPTY_ROW, content_html="<div />")


def _extract_one(text, options, include_html=True):
    """One payload -> result row, in the dispatch order of the module
    docstring. Both parsers emit the same struct; ``content_html`` is
    built only when ``include_html`` is set."""
    if text is None or text == "":
        return dict(_EMPTY_ROW)
    if "<" not in text and "&" not in text and not looks_like_pdf(text):
        return dict(_MARKUP_FREE_ROW if include_html else _EMPTY_ROW)
    try:
        if looks_like_pdf(text):
            result = extract_pdf(text)
            next_page_url = None
        else:
            outputs = ("content_html",) if include_html else ()
            result = extract(text, None, options, outputs=outputs)
            next_page_url = result.next_page_url
        return {
            "title": result.title,
            "content_html": result.content_html if include_html else "",
            "content_text": result.content_text,
            "extracted": result.extracted,
            "next_page_url": next_page_url,
            "spans": [{"start": s, "end": e} for s, e in result.spans],
            "error": None,
        }
    except Exception as exc:  # noqa: BLE001 — never fail the task on one row
        row = dict(_EMPTY_ROW)
        row["error"] = f"{type(exc).__name__}: {exc}"[:500]
        return row


def make_extract_udf(include_html=True):
    """Build the extraction pandas UDF (the core's ``DEFAULT_OPTIONS``).

    ``include_html=False`` drops the (large) ``content_html`` payload at
    the source — Catalyst cannot prune struct fields produced inside a
    Python UDF, so not serializing it is the pruning.
    """
    @F.pandas_udf(EXTRACT_RESULT_SCHEMA)
    def extract_udf(texts):
        import pandas as pd

        # adversarially deep DOMs: the parser keeps a list stack, but
        # hostile inputs can still nest regex/DOM work deeply
        if sys.getrecursionlimit() < 20000:
            sys.setrecursionlimit(20000)

        # columnar accumulation: dict-of-lists -> DataFrame is much
        # cheaper than list-of-dicts for wide string columns
        names = list(EXTRACT_RESULT_SCHEMA.names)
        cols = {name: [] for name in names}
        for text in texts:
            row = _extract_one(text, DEFAULT_OPTIONS, include_html)
            for name in names:
                cols[name].append(row[name])
        return pd.DataFrame(cols, columns=names)

    return extract_udf


def extract_columns(df, include_html=True):
    """Append the extraction result columns of the ``text`` column to a
    transcripts DataFrame.

    The struct is expanded into flat columns so downstream plans (window,
    write partitioning) are ordinary Catalyst expressions.
    """
    udf = make_extract_udf(include_html=include_html)
    out = df.withColumn("extract", udf(F.col("text")))
    # one analysis for all fields; like withColumn, a field named after
    # an existing column replaces it
    out = out.withColumns(
        {field: F.col(f"extract.{field}") for field in EXTRACT_RESULT_SCHEMA.names}
    )
    return out.drop("extract")
