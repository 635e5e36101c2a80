"""Golden-parquet oracles for the extraction queries.

The four ``extract_*`` queries run the pure-Python NReadability core
inside Spark (pandas UDF / applyInPandas), so no DuckDB SQL can express
them directly. But the core IS pure Python: this tool re-runs it
single-process (no Spark — an independent execution path: plain loops
instead of Arrow batches, a dict cumsum instead of a window, a sequential
stitch instead of applyInPandas) over the same deterministic inputs and
freezes the results as parquet under ``golden/<sf_name>/``. The driver's
oracle then becomes plain DuckDB SQL (``SELECT * FROM read_parquet(...)``)
and the extraction queries get the same rows+schema+hash check as every
relational query.

Usage: python tools/make_extract_golden.py [sf_dir ...]
       (default: sf0.001 sf0.01 sf0.1)

Inputs replicated here, bit-for-bit with the Spark-side builders:
- documents.parquet text payloads (extract_documents);
- the page shell of ``__spark_entry__._doc_pages`` (F.concat ->
  f-string);
- ``sources.synth.generate_conversation`` (already pure Python; the
  Spark query only distributes it);
- the paginated-crawl rendering of ``operators.stitch.stitched_documents``
  (F.concat -> f-string) + ``core.weblike.web_transcode``.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from nreadability_spark.core.pdf import extract_pdf, looks_like_pdf  # noqa: E402
from nreadability_spark.core.transcoder import extract  # noqa: E402

PAGES_PER_CONV = 3  # operators/stitch.py PAGES_PER_CONV


def _read_documents(sf_dir):
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    con.close()
    return rows


def _doc_page_shell(doc_id, text):
    """Pure-Python twin of __spark_entry__._doc_pages's F.concat
    (single-sourced in synth; byte parity with the Spark concat is
    checked by the extract_doc_pages CORRECTNESS row itself)."""
    from nreadability_spark.sources.synth import doc_page_shell

    return doc_page_shell(doc_id, text)


def _extract_fields(text):
    """(extracted, title, content_len, n_spans, error) of one payload.

    A dispatch of its own, not the UDF's ``_extract_one``: the goldens
    must not share the UDF's shortcuts (the markup-free constant row,
    the skipped serializations) with the query they check. Errors are
    caught and formatted as the UDF does."""
    try:
        if not text:
            return False, None, 0, 0, None
        r = extract_pdf(text) if looks_like_pdf(text) else extract(text)
        return bool(r.extracted), r.title, len(r.content_text), len(r.spans), None
    except Exception as exc:  # noqa: BLE001 — the UDF's error column
        return False, None, 0, 0, f"{type(exc).__name__}: {exc}"[:500]


def _extract_row(args):
    doc_id, text = args
    return (doc_id, *_extract_fields(text))


_DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("extracted", pa.bool_()),
        ("title", pa.string()),
        ("content_len", pa.int64()),
        ("n_spans", pa.int64()),
        ("error", pa.string()),
    ]
)


def golden_documents(pool, docs, out_dir):
    rows = pool.map(_extract_row, docs, chunksize=16)
    _write(out_dir, "expected_extract_documents.parquet", rows, _DOC_SCHEMA)


def golden_doc_pages(pool, docs, out_dir):
    shelled = [(doc_id, _doc_page_shell(doc_id, text)) for doc_id, text in docs]
    rows = pool.map(_extract_row, shelled, chunksize=16)
    _write(out_dir, "expected_extract_doc_pages.parquet", rows, _DOC_SCHEMA)


# --- mixed media (html + pdf dispatch) ---------------------------------

def _mixed_payload(doc_id, text):
    from nreadability_spark.sources.synth import mixed_payload_for

    return mixed_payload_for(doc_id, text)


def _mixed_row(args):
    doc_id, text = args
    kind, payload = _mixed_payload(doc_id, text)
    return (doc_id, kind, *_extract_fields(payload))


_MIXED_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("kind", pa.string()),
        ("extracted", pa.bool_()),
        ("title", pa.string()),
        ("content_len", pa.int64()),
        ("n_spans", pa.int64()),
        ("error", pa.string()),
    ]
)


def golden_mixed_media(pool, docs, out_dir):
    rows = pool.map(_mixed_row, docs, chunksize=16)
    _write(out_dir, "expected_extract_mixed_media.parquet", rows, _MIXED_SCHEMA)


# --- transcripts -------------------------------------------------------

def _conv_rows(conv_idx):
    """One conversation end-to-end: generate (no fixture pages, as
    ``__spark_entry__._extract_transcripts``) -> filter empty/null (the
    Spark job's native prefilter) -> extract -> running conv_offset."""
    from nreadability_spark.sources.synth import generate_conversation

    out = []
    cum = 0
    for conv_id, turn_idx, _role, text, _tool, _ts in generate_conversation(
        conv_idx, ()
    ):
        if text is None or text == "":
            continue  # extract_transcripts prefilters these rows out
        extracted, _title, n, _spans, _error = _extract_fields(text)
        out.append((conv_id, turn_idx, extracted, n, cum))
        cum += n
    return out


_TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("extracted", pa.bool_()),
        ("content_len", pa.int64()),
        ("conv_offset", pa.int64()),
    ]
)


def golden_transcripts(pool, sf_dir, out_dir):
    n_convs = 60 if "0.001" in sf_dir else 200  # __spark_entry__ rule
    per_conv = pool.map(_conv_rows, range(n_convs), chunksize=4)
    rows = [r for conv in per_conv for r in conv]
    _write(out_dir, "expected_extract_transcripts.parquet", rows, _TRANSCRIPT_SCHEMA)


# --- stitched paginated crawls -----------------------------------------

def _crawl_page(conv, page_no, text):
    """Exact replica of operators/stitch.py stitched_documents' F.concat."""
    next_link = (
        f'<div class="pagination"><a href="http://synth.example/{conv}/page/{page_no + 1}">'
        "Next Page &raquo;</a></div>"
        if page_no < PAGES_PER_CONV
        else ""
    )
    return (
        f"<html><head><title>Article {conv} | Synth</title></head><body>"
        '<div id="header"><a href="/">Home</a></div>'
        f'<div class="content"><h1>Article {conv}</h1><p>{text}</p></div>'
        f'{next_link}<div id="footer">footer junk</div></body></html>'
    )


def _stitch_conv(args):
    conv_id, turn_pages = args
    from nreadability_spark.core.weblike import web_transcode

    turn_pages.sort()  # by turn_idx (operator sorts the group)
    pages = {url: html for _t, url, html in turn_pages}
    start_url = turn_pages[0][1]
    html, extracted, n_pages = web_transcode(pages.get, start_url, options=None)
    return (conv_id, bool(extracted), int(n_pages), len(html) if html else 0)


_STITCH_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("extracted", pa.bool_()),
        ("n_pages_visited", pa.int32()),
        ("content_len", pa.int64()),
    ]
)


def golden_stitch(pool, docs, out_dir):
    convs = {}
    for doc_id, text in docs:
        conv = f"conv{doc_id // PAGES_PER_CONV}"
        turn = doc_id % PAGES_PER_CONV
        page_no = turn + 1
        url = f"http://synth.example/{conv}" + ("" if turn == 0 else f"/page/{page_no}")
        convs.setdefault(conv, []).append((turn, url, _crawl_page(conv, page_no, text)))
    rows = pool.map(_stitch_conv, sorted(convs.items()), chunksize=8)
    _write(out_dir, "expected_extract_stitch.parquet", rows, _STITCH_SCHEMA)


def _write(out_dir, fname, rows, schema):
    cols = list(zip(*rows)) if rows else [[] for _ in schema.names]
    table = pa.table(
        {name: list(col) for name, col in zip(schema.names, cols)}, schema=schema
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, fname)
    pq.write_table(table, path, compression="zstd")
    print(f"  {fname}: {len(rows)} rows -> {path}")


def main():
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    with mp.Pool() as pool:
        for sf_dir in sf_dirs:
            t0 = time.time()
            sf_name = os.path.basename(sf_dir.rstrip("/"))
            out_dir = os.path.join(_REPO_DIR, "golden", sf_name)
            print(f"{sf_name}:")
            docs = _read_documents(sf_dir)
            golden_documents(pool, docs, out_dir)
            golden_doc_pages(pool, docs, out_dir)
            golden_mixed_media(pool, docs, out_dir)
            golden_transcripts(pool, sf_dir, out_dir)
            golden_stitch(pool, docs, out_dir)
            print(f"  done in {time.time() - t0:.1f}s")


if __name__ == "__main__":
    main()
