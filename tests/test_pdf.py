"""PDF/layout-parse branch: the mini extractor in core/pdf.py and its
dispatch inside the extraction UDF.
"""

import zlib

import pytest

from nreadability_spark.core.pdf import (
    PdfGated,
    extract_pdf,
    looks_like_pdf,
    _unescape_pdf_string,
)
from nreadability_spark.sources.synth import build_pdf, pdf_paragraphs

PARAS = [
    "First paragraph with a decent number of words so it wraps over more than one line easily",
    "Second paragraph, shorter.",
    "Third paragraph also carries enough words to wrap across two separate lines of layout",
]


@pytest.mark.parametrize("compress", [False, True])
def test_roundtrip_paragraphs_and_title(compress):
    pdf = build_pdf("A (Title) \\ here", PARAS, compress_streams=compress)
    assert looks_like_pdf(pdf)
    r = extract_pdf(pdf)
    assert r.extracted
    assert r.title == "A (Title) \\ here"
    assert [r.content_text[s:e] for s, e in r.spans] == PARAS


def test_layout_orders_by_position_not_stream_order():
    """Runs emitted bottom-up / right-to-left in the content stream must
    come back in reading order (top-to-bottom, left-to-right)."""
    content = (
        "BT /F1 12 Tf "
        "1 0 0 1 200 700 Tm (right) Tj "
        "1 0 0 1 72 650 Tm (below) Tj "
        "1 0 0 1 72 700 Tm (left) Tj "
        "ET"
    )
    pdf = (
        "%PDF-1.4\n4 0 obj <</Length " + str(len(content)) + ">>\nstream\n"
        + content + "endstream endobj\ntrailer << /Root 1 0 R >>\n"
    )
    r = extract_pdf(pdf)
    assert r.content_text.startswith("left right")
    assert "below" in r.content_text
    # 50pt gap > PARA_GAP: 'below' is its own paragraph
    assert [r.content_text[s:e] for s, e in r.spans] == ["left right", "below"]


def test_td_tstar_and_tj_array_operators():
    content = (
        "BT 12 TL 72 720 Td [(He) -20 (llo)] TJ T* (world) Tj 0 -40 Td (far) Tj ET"
    )
    pdf = (
        "%PDF-1.4\n4 0 obj <</Length " + str(len(content)) + ">>\nstream\n"
        + content + "endstream endobj\ntrailer\n"
    )
    r = extract_pdf(pdf)
    paras = [r.content_text[s:e] for s, e in r.spans]
    assert paras == ["Hello world", "far"]  # 12pt leading joins, 40pt splits


def test_string_escapes():
    assert _unescape_pdf_string(rb"a\(b\)c \\ \n \101 \x") == "a(b)c \\ \n A x"


def test_hex_strings():
    content = "BT 72 720 Td <48656C6C6F> Tj ET"
    pdf = (
        "%PDF-1.4\n4 0 obj <</Length " + str(len(content)) + ">>\nstream\n"
        + content + "endstream endobj\ntrailer\n"
    )
    assert extract_pdf(pdf).content_text == "Hello"


def test_encrypted_is_gated():
    pdf = build_pdf("t", ["x"]).replace("trailer <<", "trailer << /Encrypt 9 0 R")
    with pytest.raises(PdfGated):
        extract_pdf(pdf)


def test_unsupported_filter_stream_is_skipped():
    content = zlib.compress(b"BT 72 720 Td (flate) Tj ET").decode("latin-1")
    bad = "4 0 obj <</Length 3 /Filter /DCTDecode>>\nstream\nxxxendstream endobj\n"
    good = (
        "5 0 obj <</Length " + str(len(content)) + " /Filter /FlateDecode>>\nstream\n"
        + content + "endstream endobj\n"
    )
    r = extract_pdf("%PDF-1.4\n" + bad + good + "trailer\n")
    assert r.content_text == "flate"


def test_stream_body_cannot_supply_title_or_trip_encrypt_gate():
    """Hostile/coincidental page text: an uncompressed content stream
    containing literal ``/Title (fake)`` and ``/Encrypt`` BEFORE the
    Info dict must neither supply the title nor gate the file — the
    metadata scans search only outside stream...endstream bodies."""
    content = "BT /F1 12 Tf 1 0 0 1 72 720 Tm (visible text) Tj ET\n% /Title (fake) /Encrypt\n"
    pdf = (
        "%PDF-1.4\n"
        "4 0 obj <</Length " + str(len(content)) + ">>\nstream\n"
        + content + "endstream endobj\n"
        "5 0 obj << /Title (Real Title) >> endobj\n"
        "trailer << /Root 1 0 R /Info 5 0 R >>\n%%EOF\n"
    )
    r = extract_pdf(pdf)
    assert r.extracted
    assert r.title == "Real Title"
    assert r.content_text == "visible text"


def test_malformed_inputs_never_raise():
    for payload in ["%PDF-1.4", "%PDF-1.4\nstream\nendstream", "%PDF-\x00\xff garbage",
                    "%PDF-1.4\n" + "(" * 1000, "%PDF-1.4\n<<<<>>"]:
        r = extract_pdf(payload)
        assert r.extracted is False


def test_udf_dispatch_routes_pdf_and_html():
    from nreadability_spark.operators.extract import _extract_one

    pdf_row = _extract_one(build_pdf("PDF Title", PARAS), None)
    assert pdf_row["extracted"] and pdf_row["title"] == "PDF Title"
    html_row = _extract_one(
        "<html><body><div><p>"
        + ("Plain html article text, with commas, scoring well. " * 15)
        + "</p></div></body></html>",
        None,
    )
    assert html_row["extracted"] and html_row["next_page_url"] is None
    gated = _extract_one(
        build_pdf("t", ["x"]).replace("trailer <<", "trailer << /Encrypt 9 0 R"), None
    )
    assert gated["extracted"] is False
    assert "PdfGated" in gated["error"]


def _flate_pdf(body: bytes) -> str:
    return (
        "%PDF-1.4\n4 0 obj <</Length " + str(len(body)) + " /Filter /FlateDecode>>\nstream\n"
        + body.decode("latin-1") + "\nendstream endobj\ntrailer << /Root 1 0 R >>\n"
    )


def test_flate_bomb_is_an_error_row():
    """A 255 kB stream of deflated spaces would inflate to 256 MB: the
    row stops at the inflation budget and carries the error. Streams
    under the budget extract as before, and a truncated one is skipped
    as a corrupt one is."""
    import time

    from nreadability_spark.operators.extract import _extract_one

    bomb = zlib.compressobj(9)
    body = b"".join(bomb.compress(b" " * (1 << 20)) for _ in range(256)) + bomb.flush()
    t0 = time.monotonic()
    row = _extract_one(_flate_pdf(body), None)
    assert time.monotonic() - t0 < 1.0
    assert row["extracted"] is False
    assert row["error"].startswith("PdfOverBudget")

    compressed = build_pdf("t", PARAS, compress_streams=True)
    assert extract_pdf(compressed) == extract_pdf(build_pdf("t", PARAS))
    assert _extract_one(compressed, None)["error"] is None
    stream = zlib.compress(b"BT 72 720 Td (visible text) Tj ET")
    assert extract_pdf(_flate_pdf(stream)).content_text == "visible text"
    truncated = _extract_one(_flate_pdf(stream[:-6]), None)
    assert (truncated["extracted"], truncated["error"]) == (False, None)


def test_pdf_paragraphs_split_is_deterministic():
    text = " ".join(f"w{i}" for i in range(50))
    paras = pdf_paragraphs(text, words_per_para=24)
    assert len(paras) == 3
    assert paras[0].split()[0] == "w0" and paras[2].split()[-1] == "w49"
    assert pdf_paragraphs("") == [""]


# --- property-based roundtrip ------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _word = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789()\\éü,.!?",
        min_size=1, max_size=10,
    )
    _para = st.lists(_word, min_size=1, max_size=40).map(" ".join)

    @settings(max_examples=80, deadline=None)
    @given(
        st.lists(_para, min_size=1, max_size=6),
        _para,
        st.booleans(),
    )
    def test_build_extract_roundtrip_property(paras, title, compress):
        """Any builder output must extract back to exactly its input
        paragraphs and title — parens, backslashes, latin-1 accents,
        Flate compression included."""
        pdf = build_pdf(title, paras, compress_streams=compress)
        r = extract_pdf(pdf)
        assert r.extracted
        assert r.title == title
        # builder normalizes intra-paragraph whitespace to single spaces
        want = [" ".join(p.split()) for p in paras]
        assert [r.content_text[s:e] for s, e in r.spans] == want
except ImportError:  # pragma: no cover
    pass
