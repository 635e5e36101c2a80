"""Property-based robustness tests (hypothesis).

A 10^12-row table WILL contain every malformed byte sequence that can
fit in a string column; the extraction core must be total (never raise)
and deterministic on all of them, and the serializer must be stable
under reparse.
"""

import re
import string
import struct
import sys

from hypothesis import given, settings
from hypothesis import strategies as st

from nreadability_spark.core import ExtractionOptions, extract
from nreadability_spark.core.dom import build_document

# HTML-ish soup: tags (balanced or not), entities, attribute junk, text
_tag_names = st.sampled_from(
    ["div", "p", "span", "a", "table", "tr", "td", "li", "ul", "script",
     "style", "br", "img", "h1", "font", "body", "html", "custom-x"]
)
_fragments = st.one_of(
    st.text(alphabet=string.printable, max_size=40),
    _tag_names.map(lambda t: f"<{t}>"),
    _tag_names.map(lambda t: f"</{t}>"),
    _tag_names.map(lambda t: f"<{t} class='sidebar' id=x>"),
    st.sampled_from(["&amp;", "&raquo;", "&#65;", "&bogus;", "&", "<", ">",
                     "<!-- c -->", "<!DOCTYPE html>", "<![CDATA[x]]>", "\x00",
                     "<p", "='", '"', "<a href=", "</", "<>", "</>"]),
)
_html_soup = st.lists(_fragments, max_size=60).map("".join)


@settings(max_examples=150, deadline=None)
@given(_html_soup)
def test_extract_is_total_and_deterministic(soup):
    r1 = extract(soup)
    r2 = extract(soup)
    assert r1.content_text == r2.content_text
    assert r1.content_html == r2.content_html
    assert r1.extracted == r2.extracted
    assert isinstance(r1.html, str)


_soup_no_rawtext = st.lists(
    _fragments.filter(lambda s: "script" not in s and "style" not in s),
    max_size=60,
).map("".join)


@settings(max_examples=150, deadline=None)
@given(_soup_no_rawtext)
def test_serializer_reparse_is_stable(soup):
    """serialize(parse(x)) must reach a fixed point by the SECOND
    application, and the second application must already be stable.
    This is what the serialized-fragment regex stages (O4/O14/O19) rely
    on — they operate on ELEMENT subtrees, for which one application
    suffices (guarded separately by the ``stable`` half of
    ``transcoder._stage_walk``).

    Why not a one-step fixed point at the DOCUMENT level: a comment
    trailing the root serializes after the final ``</html>``, which the
    next parse's tail-trim (SDB:54-66) discards — the same asymmetry
    the reference has (XDocument keeps post-root comments, the builder
    pre-trim drops them on re-entry). The trim is idempotent, so one
    extra round stabilizes.

    Rawtext elements (script/style) are excluded: SgmlReader parses
    their content as CDATA while XLinq serialization escapes text, so
    script text cannot round-trip IN THE REFERENCE EITHER — and the
    pipeline never reparses them (PrepareDocument removes scripts,
    NRT:604-615, before any serialized-fragment stage runs)."""
    s1 = build_document(soup).to_html()
    s2 = build_document(s1).to_html()
    s3 = build_document(s2).to_html()
    assert s2 == s3
    # the only permitted one-step difference is the post-root tail trim
    if s1 != s2:
        assert s1.startswith(s2)


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=100, max_value=3000))
def test_deeply_nested_input_does_not_crash(depth):
    html = "<div>" * depth + "content here" + "</div>" * depth
    r = extract(html)
    assert isinstance(r.extracted, bool)


_readable = st.sampled_from([
    "Readable sentence, with commas, that scores well in the candidate pass. " * 8,
    "More article text, plenty of commas, excellent content quality here. " * 8,
])
_mutation_soup = st.lists(
    st.one_of(
        _fragments,
        _readable,
        # shapes that become content-model violations after the div->p
        # rename (NRT:812): the reparse-elision fast path must agree with
        # the reference's always-reparse on these
        st.sampled_from([
            "<div><li>item</li></div>", "<div><p>par</p></div>",
            "<div><tr><td>c</td></tr></div>", "<div><dd>d</dd></div>",
            # leading-comment shapes: a reparse drops a comment that
            # precedes the first element/text of a fragment (pre-root
            # comments attach to the temp Document), so the elided path
            # must bail out on them
            "<div><!--lead--><p>par</p></div>", "<div><!--only--></div>",
            "<body><!--lead-->", "<!--lead-->",
            # comments in which a serialized regex stage's match may
            # start and run on into the next sibling
            "<!--<br-->", "<!--</FONT>-->",
        ]),
    ),
    max_size=40,
).map("".join)


def _extract_unelided(soup):
    """``extract`` as the reference runs it: every serialized regex stage
    substitutes and every SetInnerHtml reparses, so neither the reparse
    elision nor the trigger rule it shares with the stages is used."""
    import nreadability_spark.core.transcoder as T

    orig = T._stage_walk
    T._stage_walk = lambda *args: (False, True)
    try:
        return extract(soup)
    finally:
        T._stage_walk = orig


def test_leading_comment_elision_matches_reparse():
    """Deterministic regression for the pre-root-comment divergence: a
    comment BEFORE the first element of a fragment is attached to the
    temp Document by the reparse and dropped by set_inner_html, so the
    elided fast path must not keep it either."""
    body = "Readable sentence, with commas, that scores well in the pass. " * 10
    for soup in (
        f"<html><body><!--lead--><p>{body}</p></body></html>",
        f"<div><!--lead--><p>{body}</p></div>",
        f"<div><!--only--></div><p>{body}</p>",
    ):
        fast = extract(soup)
        slow = _extract_unelided(soup)
        assert fast.content_html == slow.content_html, soup
        assert fast.html == slow.html, soup


def test_html_element_elision_matches_reparse():
    """Deterministic regression: ``<body><html>`` builds an ``html``
    element inside the body. Reparsing a subtree that holds it makes it
    the temp document's root, or cuts the input after its ``</html>``,
    so the elided fast path must take the real reparse too."""
    body = "Readable sentence, with commas, that scores well in the pass. " * 10
    for soup in (
        f"<body><html>{body}",
        f"<body><html a=1><p>{body}</p></html><p>{body}</p>",
    ):
        fast = extract(soup)
        slow = _extract_unelided(soup)
        assert fast.content_html == slow.content_html, soup[:40]
        assert fast.html == slow.html, soup[:40]


def test_regex_stage_elision_matches_reparse():
    """Deterministic shapes on which each serialized regex stage has
    work to do (double <br> and <font> in the body, <br> runs and a <br>
    before a <p> in the article, a <br> inside a comment): the one-walk
    elision predicate must send every one of them down the reference's
    serialize -> substitute -> reparse path."""
    body = "Readable sentence, with commas, that scores well in the pass. " * 10
    for soup in (
        f"<html><body><div><p>{body}<br><br>{body}</p></div></body></html>",
        f"<html><body><div><p>{body}<font color=red>{body}</font></p></div></body></html>",
        f"<div><p>{body}<br> <br/>&nbsp;<br>{body}</p><br><p>{body}</p></div>",
        f"<div><p>{body}<!--<br><br>--></p></div>",
    ):
        fast = extract(soup)
        slow = _extract_unelided(soup)
        assert fast.content_html == slow.content_html, soup[-80:]
        assert fast.html == slow.html, soup[-80:]


def test_comment_that_starts_a_regex_match_triggers_the_stage():
    """A match may start in a comment and end past it: in
    ``<!--<br--><p>`` the comment's ``<br-->`` and the next ``<p`` form a
    ``BREAK_BEFORE_PARAGRAPH_RE`` match. A match may also start at an end
    tag in any letter case (``<!--</FONT>-->``). The elided path must
    agree with the reference's serialize -> substitute -> reparse, taken
    here for every stage."""
    words = "word, " * 60
    body = "Readable sentence, with commas, that scores well in the pass. " * 10
    for soup in (
        f"<html><body><div><p>{words}</p><!--<br--><p>tail text here.</p></div></body></html>",
        f"<html><body><p>{body}<!--</font>-->{body}</p></body></html>",
        f"<html><body><p>{body}<!--</FONT>-->{body}</p></body></html>",
    ):
        assert extract(soup) == _extract_unelided(soup), soup[-80:]
    # the reference's reparse turns the unterminated <!--<p> into text
    soup = f"<html><body><div><p>{words}</p><!--<br--><p>tail text here.</p></div></body></html>"
    assert extract(soup).content_text.endswith("word, <!--<p>tail text here.")
    # lowercasing a comment finds every case-insensitive prefix match:
    # for the prefixes' letters the regexes fold only ASCII case
    folds = re.compile("[brfont]", re.IGNORECASE)
    assert {c for c in map(chr, range(sys.maxunicode + 1)) if folds.fullmatch(c)} == set(
        "brfontBRFONT"
    )


def _extract_without_shortcircuit(soup):
    """Run extract with the guaranteed-fallback short-circuit disabled,
    i.e. the literal NRT:313-326 two-pass algorithm."""
    import nreadability_spark.core.transcoder as T

    orig = T._document_text_upper_bound
    T._document_text_upper_bound = lambda d: 1 << 60  # never below threshold
    try:
        return extract(soup)
    finally:
        T._document_text_upper_bound = orig


@settings(max_examples=200, deadline=None)
@given(_html_soup)
def test_fallback_shortcircuit_matches_two_pass(soup):
    """The guaranteed-fallback short-circuit (skip pass 1 when the
    pristine document's total Text length already proves the <250-char
    fallback must fire, NRT:313-326) must be observationally identical
    to literally running both passes. The soup generator mostly emits
    sub-threshold documents, which is exactly the regime the
    short-circuit fires in."""
    fast = extract(soup)
    slow = _extract_without_shortcircuit(soup)
    assert fast.content_html == slow.content_html
    assert fast.content_text == slow.content_text
    assert fast.html == slow.html
    assert fast.title == slow.title
    assert fast.extracted == slow.extracted
    assert fast.spans == slow.spans


def test_fallback_shortcircuit_threshold_boundary():
    """Deterministic boundary cases around the 250-char threshold: text
    totals just under, at, and over it, plus shapes where whitespace
    collapse makes the *article* text shorter than the document total
    (the bound must stay an upper bound, never an equality)."""
    base = "word, and more words that score, "  # 33 chars
    for n_rep in (6, 7, 8, 9, 16):  # totals straddle 250
        body = base * n_rep
        for soup in (
            f"<html><body><p>{body}</p></body></html>",
            # whitespace runs: document total > collapsed article text
            f"<html><body><p>{body.replace(' ', '   ')}</p></body></html>",
            # text split across siblings and a comment in the middle
            f"<div><p>{body[: len(body) // 2]}</p><!--c--><p>{body[len(body) // 2 :]}</p></div>",
            # unlikely-candidate class: pass 1 strips it, pass 2 keeps it
            f"<html><body><div class='sidebar comment'>{body}</div></body></html>",
            f"<html><head><title>T - t</title></head><body><p>{body}</p></body></html>",
            # pass 1 is kept above the threshold and strips an unlikely
            # candidate inside the article, which pass 2 would keep
            f"<div><p>{body}</p><p class='sidebar'>{base}</p></div>",
        ):
            fast = extract(soup)
            slow = _extract_without_shortcircuit(soup)
            assert fast.content_html == slow.content_html, soup[:80]
            assert fast.content_text == slow.content_text, soup[:80]
            assert fast.html == slow.html, soup[:80]
            assert fast.title == slow.title, soup[:80]
            assert fast.spans == slow.spans, soup[:80]


@settings(max_examples=150, deadline=None)
@given(_html_soup)
def test_fallback_bound_is_the_parsed_text_length(soup):
    """The short-circuit's bound is counted by the parser as it builds
    Text nodes; it must equal the total Text length of the built tree."""
    import nreadability_spark.core.transcoder as T
    from nreadability_spark.core.dom import Text

    document = build_document(soup)
    assert T._document_text_upper_bound(document) == sum(
        len(node.value) for node in document.descendant_nodes() if isinstance(node, Text)
    )


@settings(max_examples=150, deadline=None)
@given(_mutation_soup)
def test_reparse_elision_matches_always_reparse(soup):
    """The fast path that elides SetInnerHtml's serialize+reparse must be
    observationally identical to the reference's always-reparse behaviour
    — including on trees the *pipeline mutations* (div->p rename, sibling
    moves) made content-model-invalid, which the parser restructures."""
    fast = extract(soup)
    slow = _extract_unelided(soup)
    assert fast.content_html == slow.content_html
    assert fast.content_text == slow.content_text
    assert fast.html == slow.html
    assert fast.spans == slow.spans


@settings(max_examples=200, deadline=None)
@given(st.one_of(_html_soup, _mutation_soup))
def test_parsed_stage_facts_are_sound(soup):
    """``prepare_document`` takes its br/font stage's facts from the
    parser's counts when the parser built no comment and nothing was
    removed. On a document as ``build_document`` returned it, for the
    stage over any element below the root, those facts may claim a
    match or an instability that a walk does not find, never miss one;
    and the counts are the tree's."""
    import nreadability_spark.core.transcoder as T
    from nreadability_spark.core.dom import Comment

    document = build_document(soup)
    nodes = list(document.descendant_nodes())
    assert document.parsed_comments == sum(type(n) is Comment for n in nodes)
    root = document.root
    if root is None:
        return
    assert document.parsed_names == {e.name for e in root.descendants()}
    if document.parsed_comments:
        return
    for prefixes in (("br", "font"), ("br",)):
        stable, may_match = T._parsed_stage_facts(document.parsed_names, prefixes)
        for element in root.descendants():
            walked_stable, walked_may_match = T._stage_walk(element, prefixes)
            assert walked_stable or not stable, (soup, element.name)
            assert may_match or not walked_may_match, (soup, element.name)


# --- computing only the outputs a caller reads ----------------------------

_PAGE_URL = "http://synth.example/conv00000001/page/1"
_OUTPUT_SETS = ((), ("content_html",), ("html",))


def _assert_lean_matches_full(text):
    """extract() with page or article serialization skipped must return
    the same fields as full extract(); a skipped output is ''."""
    full = extract(text, _PAGE_URL)
    for outputs in _OUTPUT_SETS:
        lean = extract(text, _PAGE_URL, outputs=outputs)
        assert lean.content_text == full.content_text
        assert lean.title == full.title
        assert lean.extracted == full.extracted
        assert lean.spans == full.spans
        assert lean.next_page_url == full.next_page_url
        assert lean.content_html == (full.content_html if "content_html" in outputs else "")
        assert lean.html == (full.html if "html" in outputs else "")


@settings(max_examples=150, deadline=None)
@given(_html_soup)
def test_skipped_outputs_keep_article_fields(soup):
    _assert_lean_matches_full(soup)


def test_skipped_outputs_keep_article_fields_on_transcripts():
    """The same over the generator's transcripts: chat turns, article
    pages (pass 1 kept), micro-HTML and long conversations."""
    from nreadability_spark.sources.synth import generate_conversation

    texts = [row[3] for conv in range(8) for row in generate_conversation(conv, []) if row[3]]
    assert len(texts) > 50
    for text in texts:
        _assert_lean_matches_full(text)


_FLAG_OPTIONS = [
    ExtractionOptions(
        dont_strip_unlikelys=strip, dont_normalize_spaces=spaces, dont_weight_classes=weights
    )
    for strip in (False, True)
    for spaces in (False, True)
    for weights in (False, True)
]
_free_chars = st.characters(blacklist_characters="<&", blacklist_categories=("Cs",))
_free_words = st.lists(
    st.sampled_from(["word", "more words,", " ", "\n\n", "\t", "Title - Site", ": ",
                     "%PDF-", ">", "/>", ";", "#60", "amp", "\x00", "\u00a0"]),
    max_size=150,
).map("".join)
# lengths on both sides of the 250-char fallback threshold
_markup_free_text = st.one_of(
    st.text(_free_chars, min_size=1, max_size=240),
    st.text(_free_chars, min_size=260, max_size=900),
    _free_words,
).filter(bool)


@settings(max_examples=200, deadline=None)
@given(
    _markup_free_text,
    st.sampled_from(["", "&", "&amp;", "&lt;p&gt;", "&#60;h1&#62;", "&nbsp;"]),
    st.booleans(),
)
def test_markup_free_row_is_the_core_row(text, entity, pdf_prefix):
    """The UDF's markup-free constant row must be exactly the row the
    core gives, for every include_html and option-flag combination; and
    the shortcut must fire on exactly that class — a text with an
    ``&`` reaches the core, a ``%PDF-`` text the PDF parser."""
    from unittest import mock

    import nreadability_spark.operators.extract as X
    from nreadability_spark.core.pdf import extract_pdf, looks_like_pdf

    half = len(text) // 2
    text = ("%PDF-" if pdf_prefix else "") + text[:half] + entity + text[half:]
    is_pdf = looks_like_pdf(text)
    with mock.patch.object(X, "extract", wraps=X.extract) as core, mock.patch.object(
        X, "extract_pdf", wraps=X.extract_pdf
    ) as pdf:
        for options in _FLAG_OPTIONS:
            full = extract_pdf(text) if is_pdf else extract(text, None, options)
            for include_html in (False, True):
                want = {
                    "title": full.title,
                    "content_html": full.content_html if include_html else "",
                    "content_text": full.content_text,
                    "extracted": full.extracted,
                    "next_page_url": None if is_pdf else full.next_page_url,
                    "spans": [{"start": s, "end": e} for s, e in full.spans],
                    "error": None,
                }
                assert X._extract_one(text, options, include_html) == want
    runs = 2 * len(_FLAG_OPTIONS)
    assert pdf.call_count == (runs if is_pdf else 0)
    assert core.call_count == (runs if entity and not is_pdf else 0)


# --- PNG pixel decoder (round 4) ---------------------------------------

_png_junk = st.one_of(
    st.binary(max_size=200),
    st.binary(max_size=120).map(lambda b: b"\x89PNG\r\n\x1a\n" + b),
)


@settings(max_examples=200, deadline=None)
@given(_png_junk)
def test_png_pixel_decode_is_total(data):
    """decode_png_rgb8 must never raise — any malformed chunk layout,
    truncated IDAT, or corrupt zlib stream returns None."""
    from nreadability_spark.operators.multimodal import decode_png_rgb8

    r1 = decode_png_rgb8(data)
    r2 = decode_png_rgb8(data)
    assert r1 == r2  # deterministic, and total by virtue of returning


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_random_bitmaps(w, h, seed):
    """encode(random bitmap) -> decode == identity, through a REAL
    zlib-compressed (not stored) stream and per-row random filter-0
    data — independent of the synthesizer's row-constant layout."""
    import struct
    import zlib

    from nreadability_spark.operators.multimodal import decode_png_rgb8

    rnd = __import__("random").Random(seed)
    lines = [bytes(rnd.randrange(256) for _ in range(3 * w)) for _ in range(h)]
    raw = b"".join(b"\x00" + ln for ln in lines)

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(
            ">I", zlib.crc32(t + b)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    dw, dh, rows = decode_png_rgb8(data)
    assert (dw, dh) == (w, h) and rows == lines


# --- mp4 / mkv container walks + ADPCM decode (round 5) ------------------


def _riff_file(chunks, cut):
    """RIFF/WAVE framing around (id, body, size, pad) chunks: ``size``
    None writes the true body length, an int writes a lying one; an odd
    body gets its pad byte only when ``pad``; ``cut`` truncates."""
    out = b"RIFF\x00\x00\x00\x00WAVE"
    for cid, body, size, pad in chunks:
        size = len(body) if size is None else size
        out += cid + struct.pack("<I", size) + body + b"\x00" * (pad and len(body) & 1)
    return out if cut is None else out[:cut]


_wav_fmt = st.builds(
    lambda tag_bits, ch, block, ext: (
        struct.pack("<HHIIHH", tag_bits[0], ch, 8000, 8000 * block, block, tag_bits[1]) + ext
    ),
    st.sampled_from([(1, 16), (1, 8), (0x11, 4), (6, 8), (7, 8), (0xFFFE, 24)]),
    st.sampled_from([1, 1, 2, 0]),
    st.integers(min_value=0, max_value=40),
    st.binary(max_size=6),  # cbSize / wSamplesPerBlock extension, or a short one
)
_chunk_size = st.one_of(
    st.none(),  # the true body length
    st.none(),
    st.integers(min_value=0, max_value=80),
    st.integers(min_value=0, max_value=2**32 - 1),
)
_fmt_chunk = st.tuples(
    st.just(b"fmt "), st.one_of(_wav_fmt, st.binary(max_size=20)), _chunk_size, st.booleans()
)
_any_chunk = st.tuples(
    st.sampled_from([b"fmt ", b"fact", b"data", b"LIST"]),
    st.one_of(_wav_fmt, st.binary(max_size=64)),
    _chunk_size,
    st.booleans(),
)
_framed_riff = st.builds(
    _riff_file,
    st.tuples(_fmt_chunk, st.lists(_any_chunk, max_size=4)).map(lambda t: [t[0], *t[1]]),
    st.one_of(st.none(), st.none(), st.integers(min_value=0, max_value=300)),
)
# GIF header, optional global color table, one image descriptor whose
# LZW minimum code size is any byte, one data sub-block, then junk
_gif_junk = st.builds(
    lambda packed, colors, mcs, lzw, tail: (
        b"GIF89a\x02\x00\x02\x00"
        + bytes([packed, 0, 0])
        + colors[: 3 * (2 << (packed & 7)) if packed & 0x80 else 0]
        + b"\x2c\x00\x00\x00\x00\x02\x00\x02\x00\x00"
        + bytes([mcs, len(lzw)])
        + lzw
        + tail
    ),
    st.sampled_from([0x00, 0x80, 0x81]),
    st.binary(min_size=12, max_size=12),
    st.one_of(st.just(2), st.integers(min_value=0, max_value=255)),
    st.one_of(
        # [clear, index, eoi] as 3-bit codes: a valid stream at size 2
        st.integers(min_value=0, max_value=3).map(
            lambda i: (4 + 8 * i + 320).to_bytes(2, "little")
        ),
        st.binary(max_size=40),
    ),
    st.binary(max_size=20).map(lambda b: b"\x00" + b),
)

_media_junk = st.one_of(
    st.binary(max_size=200),
    st.binary(max_size=150).map(lambda b: b"\x1a\x45\xdf\xa3" + b),  # EBML magic
    st.binary(max_size=150).map(
        lambda b: b"\x18\x53\x80\x67\x01" + b"\xff" * 7 + b  # unknown-size Segment
    ),
    st.binary(max_size=150).map(lambda b: b"\x00\x00\x00\x14ftypisom" + b),
    st.binary(max_size=150).map(lambda b: b"RIFF\x00\x01\x00\x00WAVE" + b),
    _framed_riff,
    _gif_junk,
    st.binary(max_size=150).map(lambda b: b"ID3\x03\x00\x00" + b),
    st.binary(max_size=150).map(lambda b: b"\xff\xfb" + b),
    st.binary(max_size=150).map(lambda b: b"\xff\xd8\xff\xc0\x00\x0b\x08" + b),  # SOF0
)


def _comparable(result):
    """decode_jpeg_gray returns (w, h, ndarray); arrays compare by bytes."""
    if isinstance(result, tuple) and hasattr(result[-1], "tobytes"):
        w, h, px = result
        return w, h, px.tobytes()
    return result


@settings(max_examples=200, deadline=None)
@given(_media_junk)
def test_media_parsers_are_total(data):
    """The container walks and the sample/pixel decoders must never
    raise on hostile bytes — malformed varints, lying sizes, truncated
    headers, bomb dimensions all return []/None, deterministically."""
    from nreadability_spark.operators.multimodal import (
        decode_audio_meta,
        decode_g711_samples,
        decode_ima_adpcm_samples,
        decode_image_meta,
        decode_jpeg_gray,
        decode_pcm_samples,
        decode_png_rgb8,
        gif_frame_info,
        gif_frame_pixels,
        mkv_frame_info,
        mp3_frame_info,
        mp4_frame_info,
    )

    for fn in (
        mkv_frame_info,
        mp4_frame_info,
        mp3_frame_info,
        decode_audio_meta,
        decode_pcm_samples,
        decode_ima_adpcm_samples,
        decode_g711_samples,
        decode_image_meta,
        decode_png_rgb8,
        decode_jpeg_gray,
        gif_frame_info,
        gif_frame_pixels,
    ):
        r1 = _comparable(fn(data))
        r2 = _comparable(fn(data))
        assert r1 == r2
        assert r1 is None or isinstance(r1, (list, tuple))


@settings(max_examples=120, deadline=None)
@given(
    st.integers(min_value=0, max_value=5000),
    st.integers(min_value=0, max_value=400),
)
def test_mkv_truncation_never_raises(doc_id, cut):
    """Every truncation of a valid mkv parses to a (possibly empty)
    list — the walk stops at the first malformed header instead of
    reading past the buffer."""
    from nreadability_spark.operators.multimodal import mkv_frame_info
    from nreadability_spark.sources.synth import build_mkv

    b = build_mkv(doc_id)
    got = mkv_frame_info(b[: min(cut, len(b))])
    assert isinstance(got, list)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_adpcm_random_nibbles_roundtrip(seed):
    """Random nibble streams through arbitrary start states decode
    identically to the spec-pseudocode reference — the fuzz companion
    to the planted-extremes unit test."""
    import struct

    from nreadability_spark.operators.multimodal import (
        _IMA_STEPS,
        decode_ima_adpcm_samples,
    )

    rnd = __import__("random").Random(seed)
    nb = rnd.randrange(1, 32)
    blocks = [
        (
            rnd.randrange(-32768, 32768),
            rnd.randrange(89),
            [rnd.randrange(16) for _ in range(2 * nb)],
        )
        for _ in range(rnd.randrange(1, 4))
    ]
    body = b""
    for pred, idx, nibbles in blocks:
        packed = bytes(
            (nibbles[2 * j] & 0x0F) | ((nibbles[2 * j + 1] & 0x0F) << 4)
            for j in range(nb)
        )
        body += struct.pack("<hBB", pred, idx, 0) + packed
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4000, 4 + nb, 4, 2, 1 + 2 * nb)
    chunks = (
        b"fmt " + struct.pack("<I", 20) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    index_tab = (-1, -1, -1, -1, 2, 4, 6, 8)
    want = []
    for pred, idx, nibbles in blocks:
        want.append(pred)
        for nib in nibbles:
            step = _IMA_STEPS[idx]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + index_tab[nib & 7]))
            want.append(pred)
    assert decode_ima_adpcm_samples(wav) == want
