"""Ports of NReadabilityTranscoderTests.cs unit tests (TT references)."""

import re
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nreadability_spark.core.dom import Element, Text, build_document
from nreadability_spark.core.regexes import NORMALIZE_SPACES_RE
from nreadability_spark.core import dom
from nreadability_spark.core.transcoder import (
    ASCII_SPACES_BUT_SPACE,
    NON_ASCII_SPACES,
    ExtractionOptions,
    SerializationOptions,
    _article_spans,
    _census,
    _Run,
    _TreeIndex,
    extract,
    get_user_style_class,
    normalize_spaces,
    serialize_document,
)

DUMMY_PARAGRAPHS = (
    "<p>Lorem ipsum dolor et amet. Lorem ipsum dolor et amet. Lorem ipsum dolor et amet. Lorem ipsum dolor et amet.</p>"
) * 5


def _run():
    return _Run(ExtractionOptions(), dont_strip_unlikelys=False)


def _count_tags(doc, *names):
    names = {n.lower() for n in names}
    return sum(1 for e in doc.descendants() if e.name in names)


def _assert_html_content_is_empty(content):
    # TT:633-650: nothing but html/head/meta after re-parse
    doc = build_document(content.strip())
    leftovers = [
        n
        for n in doc.descendant_nodes()
        if getattr(n, "name", "") not in ("html", "head", "meta")
    ]
    assert leftovers == []


def _serialize_roundtrip(content):
    return serialize_document(build_document(content))


# --- StripUnlikelyCandidates (TT:62-97) -------------------------------------


def test_unlikely_candidates_removed():
    doc = build_document('<div class="sidebar">Some content.</div>')
    _run().strip_unlikely_candidates(doc)
    _assert_html_content_is_empty(serialize_document(doc))


def test_maybe_candidates_not_removed():
    content = '<div id="article" class="sidebar"><a href="#">Some widget</a></div>'
    doc = build_document(content)
    _run().strip_unlikely_candidates(doc)
    assert serialize_document(doc) == _serialize_roundtrip(content)


def test_text_nodes_in_div_with_blocks_become_paragraphs():
    doc = build_document('<div>text node1<a href="#">Link</a>text node2</div>')
    _run().strip_unlikely_candidates(doc)
    assert _count_tags(doc, "p") == 2


# --- GetLinksDensity (TT:101-131) ----------------------------------------------


@pytest.mark.parametrize(
    "content,expected",
    [
        ('<div id="container"></div>', 0.0),
        ('<div id="container"><a href="#">some link</a></div>', 1.0),
        ('<div id="container"><a href="#">some link</a>some link</div>', 0.5),
    ],
)
def test_links_density(content, expected):
    doc = build_document(content)
    container = doc.get_element_by_id("container")
    assert abs(_run().get_links_density(container) - expected) < 1e-6


# --- DetermineTopCandidateElement (TT:137-184) -------------------------------------


def test_top_candidate_determinable_without_body():
    doc = build_document("")
    run = _run()
    candidates = run.find_candidates_for_article_content(doc)
    assert candidates == []
    assert run.determine_top_candidate_element(doc, candidates) is not None


def test_top_candidate_falls_back_to_body():
    doc = build_document("<body><p>Some paragraph.</p><p>Some paragraph.</p>some text</body>")
    run = _run()
    candidates = run.find_candidates_for_article_content(doc)
    assert candidates == []
    top = run.determine_top_candidate_element(doc, candidates)
    assert top is not None
    assert len(top.children) == 3
    assert top.children[0].name == "p"
    assert top.children[1].name == "p"
    assert isinstance(top.children[2], Text)


def test_top_candidate_prefers_longer_paragraph():
    first = (
        "Praesent in arcu vitae erat sodales consequat. Nam tellus purus, volutpat ac "
        "elementum tempus, sagittis sed lacus. Sed lacus ligula, sodales id vehicula at, "
        "semper a turpis. Curabitur et augue odio, sed auctor massa. Ut odio massa, "
        "fringilla eu elementum sit amet, eleifend congue erat. Lorem ipsum dolor sit "
        "amet, consectetur adipiscing elit. Sed ultrices turpis dignissim metus porta id "
        "iaculis purus facilisis."
    )
    second = (
        "Lorem ipsum dolor sit amet, consectetur adipiscing elit. Proin lacus ipsum, "
        "blandit sit amet cursus ut, posuere quis velit. Vivamus ut lectus quam, "
        "venenatis posuere erat. Sed pellentesque suscipit rhoncus. Vestibulum dictum "
        "est ut elit molestie vel facilisis dui tincidunt. Nulla adipiscing metus in "
        "nulla condimentum non mattis lacus tempus. Phasellus sed ipsum in felis "
        "molestie molestie. Sed sagittis massa orci, ut sagittis sem. Cras eget feugiat "
        "nulla. Nunc lacus turpis, porttitor eget congue quis, accumsan sed nunc. "
        "Vivamus imperdiet luctus molestie. Suspendisse eu est sed ligula pretium "
        "blandit. Proin eget metus nisl, at convallis metus, and more, and more, and "
        "more of it to be clearly longer."
    )
    doc = build_document(
        f'<body><div id="first-div"><p>{first}</p></div>'
        f'<div id="second-div"><p>{second}</p></div></body>'
    )
    run = _run()
    candidates = run.find_candidates_for_article_content(doc)
    assert len(candidates) == 3  # two divs + body
    top = run.determine_top_candidate_element(doc, candidates)
    assert top.get_id() == "second-div"


# --- CreateArticleContentElement (TT:190-228) ----------------------------------------


def test_create_article_content_with_empty_html():
    doc = build_document("")
    run = _run()
    top = run.determine_top_candidate_element(doc, run.find_candidates_for_article_content(doc))
    article = run.create_article_content_element(doc, top)
    assert article.name == "div"
    assert article.get_id()
    assert len(article.children) == 1


def test_create_article_content_extracts_paragraph():
    text = (
        "Praesent in arcu vitae erat sodales consequat. Nam tellus purus, volutpat ac "
        "elementum tempus, sagittis sed lacus. Sed lacus ligula, sodales id vehicula at."
    )
    doc = build_document(f'<div id="first-div"><p>{text}</p></div><div id="">some text</div>')
    run = _run()
    top = run.determine_top_candidate_element(doc, run.find_candidates_for_article_content(doc))
    article = run.create_article_content_element(doc, top)
    assert article.name == "div"
    assert len(article.children) == 1
    assert article.children[0].get_id() == "first-div"
    assert len(article.children[0].children) == 1
    assert article.children[0].children[0].name == "p"


# --- PrepareDocument (TT:234-303) ------------------------------------------------------


def test_prepare_document_creates_body():
    doc = build_document("")
    assert doc.get_body() is None
    _run().prepare_document(doc)
    assert doc.get_body() is not None


def test_prepare_document_removes_scripts_and_stylesheets():
    content = (
        '<html><head><link rel="StyleSheet" href="#" /><style></style><style />'
        '<style type="text/css"></style></head><body>'
        '<script type="text/javascript"></script><script type="text/javascript" />'
        '<style type="text/css"></style><link rel="styleSheet"></link><script></script>'
        "</body></html>"
    )
    doc = build_document(content)
    assert _count_tags(doc, "script", "style", "link") > 0
    _run().prepare_document(doc)
    assert _count_tags(doc, "script", "style", "link") == 0


def test_prepare_document_keeps_readability_assets():
    content = (
        '<html><head><link rel="stylesheet" href="http://domain.com/readability.css" />'
        '<script src="http://domain.com/readability.js"></script></head><body>'
        '<script src="http://domain.com/readability.js"></script>'
        '<link rel="stylesheet" href="http://domain.com/readability.css" /></body></html>'
    )
    doc = build_document(content)
    before = _count_tags(doc, "script", "link")
    _run().prepare_document(doc)
    assert _count_tags(doc, "script", "link") == before


def test_prepare_document_double_br_to_p():
    doc = build_document("<html><body>some text<br /><br />some other text</body></html>")
    assert _count_tags(doc, "p") == 0
    assert _count_tags(doc, "br") > 0
    _run().prepare_document(doc)
    assert _count_tags(doc, "br") == 0
    assert _count_tags(doc, "p") == 1


def test_prepare_document_font_to_span():
    doc = build_document("<html><body><font>some text</font></body></html>")
    _run().prepare_document(doc)
    assert _count_tags(doc, "font") == 0
    assert _count_tags(doc, "span") == 1


# --- GlueDocument (TT:309-345) --------------------------------------------------------------


def test_glue_document_adds_head_style_and_containers():
    doc = build_document("")
    run = _run()
    run.prepare_document(doc)
    run.glue_document(doc, None, doc.get_body())
    assert _count_tags(doc, "head") == 1
    assert _count_tags(doc, "style") == 1
    assert doc.get_element_by_id("readOverlay") is not None
    assert doc.get_element_by_id("readInner") is not None


# --- GetUserStyleClass (TT:352-358) ------------------------------------------------------------


def test_get_user_style_class():
    assert get_user_style_class("prefix", "") == "prefix"
    assert get_user_style_class("prefix", "abc") == "prefix-abc"
    assert get_user_style_class("prefix", "Abc") == "prefix-abc"
    assert get_user_style_class("prefix", "ABc") == "prefix-a-bc"
    assert get_user_style_class("prefix", "ABcD") == "prefix-a-bc-d"


# --- URL replacement matrix (TT:450-518) ----------------------------------------------------------


URL_MATRIX = [
    ("http://example.com/image.jpg", "http://immortal.pl/doc.html", "http://example.com/image.jpg"),
    ("https://example.com/image.jpg", "http://immortal.pl", "https://example.com/image.jpg"),
    ("ftp://example.com/image.jpg", "http://immortal.pl/doc.html", "ftp://example.com/image.jpg"),
    ("A(*Sf6as7f 9A*(659A^SF 6987aSF", "http://immortal.pl/", "http://immortal.pl/A(*Sf6as7f 9A*(659A^SF 6987aSF"),
    ("file:///C:/Users/Administrator/image.jpg", "http://immortal.pl/index.html", "file:///C:/Users/Administrator/image.jpg"),
    ("image.png", "p//immortal.pl/", "image.png"),
    ("image.png", "AS&F*(^ASF", "image.png"),
    ("image.jpg", "http://immortal.pl", "http://immortal.pl/image.jpg"),
    ("image.jpg", "http://immortal.pl/index.html", "http://immortal.pl/image.jpg"),
    ("/image.jpg", "http://immortal.pl", "http://immortal.pl/image.jpg"),
    ("/image.jpg", "http://immortal.pl/", "http://immortal.pl/image.jpg"),
    ("static/gfx/image.gif", "http://immortal.pl", "http://immortal.pl/static/gfx/image.gif"),
    ("static/gfx/image.gif", "http://immortal.pl/", "http://immortal.pl/static/gfx/image.gif"),
    ("/static/gfx/image.gif", "http://immortal.pl", "http://immortal.pl/static/gfx/image.gif"),
    ("/static/gfx/image.gif", "http://immortal.pl/", "http://immortal.pl/static/gfx/image.gif"),
    ("/static/gfx/image.gif", "http://immortal.pl/article/doc.html", "http://immortal.pl/static/gfx/image.gif"),
    ("static/gfx/image.gif", "http://immortal.pl/article", "http://immortal.pl/static/gfx/image.gif"),
    ("static/gfx/image.gif", "http://immortal.pl/article/", "http://immortal.pl/article/static/gfx/image.gif"),
    ("/static/gfx/image.gif", "http://immortal.pl/article/doc.html?someParam=1", "http://immortal.pl/static/gfx/image.gif"),
    ("image.png", "http://immortal.pl/article/doc.html", "http://immortal.pl/article/image.png"),
    ("/image.png", "http://immortal.pl/article/doc.html", "http://immortal.pl/image.png"),
    ("image.png", "http://immortal.pl/article/doc.html?someKey=some/Value?aksd", "http://immortal.pl/article/image.png"),
    ("/image.png", "http://immortal.pl/article/doc.html?someKey=some/Value?aksd", "http://immortal.pl/image.png"),
    ("image.png", "immortal.pl/article/doc.html?someKey=some/Value?aksd", "image.png"),
    ("image.png", "htt//immortal.pl/arti", "image.png"),
    ("image.png", "http:immortal.pl", "image.png"),
    ("image.png", "/immortal.pl", "image.png"),
]


@pytest.mark.parametrize("src,base,expected", URL_MATRIX)
def test_replacing_image_urls(src, base, expected):
    html = (
        "<html><body>"
        + DUMMY_PARAGRAPHS
        + f'<p><img src="{src.replace("&", "&amp;")}" /></p>'
        + DUMMY_PARAGRAPHS
        + "</body></html>"
    )
    result = extract(html, url=base)
    assert result.extracted
    from nreadability_spark.core.dom import escape_attr

    assert f'src="{escape_attr(expected)}"' in result.html


def test_replacing_link_urls():
    html = (
        "<html><body>" + DUMMY_PARAGRAPHS
        + '<p><a href="/wiki/article1">link</a></p>' + DUMMY_PARAGRAPHS
        + "</body></html>"
    )
    result = extract(html, url="http://wikipedia.org/wiki/baseArticle")
    assert result.extracted
    assert 'href="http://wikipedia.org/wiki/article1"' in result.html


def test_replacing_query_string_link_urls():
    html = (
        "<html><body>" + DUMMY_PARAGRAPHS
        + '<p><a href="?hello">link</a></p>' + DUMMY_PARAGRAPHS
        + "</body></html>"
    )
    result = extract(html, url="http://wikipedia.org/wiki/baseArticle")
    assert result.extracted
    assert 'href="http://wikipedia.org/wiki/baseArticle?hello"' in result.html

    result = extract(html, url="http://wikipedia.org/wiki/baseArticle?goodbye")
    assert result.extracted
    assert 'href="http://wikipedia.org/wiki/baseArticle?hello"' in result.html


# --- end-to-end flags & metas (TT:520-631) -------------------------------------------------------------


def test_empty_article_not_extracted():
    result = extract("<html><body></body></html>", url="http://wikipedia.org/wiki/baseArticle")
    assert result.extracted is False


def test_mobile_headers_injected():
    html = "<html><body>" + DUMMY_PARAGRAPHS + "</body></html>"
    result = extract(html, url="http://wikipedia.org/wiki/baseArticle")
    assert result.extracted
    assert '<meta name="HandheldFriendly" content="true" />' in result.html


def test_meta_viewport_removed():
    meta = '<meta name="viewport" content="width=1000" />'
    html = "<html><head>" + meta + "</head><body>" + DUMMY_PARAGRAPHS + "</body></html>"
    result = extract(html, url="http://wikipedia.org/wiki/baseArticle")
    assert result.extracted
    assert meta not in result.html


def test_meta_generator_present():
    result = extract("test")
    assert 'meta name="Generator"' in result.html


def test_image_source_transformer():
    original = "http://example.com/some_image.jpg"

    def transformer(value, element):
        return f"http://imageresizer.com/u={value}", "origsrc"

    html = (
        "<html><body>" + DUMMY_PARAGRAPHS
        + f'<p><img src="{original}" /></p>' + DUMMY_PARAGRAPHS
        + "</body></html>"
    )
    result = extract(
        html, url="http://immortal.pl/",
        options=ExtractionOptions(image_source_transformer=transformer),
    )
    assert result.extracted
    assert f'src="http://imageresizer.com/u={original}"' in result.html
    assert f'origsrc="{original}"' in result.html


def test_anchor_href_transformer():
    original = "http://example.com/some_article.html"

    def transformer(value, element):
        return f"http://redirector.com/u={value}", "orighref"

    html = (
        "<html><body>" + DUMMY_PARAGRAPHS
        + f'<p><a href="{original}">Some article</a></p>' + DUMMY_PARAGRAPHS
        + "</body></html>"
    )
    result = extract(
        html, url="http://immortal.pl/",
        options=ExtractionOptions(anchor_href_transformer=transformer),
    )
    assert result.extracted
    assert f'href="http://redirector.com/u={original}"' in result.html
    assert f'orighref="{original}"' in result.html


# --- engine-specific edges (FIXTURES.md §3d) ----------------------------------------------------------


def test_null_and_empty_input_map_to_not_extracted():
    for payload in (None, ""):
        result = extract(payload)
        assert result.extracted is False
        assert result.content_text == ""


def test_plain_text_turn_passes_through():
    result = extract("just a short chat message, no html at all")
    assert result.extracted in (True, False)  # must not raise
    assert isinstance(result.html, str)


def test_deterministic_output():
    html = "<html><body>" + DUMMY_PARAGRAPHS + "</body></html>"
    a = extract(html)
    b = extract(html)
    assert a == b


# --- reparse-elision content-model regression (round-2 ADVICE, high) ----------------


def test_div_li_rename_matches_reference_reparse():
    """The div->p rename (NRT:812) turns <div><li> into <p><li>, which the
    reference's SetInnerHtml reparse restructures (ValidateContent
    auto-closes the p before the li). The elided-reparse fast path must
    produce the same restructured output, not preserve the invalid tree."""
    import nreadability_spark.core.transcoder as T

    html = (
        "<html><body><div><li>"
        + ("Some long readable sentence, with commas, that scores well. " * 20)
        + "</li></div><div>"
        + ("More article text, plenty of commas, excellent quality. " * 20)
        + "</div></body></html>"
    )
    fast = extract(html)
    orig = T._stage_walk
    T._stage_walk = lambda *args: (False, True)
    try:
        ref = extract(html)
    finally:
        T._stage_walk = orig
    assert fast.content_html == ref.content_html
    assert fast.html == ref.html
    # and the restructuring actually happened: no li left directly inside a p
    assert "<p><li>" not in fast.content_html


# --- inner-text whitespace normalization without the regex scan ----------------------


def _all_chars():
    return map(chr, range(sys.maxunicode + 1))


_SPACES = [c for c in _all_chars() if c.isspace()]


def test_regex_whitespace_class_is_exactly_isspace():
    r"""``normalize_spaces`` skips the scan on the premise that ``\s`` of
    a str pattern matches exactly the code points with ``isspace()``."""
    ws = re.compile(r"\s")
    assert [c for c in _all_chars() if bool(ws.match(c)) != c.isspace()] == []
    assert len(_SPACES) == 29


def test_whitespace_constants_are_the_isspace_sets():
    ascii_spaces = [c for c in _SPACES if c.isascii() and c != " "]
    non_ascii_spaces = [c for c in _SPACES if not c.isascii()]
    assert sorted(ASCII_SPACES_BUT_SPACE) == ascii_spaces
    assert sorted(NON_ASCII_SPACES) == non_ascii_spaces
    assert (len(ASCII_SPACES_BUT_SPACE), len(NON_ASCII_SPACES)) == (9, 19)


_ascii_words = ["a", "word", ".", ",", "<", "&"]
_text_pieces = st.one_of(
    st.sampled_from(_ascii_words + ["\u00e9t\u00e9", "\u65e5\u672c", "\U0001f600"]),
    st.sampled_from(_SPACES),
)
_ascii_pieces = st.one_of(
    st.sampled_from(_ascii_words),
    st.sampled_from([c for c in _SPACES if c.isascii()]),
)


@settings(max_examples=600, deadline=None)
@given(st.one_of(st.lists(_text_pieces, max_size=30), st.lists(_ascii_pieces, max_size=30)))
def test_normalize_spaces_matches_the_regex(pieces):
    """Whitespace-heavy text, ASCII and not: the fast path returns what
    the reference's collapse returns, trimmed or not."""
    text = "".join(pieces)
    for s in (text, text.strip()):
        assert normalize_spaces(s) == NORMALIZE_SPACES_RE.sub(" ", s)


# --- the text index against the per-call paths --------------------------------------

_nested_pieces = st.sampled_from([
    "<div>", "</div>", "<p>", "</p>", "<a href='#'>", "</a>", "<span>", "</span>",
    "<ul><li>", "</li>", "<table><tr><td>", "</td>", "<img src=x>", "<input>",
    "<embed src=x>", "<embed src='http://youtube.com/v'>", "<!--c-->", "<br>",
    "words, ", "link text", " ", "  ", "\n", "\t", "\xa0", "&nbsp;", "x",
])
_nested_soup = st.lists(_nested_pieces, max_size=60).map("".join)
_CENSUS_NAMES = ("p", "img", "li", "input")


def _per_call_reads(run, element):
    run.index = None
    embeds = [
        e for e in element.get_elements_by_tag_name("embed")
        if "youtube" not in e.attrs.get("src", "")
    ]
    census = tuple(len(element.get_elements_by_tag_name(n)) for n in _CENSUS_NAMES)
    return run.get_inner_text(element), run.get_links_density(element), census + (len(embeds),)


def _index_reads(run, index, element):
    run.index = index
    return run.get_inner_text(element), run.get_links_density(element), _census(index, element)


@settings(max_examples=150, deadline=None)
@given(_nested_soup, st.booleans(), st.integers(min_value=0, max_value=2**31))
def test_text_index_matches_per_call_reads(soup, normalize, seed):
    """Inner text, link density and census counts off the index equal
    the per-call walks, on every element, and again after the index
    removed some elements (a removal makes it walk again)."""
    import random

    run = _Run(ExtractionOptions(dont_normalize_spaces=not normalize), dont_strip_unlikelys=True)
    doc = build_document(soup)
    index = _TreeIndex(doc, run._inner_text)
    for removal in (False, True):
        if removal:
            elements = [e for e in doc.descendants()]
            index.remove(random.Random(seed).sample(elements, len(elements) // 3))
        for element in doc.descendants():
            assert _index_reads(run, index, element) == _per_call_reads(run, element), soup
        run.index = index
        assert run.get_inner_text(doc) == run._inner_text(doc.value)
    root = doc.root
    if root is not None:
        assert _article_spans(root, _TreeIndex(root, run._inner_text)) == _article_spans(root)


def _nested_page(n):
    """Direction 1's page: ``n`` nested ``<div><p>`` paragraphs with one
    anchor each."""
    para = "<div><p>Readable sentence, with commas, that scores well. <a href='/n'>a link</a></p>"
    return "<html><body>" + para * n + "</div>" * n + "</body></html>"


def test_text_node_visits_grow_linearly(monkeypatch):
    """Extraction reads each Text node a bounded number of times, however
    deep the page nests: the reads at 2n paragraphs are about twice
    those at n (the per-call walks read each paragraph's text once per
    enclosing div, about four times)."""
    slot = dom.Text.__dict__["value"]
    visits = [0]

    def read(node):
        visits[0] += 1
        return slot.__get__(node)

    monkeypatch.setattr(dom.Text, "value", property(read, slot.__set__))
    counts = []
    for n in (60, 120):
        visits[0] = 0
        assert extract(_nested_page(n), outputs=()).extracted
        counts.append(visits[0])
    assert counts[1] <= 2.2 * counts[0], counts
