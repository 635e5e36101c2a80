"""The tokenizer in ``core/dom.py`` against its pinned semantics.

Three checks:

- *Event stream.* ``dom.Tokenizer`` must emit exactly the callbacks of
  ``html.parser.HTMLParser(convert_charrefs=True)`` after ``feed`` and
  ``close`` under CPython 3.11.7. The stdlib parser is the oracle, so the
  differential test runs only where the interpreter's ``html.parser`` and
  ``_markupbase`` are byte-for-byte the 3.11.7 sources.
- *Pinned trees.* ``pinned_trees.json`` maps inputs built from the
  constructs that later Python versions tokenize differently, and from
  the stdlib's error and recovery cases, to the serialized tree (or the
  error text). It holds on every interpreter. Without pytest:

      python -c "import json; from nreadability_spark.core.dom import build_document as b
      for s, t in json.load(open('tests/pinned_trees.json')):
          try: got = b(s).to_html()
          except Exception as e: got = f'{type(e).__name__}: {e}'
          assert got == t, s"

- *Fast path.* The tokenizer's fast path (``dom._FAST_TAG``) must give
  the event stream and the tree that the general paths give with it
  switched off, over seeded tag soups and hand cases.
"""

import _markupbase
import hashlib
import html.parser
import json
import os
import random
import re
from types import SimpleNamespace

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nreadability_spark.core import dom
from nreadability_spark.core.dom import Tokenizer, build_document
from tools.core_ab import SOUPS, tag_soups

_STDLIB_3_11_7_SHA256 = (
    "2fc512ae95bed2746b5ba3fabb14fcebf3114ff808ce97d96214ddd613b253da",  # html/parser.py
    "cb14dd6f2e2439eb70b806cd49d19911363d424c2b6b9f4b73c9c08022d47030",  # _markupbase.py
)


def _sha256(module):
    with open(module.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


_ORACLE_IS_3_11_7 = (_sha256(html.parser), _sha256(_markupbase)) == _STDLIB_3_11_7_SHA256


class _Events:
    """Records every callback as a tuple."""

    def handle_starttag(self, tag, attrs):
        self.events.append(("start", tag, list(attrs)))

    def handle_startendtag(self, tag, attrs):
        self.events.append(("startend", tag, list(attrs)))

    def handle_endtag(self, tag):
        self.events.append(("end", tag))

    def handle_data(self, data):
        self.events.append(("data", data))

    def handle_comment(self, data):
        self.events.append(("comment", data))

    def handle_decl(self, decl):
        self.events.append(("decl", decl))

    def handle_pi(self, data):
        self.events.append(("pi", data))

    def unknown_decl(self, data):
        self.events.append(("unknown_decl", data))


class _Stdlib(_Events, html.parser.HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.events = []

    def run(self, text):
        self.feed(text)
        self.close()


class _Ours(_Events, Tokenizer):
    def __init__(self):
        self.events = []

    def run(self, text):
        self.tokenize(text)


def _event_stream(parser_cls, text):
    parser = parser_cls()
    try:
        parser.run(text)
    except AssertionError as exc:  # malformed marked sections raise
        return parser.events, str(exc)
    return parser.events, None


_PIECES = st.sampled_from([
    # constructs later Python versions tokenize differently
    "<!-- c --!>", "<!-- c -- >", "<!--->", "<title>", "</title>", "<textarea>",
    "</textarea>", "<iframe>", "</iframe>", "<xmp>", "</xmp>", "<noembed>",
    "</noembed>", "<noframes>", "</noframes>", "<a href=\"/p?a=1&copy=2\">",
    "<a title='&copy;x'>", "&copy=",
    # the stdlib's error and recovery cases
    "<![foo[", "<![if x]>", "<![endif]>", "<![CDATA[x]]>", "<![", "<?pi>", "<?",
    "<!--", "<a", "</a", "</ p>", "</>", "< p>", "<a/b>", "<a\x00b>", "</a\x00>",
    "<!doctype html>", "<!DOCTYPE", "<!>", "<!x y>", "<p / x>", "<a =b>", "<a b==c>",
    "</a b>", "<a b='c'd>", "<a b=\"c\" />", "<div id=\"m\" class=\"p\">", "<a x=\"1\"/>",
    "<A HREF=\"X\">", "<a x=\"&amp;\">",
    # ordinary markup, raw-text elements and references
    "<p>", "</p>", "<div class=x id='y'>", "</div>", "<br/>", "<img src=x />",
    "<A HREF=X>", "</A >", "<script>", "</script>", "</SCRIPT >", "<style>",
    "</style>", "<x-y:z>", "</x-y:z>", "&amp;", "&copy", "&#65;", "&#x42;",
    "&bogus;", "&", "<", ">", "=", "'", '"', "/", " ", "\n", "\x0b", "text",
])
_CHARS = st.text(alphabet="<>/!-?[]&;#='\" \nabpsx\x00", max_size=8)
_SOUP = st.lists(st.one_of(_PIECES, _CHARS), max_size=40).map("".join)


@pytest.mark.skipif(
    not _ORACLE_IS_3_11_7,
    reason="the oracle is CPython 3.11.7's html.parser; this interpreter has another",
)
@settings(max_examples=600, deadline=None)
@given(_SOUP)
def test_event_stream_matches_stdlib_3_11_7(soup):
    assert _event_stream(_Ours, soup) == _event_stream(_Stdlib, soup)


def _tree(text):
    try:
        return build_document(text).to_html()
    except Exception as exc:  # noqa: BLE001 — the error text is pinned too
        return f"{type(exc).__name__}: {exc}"


def test_pinned_trees():
    path = os.path.join(os.path.dirname(__file__), "pinned_trees.json")
    with open(path, encoding="utf-8") as f:
        table = json.load(f)
    assert len(table) >= 30
    for text, tree in table:
        assert _tree(text) == tree, text


# start tags on both sides of the fast path's edge
_FAST_PATH_CASES = (
    # spaces around "=", "==" and bare values
    '<a href = "x">', '<a href= "x">', '<a href ="x">', '<a href=="x">', "<a href=x>",
    '<a href="x" title=y>',
    # "&amp;", "<" and ">" inside quotes
    '<a title="a&amp;b">', '<a title="a<b">', '<a title="a>b">', '<a title="&">',
    # single quotes and uppercase names
    "<a href='x'>", '<A HREF="x">', '<a Href="x">', '<DIV class="x">', '<a title="X Y">',
    # duplicate attributes and "/>"
    '<a x="1" x="2">', '<br class="x"/>', '<br class="x" />', '<p class="x"/>',
    '<a href="x"/ >', '<a href="x"/y>', '<p/>', '<p />',
    # non-ASCII and other whitespace between attributes
    '<a\xa0href="x">', '<a href="x"\u3000title="y">', '<a href="x"\x0btitle="y">',
    '<a href="x"\x1ctitle="y">', '<a\nhref="x"\n>', '<p\tclass="x"\r\n>', '<a\x0chref="x">',
    # script and style opened through the fast path
    '<script type="text/javascript">if (a<b) x="</p>";</script>',
    '<style media="all">p > a {}</style>', '<SCRIPT type="x">y</script>',
    # names and values at the edge of the fast path's classes
    '<a="b" c="d">', '<a data-x.y:z_="1">', '<a _x="1">', '<a 1x="1">', '<a href="x"y="z">',
    '<a title="">', '<a title="\x00">', '<img src="a.png" alt="">', '<a\x00b c="d">',
    '<a href="x" >', '<a href="x"', '<a href="x', "<a href=\"x\"\u2028>",
)


def _fast_path_soups():
    """The seeded tag soups of ``tools/core_ab.py``, the hand cases, and
    soups of both with text between them."""
    rng = random.Random(2201)
    pieces = _FAST_PATH_CASES + ("text", " ", "&amp;", "</a>", "</p>", "<p>", "</script>")
    mixed = ["".join(rng.choice(pieces) for _ in range(rng.randint(1, 12))) for _ in range(600)]
    return tag_soups(SOUPS) + list(_FAST_PATH_CASES) + mixed


def _all_paths(soups):
    streams = [_event_stream(_Ours, soup) for soup in soups]
    return streams, [_tree(soup) for soup in soups]


def test_fast_path_matches_the_general_paths(monkeypatch):
    soups = _fast_path_soups()
    fast = _all_paths(soups)
    monkeypatch.setattr(dom, "_FAST_TAG", re.compile(r"(?!)"))
    general = _all_paths(soups)
    for kind, got, want in zip(("events", "tree"), fast, general):
        diff = [soups[i] for i, (a, b) in enumerate(zip(got, want)) if a != b]
        assert not diff, f"{kind} differ on {len(diff)} inputs, e.g. {diff[:3]!r}"


def test_fast_path_takes_the_quoted_attribute_tags(monkeypatch):
    """The differential above is not vacuous: the fast path takes the
    common start tags, attributes and all."""
    seen = []
    match = dom._FAST_TAG.match

    def spy(text, pos=0):
        m = match(text, pos)
        if m is not None:
            seen.append(m.group(2))
        return m

    monkeypatch.setattr(dom, "_FAST_TAG", SimpleNamespace(match=spy))
    build_document('<div id="m" class="post"><p class="x"/><script type="t">a<b</script>')
    assert seen == ["div", "p", "script"]
