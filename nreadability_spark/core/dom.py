"""Tolerant HTML DOM: parser, tree, and XML-style serializer.

From-scratch equivalent of the reference's DOM layer, which is
``System.Xml.Linq`` + a lenient SGML reader (``SgmlDomBuilder.cs:42-84``,
``DomExtensions.cs:33-299``). The binding semantics reproduced here:

1.  tag/attribute names are lowercased (``SgmlDomBuilder.cs:71``);
2.  the lenient HTML DTD implies end tags (``SgmlReader.cs:2560-2650``
    ``ValidateContent``): while the start tag is in ``CLOSED_BY`` of the
    innermost open element, that element is popped. The table holds the
    optional-end-tag elements other than ``html``, so the root, unknown
    containers and required-end-tag elements are never popped; neither
    is the BODY element at stack depth 2;
3.  whitespace-only text nodes are dropped (``SgmlDomBuilder.cs:73``);
4.  entities are expanded to characters at parse time and re-escaped
    minimally at serialization (XLinq behaviour);
5.  input after the final ``</html>`` is discarded
    (``SgmlDomBuilder.cs:54-66``);
6.  when the first content node is not ``<html>``, a simulated ``html``
    root element wraps the document (``SgmlReader.cs:1525-1545``);
7.  serialization is XLinq ``SaveOptions.DisableFormatting`` style:
    childless elements self-close as ``<name />``, text escapes
    ``& < >`` (and CR as ``&#xD;``), attributes are double-quoted and
    escape ``& < "`` plus TAB/LF/CR as character references;
8.  ``Element.remove_all()`` and ``set_inner_html()`` clear the element's
    *attributes* as well as its content — faithful to
    ``XElement.RemoveAll()`` as used at ``DomExtensions.cs:250`` and
    ``NReadabilityTranscoder.cs:768``, which is observable in the output
    (e.g. the glued ``<body>`` and ``<style>`` carry no attributes).

Tokenization is pinned to this file. ``Tokenizer`` is a single-shot
tokenizer for complete input whose event stream is that of CPython
3.11.7's ``html.parser.HTMLParser(convert_charrefs=True)`` after
``feed(s)`` + ``close()``, whatever the interpreter:

- text and attribute values are unescaped with ``html.unescape`` (so
  ``&copy=`` in an href becomes ``©=``); script/style content is raw
  text up to ``</script>``/``</style>``, and an unterminated one is
  dropped; title, textarea, iframe, xmp, noembed and noframes content
  is ordinary markup;
- comments end at the first ``--`` + optional whitespace + ``>``, so
  ``<!-- c --!>`` is text; ``<!...>`` other than a doctype or a marked
  section is a comment; ``<?...>`` and doctypes are dropped;
- ``<![CDATA[x]]>`` yields the text ``x``, ``<![if x]>``-style marked
  sections yield nothing, and any other status keyword (``<![foo[``)
  raises the stdlib's ``AssertionError``;
- an unterminated construct (``<!--``, ``<a``, ``</a``) becomes text up
  to the next ``>`` or ``<``; ``</ p>`` closes ``p``; a NUL ends a tag
  name.

``tests/test_tokenizer.py`` checks the event stream against the stdlib
where the interpreter carries the 3.11.7 sources, and pins the trees of
these constructs on every interpreter.

This file contains no Spark imports: it is shipped to Python workers and
must import fast (all tables are module-level constants).
"""

from __future__ import annotations

import re
from html import unescape

XML_WHITESPACE = " \t\r\n"

# --- HTML 4.01 (loose) DTD tables driving implied-end-tag recovery -------

VOID_ELEMENTS = frozenset(
    "area base basefont br col frame hr img input isindex link meta param".split()
)

_INLINE = frozenset(
    # %fontstyle | %phrase | %special | %formctrl of the HTML 4 loose DTD
    "tt i b u s strike big small em strong dfn code samp kbd var cite abbr "
    "acronym a img applet object font basefont br script map q sub sup span "
    "bdo iframe input select textarea label button".split()
)

_BLOCK = frozenset(
    "p h1 h2 h3 h4 h5 h6 ul ol dir menu pre dl div center noscript noframes "
    "blockquote form isindex hr table fieldset address".split()
)

_FLOW = _INLINE | _BLOCK

# Content models (what they may contain) of the elements whose end tag
# is optional in HTML 4 — the only ones the recovery loop may auto-close
# (everything else breaks the scan, matching ``ElementDecl.EndTagOptional``
# checks in SgmlReader.cs:2600-2607).
_CONTAINS = {
    "html": frozenset(("head", "body", "frameset")),
    "head": frozenset("title base script style meta link object isindex".split()),
    "body": _FLOW | frozenset(("ins", "del", "script")),
    "p": _INLINE,
    "dt": _INLINE,
    "dd": _FLOW,
    "li": _FLOW,
    "option": frozenset(),
    "thead": frozenset(("tr",)),
    "tbody": frozenset(("tr",)),
    "tfoot": frozenset(("tr",)),
    "tr": frozenset(("td", "th")),
    "td": _FLOW,
    "th": _FLOW,
    "colgroup": frozenset(("col",)),
}

# Elements known to the HTML DTD. Unknown tags bypass validation entirely
# (SgmlReader.cs: nodes with null DtdType are allowed anywhere).
KNOWN_ELEMENTS = _FLOW | frozenset(_CONTAINS) | VOID_ELEMENTS | frozenset(
    "title style caption col colgroup optgroup legend ins del map area param "
    "frameset frame noframes applet object script select textarea label button "
    "abbr acronym bdo".split()
)

# Implied end tags: each optional-end-tag parent -> the known tags whose
# start tag auto-closes it. ``html`` is left out (the root is never
# popped), and unknown tags close nothing.
CLOSED_BY = {
    parent: KNOWN_ELEMENTS - contains
    for parent, contains in _CONTAINS.items()
    if parent != "html"
}


class Node:
    """Base DOM node with a parent pointer and sibling navigation."""

    __slots__ = ("parent", "_pos")

    def __init__(self):
        self.parent = None
        self._pos = -1  # cached index within parent.children (a hint)

    def _index_in_parent(self):
        parent = self.parent
        if parent is None:
            return -1
        children = parent.children
        pos = self._pos
        if 0 <= pos < len(children) and children[pos] is self:
            return pos
        # hint stale after sibling mutations: rescan and refresh
        for i, child in enumerate(children):
            if child is self:
                self._pos = i
                return i
        return -1

    def remove(self):
        """Detach this node from its parent (no-op when detached)."""
        i = self._index_in_parent()
        if i >= 0:
            del self.parent.children[i]
        self.parent = None

    def replace_with(self, node):
        i = self._index_in_parent()
        if i < 0:
            return
        parent = self.parent
        if node.parent is not None:
            node = clone_node(node)
        parent.children[i] = node
        node.parent = parent
        node._pos = i
        self.parent = None

    def add_before_self(self, node):
        i = self._index_in_parent()
        if i < 0:
            return
        if node.parent is not None:
            node = clone_node(node)
        node.parent = self.parent
        node._pos = i
        self.parent.children.insert(i, node)

    def to_html(self):
        raise NotImplementedError


class Text(Node):
    __slots__ = ("value",)

    def __init__(self, value):
        # base initializer inlined here and in Element: node construction
        # is the parser's hot path
        self.parent = None
        self._pos = -1
        self.value = value

    def to_html(self):
        return escape_text(self.value)

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Text({self.value!r})"


class Comment(Node):
    __slots__ = ("value",)

    def __init__(self, value):
        super().__init__()
        self.value = value

    def to_html(self):
        return f"<!--{self.value}-->"

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Comment({self.value!r})"


class _Container(Node):
    """Shared child-list behaviour for Element and Document."""

    __slots__ = ("children",)

    def __init__(self):
        super().__init__()
        self.children = []

    # -- child management --------------------------------------------------
    #
    # XLinq parity: attaching a node that already has a parent attaches a
    # deep CLONE, leaving the original in place (XContainer.Add semantics).
    # This is observable in the reference: sibling elements merged into the
    # article content div at NReadabilityTranscoder.cs:1005-1018 are clones,
    # so later score lookups on them miss the score dictionary.

    def append(self, node):
        if node.parent is not None:
            node = clone_node(node)
        node.parent = self
        node._pos = len(self.children)
        self.children.append(node)
        return node

    def add(self, *nodes):
        for node in nodes:
            self.append(node)

    def add_first(self, node):
        if node.parent is not None:
            node = clone_node(node)
        node.parent = self
        node._pos = 0
        self.children.insert(0, node)
        return node

    def nodes(self):
        return list(self.children)

    # -- queries ------------------------------------------------------------

    def elements(self):
        """Direct child elements."""
        return [c for c in self.children if isinstance(c, Element)]

    def descendants(self):
        """All descendant elements in document order (self excluded)."""
        return (node for node in self.descendant_nodes() if isinstance(node, Element))

    def descendant_nodes(self):
        stack = [iter(self.children)]
        while stack:
            it = stack[-1]
            advanced = False
            for node in it:
                yield node
                if isinstance(node, _Container):
                    stack.append(iter(node.children))
                    advanced = True
                    break
            if not advanced:
                stack.pop()

    def get_elements_by_tag_name(self, tag_name):
        """Descendant elements matching name, case-insensitively
        (DomExtensions.cs:269-283). Direct stack walk (document order)
        instead of the ``descendants()`` generator — this is the
        hottest DOM query in the extraction profile."""
        tag_name = tag_name.lower()
        out = []
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if type(node) is Element:
                if node.name == tag_name:
                    out.append(node)
                if node.children:
                    stack.extend(node.children[::-1])
        return out

    def first_element_by_tag_name(self, tag_name):
        """The first of ``get_elements_by_tag_name(tag_name)``, or None,
        without walking past it."""
        tag_name = tag_name.lower()
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if type(node) is Element:
                if node.name == tag_name:
                    return node
                if node.children:
                    stack.extend(node.children[::-1])
        return None

    def elements_by_tag_name(self):
        """Every descendant element bucketed by name, each bucket in
        document order: one walk that answers ``get_elements_by_tag_name``
        for every name while the subtree does not change."""
        index = {}
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if type(node) is Element:
                bucket = index.get(node.name)
                if bucket is None:
                    index[node.name] = [node]
                else:
                    bucket.append(node)
                if node.children:
                    stack.extend(node.children[::-1])
        return index

    def get_children_by_tag_name(self, tag_name):
        tag_name = tag_name.lower()
        return [e for e in self.children if isinstance(e, Element) and e.name == tag_name]

    # -- text ----------------------------------------------------------------

    @property
    def value(self):
        """Concatenated descendant text (XElement.Value semantics:
        comments excluded)."""
        children = self.children
        if len(children) == 1 and type(children[0]) is Text:
            return children[0].value  # the common leaf
        parts = []
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            kind = type(node)
            if kind is Text:
                parts.append(node.value)
            elif kind is Element and node.children:
                stack.extend(node.children[::-1])
        return "".join(parts)

    # -- HTML fragments -------------------------------------------------------

    def inner_html(self):
        """Serialized concatenation of child nodes
        (DomExtensions.cs:221-236, DisableFormatting)."""
        return "".join(node.to_html() for node in self.children)


class Element(_Container):
    __slots__ = ("name", "attrs")

    def __init__(self, name, attrs=None):
        self.parent = None
        self._pos = -1
        self.children = []
        self.name = name
        self.attrs = dict(attrs) if attrs else {}

    # -- attributes -----------------------------------------------------------

    def get_attribute_value(self, name, default=None):
        return self.attrs.get(name, default)

    def set_attribute_value(self, name, value):
        """Set or, when value is None, remove (DomExtensions.cs:153-178)."""
        if value is None:
            self.attrs.pop(name, None)
        else:
            self.attrs[name] = value

    def get_id(self):
        return self.attrs.get("id", "")

    def set_id(self, value):
        self.set_attribute_value("id", value)

    def get_class(self):
        return self.attrs.get("class", "")

    def set_class(self, value):
        self.set_attribute_value("class", value)

    def get_style(self):
        return self.attrs.get("style", "")

    def set_style(self, value):
        self.set_attribute_value("style", value)

    def get_attributes_string(self, separator):
        """Join non-empty attribute values (DomExtensions.cs:180-219)."""
        return separator.join(v for v in self.attrs.values() if v)

    # -- structure ------------------------------------------------------------

    def remove_all(self):
        """Remove all content AND attributes (XElement.RemoveAll parity)."""
        for child in self.children:
            child.parent = None
        self.children.clear()
        self.attrs.clear()

    def set_inner_html(self, html):
        """Replace content by re-parsing an HTML fragment
        (DomExtensions.cs:238-263). Clears attributes first, because the
        reference calls XElement.RemoveAll().

        Fast path: a fragment with no ``<`` and no ``&`` contains no
        tags, comments, or entity references — the parser sees one data
        run and produces exactly one Text node (or nothing if
        whitespace-only). The sibling-merge stage (NRT:985) funnels
        every merged paragraph's raw text through here, so skipping the
        full tokenizer for plain text is a major win on article-heavy
        payloads."""
        self.remove_all()
        if html and "<" not in html and "&" not in html:
            # emptiness gate matches build_document's (str.strip(), which
            # also covers \x0b/\x0c and Unicode spaces): a form-feed-only
            # fragment must produce no node on BOTH paths, like .NET's
            # IsNullOrWhiteSpace
            if html.strip():
                text = Text(html)
                text.parent = self
                text._pos = 0
                self.children.append(text)
            return
        tmp = build_document(html)
        if tmp.root is None:
            return
        # reference clones (nodes are parented, DomExtensions.cs:259-262);
        # moving from the discarded temp document is observably identical
        for node in tmp.root.children:
            node.parent = self
            node._pos = len(self.children)
            self.children.append(node)

    # -- serialization ----------------------------------------------------------

    def to_html(self):
        # iterative (explicit stack): serialization depth equals DOM
        # depth, and hostile rows nest thousands deep
        out = []
        stack = [self]
        while stack:
            node = stack.pop()
            if isinstance(node, str):
                out.append(node)
            elif isinstance(node, Element):
                out.append("<")
                out.append(node.name)
                for k, v in node.attrs.items():
                    out.append(f' {k}="{escape_attr(v)}"')
                if node.children:
                    out.append(">")
                    stack.append(f"</{node.name}>")
                    for child in reversed(node.children):
                        stack.append(child)
                else:
                    out.append(" />")
            else:
                out.append(node.to_html())  # Text / Comment leaf
        return "".join(out)

    def __repr__(self):  # pragma: no cover - debug aid
        return f"<Element {self.name} attrs={self.attrs} children={len(self.children)}>"


class Document(_Container):
    """Document node; at most one Element child (the root), plus comments.

    What the parser built, 0 or empty for a document built any other way;
    later mutations do not update these:

    - ``parsed_text_length``, the total length of the Text nodes;
    - ``parsed_names``, the set of names of the elements below the root;
    - ``parsed_comments``, the number of comments."""

    __slots__ = ("parsed_text_length", "parsed_names", "parsed_comments")

    def __init__(self):
        super().__init__()
        self.parsed_text_length = 0
        self.parsed_names = set()
        self.parsed_comments = 0

    @property
    def root(self):
        for child in self.children:
            if isinstance(child, Element):
                return child
        return None

    def get_body(self):
        """The first ``body`` element in document order, or None."""
        root = self.root
        if root is None:
            return None
        return root.first_element_by_tag_name("body")

    def get_title(self):
        """Document title (DomExtensions.cs:50-79): None when rootless,
        '' when head/title missing."""
        root = self.root
        if root is None:
            return None
        head = root.first_element_by_tag_name("head")
        if head is None:
            return ""
        titles = head.get_children_by_tag_name("title")
        if not titles:
            return ""
        return (titles[0].value or "").strip()

    def get_element_by_id(self, element_id):
        """The first element in document order whose id is
        ``element_id``, or None."""
        return next((e for e in self.descendants() if e.attrs.get("id") == element_id), None)

    def to_html(self):
        return self.inner_html()


# --- pretty (indented) serialization -----------------------------------


def _pretty_node(node, depth, in_mixed):
    """Serialization tokens for one element (iterative caller)."""
    open_tag = "<" + node.name + "".join(
        f' {k}="{escape_attr(v)}"' for k, v in node.attrs.items()
    )
    if not node.children:
        return [open_tag + " />"]
    tokens = [open_tag + ">"]
    mixed = in_mixed
    for child in node.children:
        if isinstance(child, Element):
            if not mixed:
                tokens.append("\n" + "  " * (depth + 1))
            tokens.append(("node", child, depth + 1, mixed))
        elif isinstance(child, Text):
            mixed = True
            tokens.append(child.to_html())
        else:  # Comment
            if not mixed:
                tokens.append("\n" + "  " * (depth + 1))
            tokens.append(child.to_html())
    if not mixed:
        tokens.append("\n" + "  " * depth)
    tokens.append(f"</{node.name}>")
    return tokens


def to_pretty_html(document):
    """XLinq-style indented serialization (``XDocument.ToString(
    SaveOptions.None)`` shape, SgmlDomSerializer.cs:70): two-space
    indentation, one element per line, and — the XmlWriter mixed-content
    rule — once a text node is written inside an element, indentation is
    suppressed for the remainder of that element's subtree and resumes
    after its end tag. Divergence from .NET: lines end with "\\n", not
    XmlWriterSettings' default "\\r\\n". Iterative (explicit stack):
    hostile rows nest thousands deep."""
    out = []
    top = []
    for i, child in enumerate(document.children):
        if i:
            top.append("\n")
        top.append(("node", child, 0, False) if isinstance(child, Element) else child.to_html())
    stack = list(reversed(top))
    while stack:
        item = stack.pop()
        if isinstance(item, str):
            out.append(item)
            continue
        _tag, node, depth, in_mixed = item
        for t in reversed(_pretty_node(node, depth, in_mixed)):
            stack.append(t)
    return "".join(out)


def _shallow_clone(node):
    if isinstance(node, Text):
        return Text(node.value)
    if isinstance(node, Comment):
        return Comment(node.value)
    if isinstance(node, Element):
        return Element(node.name, node.attrs)
    raise TypeError(f"cannot clone {type(node).__name__}")


def clone_node(node):
    """Deep copy of a node, detached (iterative: clone depth equals DOM
    depth)."""
    root = _shallow_clone(node)
    if not isinstance(node, Element):
        return root
    stack = [(node, root)]
    while stack:
        src, dst = stack.pop()
        kids = dst.children
        for child in src.children:
            kind = type(child)
            if kind is Element:
                fresh = Element(child.name, child.attrs)
                if child.children:
                    stack.append((child, fresh))
            elif kind is Text:
                fresh = Text(child.value)
            else:
                fresh = _shallow_clone(child)
            fresh.parent = dst
            fresh._pos = len(kids)
            kids.append(fresh)
    return root


# --- serialization escapes ---------------------------------------------------


def escape_text(value):
    """XLinq text-node escaping: & < > and CR."""
    if not value:
        return ""
    value = (
        value.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace("\r", "&#xD;")
    )
    return value


def escape_attr(value):
    """XLinq attribute escaping: & < " plus TAB/LF/CR char references."""
    if not value:
        return ""
    return (
        value.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace('"', "&quot;")
        .replace("\t", "&#x9;")
        .replace("\n", "&#xA;")
        .replace("\r", "&#xD;")
    )


# --- tokenizer ------------------------------------------------------------------
#
# The patterns of CPython 3.11.7's ``html.parser`` and ``_markupbase``,
# pinned here: tokenization is a function of this file, not of the
# interpreter's patch level (later versions changed comment, RCDATA and
# attribute-value handling).

_STARTTAG_OPEN = re.compile(r"<[a-zA-Z]")
_COMMENT_CLOSE = re.compile(r"--\s*>")
_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_LOCATE_STARTTAG_END = re.compile(
    r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
    re.VERBOSE,
)
_ENDTAGFIND = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_SECTION_CLOSE = re.compile(r"]\s*]\s*>")
_MS_MARKED_SECTION_CLOSE = re.compile(r"]\s*>")
# script/style content is raw text up to the matching end tag
_CDATA_CLOSE = {
    name: re.compile(r"</\s*%s\s*>" % name, re.I) for name in ("script", "style")
}
# the fast path (see ``Tokenizer``): the text up to the next ``<`` and
# the tag there, when it is a plain end tag or a start tag whose
# attributes are all ``name="value"`` with a lowercase ASCII name and no
# ``&``, ``<`` or ``>`` in the value; group 1 is the text, 2 the tag
# name, 3 the attributes, 4 the ``/`` of ``/>`` and 5 the end tag's name
_FAST_TAG = re.compile(
    r'([^<]*)<(?:([a-zA-Z][^\t\n\r\f />\x00]*)'
    r'((?:[ \t\n\r\f]+[a-z_:][-.a-z0-9_:]*="[^"&<>]*")*)[ \t\n\r\f]*(/?)'
    r"|/([a-zA-Z][-.a-zA-Z0-9:_]*))>"
)
# the (name, value) pairs of the fast path's group 3
_QUOTED_ATTR = re.compile(r'([a-z_:][-.a-z0-9_:]*)="([^"]*)"')
_LETTERS_EQ_SLASH = "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"


class Tokenizer:
    """Single-shot HTML tokenizer for complete input.

    The event stream is that of ``html.parser.HTMLParser(
    convert_charrefs=True)`` under CPython 3.11.7 after ``feed(s)`` and
    ``close()``, i.e. its ``goahead(end=1)``: the same callbacks with the
    same arguments in the same order, including the recovery that turns
    an unterminated construct into text and the ``AssertionError`` a
    malformed marked section (``<![foo[``) raises. No line/offset
    bookkeeping is kept.

    Subclasses define every callback, with HTMLParser's names and
    signatures: ``handle_starttag(tag, attrs)``,
    ``handle_startendtag(tag, attrs)``, ``handle_endtag(tag)``,
    ``handle_data(data)``, ``handle_comment(data)``, ``handle_decl(decl)``,
    ``handle_pi(data)`` and ``unknown_decl(data)``.

    Fast path. Outside script/style raw text, one match of
    ``_FAST_TAG`` takes the text up to the next ``<`` and the tag there
    when that tag is ``</name>`` or a start tag whose attributes are all
    ``name="value"``: a lowercase ASCII name, a double-quoted value with
    no ``&``, ``<`` or ``>``, spaces, tabs, LF, CR or FF between them, and an
    optional ``/`` right before the ``>``. The general paths give such a
    tag exactly the fast path's event: ``_LOCATE_STARTTAG_END`` ends it
    at its ``>``, ``_TAGFIND`` reads the same name (the name stops at the
    first whitespace or ``/``), each ``_ATTRFIND`` match is one
    ``name="value"`` pair with the quotes stripped, ``unescape`` returns
    a value without ``&`` unchanged, and what is left before ``>`` is
    ``>`` or ``/>``. Any other tag, such as one with a single-quoted,
    bare or entity-bearing value, an uppercase attribute name or other
    whitespace, takes the general paths.
    ``tests/test_tokenizer.py`` checks both ways agree.
    """

    def tokenize(self, rawdata):
        self.rawdata = rawdata
        self.cdata_elem = None  # "script"/"style" while inside its raw text
        handle_data = self.handle_data
        handle_starttag = self.handle_starttag
        handle_endtag = self.handle_endtag
        fast_tag = _FAST_TAG.match
        quoted_attrs = _QUOTED_ATTR.findall
        find = rawdata.find
        startswith = rawdata.startswith
        n = len(rawdata)
        i = 0
        while i < n:
            cdata_elem = self.cdata_elem
            if cdata_elem is None:
                m = fast_tag(rawdata, i)
                if m is not None:
                    text, tag, attrs, slash, end_tag = m.groups()
                    if text:
                        handle_data(unescape(text) if "&" in text else text)
                    if end_tag is not None:
                        handle_endtag(end_tag.lower())
                    else:
                        tag = tag.lower()
                        attrs = quoted_attrs(attrs) if attrs else []
                        if slash:
                            self.handle_startendtag(tag, attrs)
                        else:
                            handle_starttag(tag, attrs)
                            if tag in _CDATA_CLOSE:
                                self.cdata_elem = tag
                    i = m.end()
                    continue
                j = find("<", i)
                if j < 0:
                    break  # trailing text, after the loop
                if i < j:
                    text = rawdata[i:j]
                    handle_data(unescape(text) if "&" in text else text)
            else:
                m = _CDATA_CLOSE[cdata_elem].search(rawdata, i)
                if m is None:
                    break  # unterminated raw text is dropped
                j = m.start()
                if i < j:
                    handle_data(rawdata[i:j])
            i = j
            if _STARTTAG_OPEN.match(rawdata, i):
                k = self._parse_starttag(i)
            elif startswith("</", i):
                k = self._parse_endtag(i)
            elif startswith("<!--", i):
                k = self._parse_comment(i)
            elif startswith("<?", i):
                k = self._parse_pi(i)
            elif startswith("<!", i):
                k = self._parse_html_declaration(i)
            elif i + 1 < n:
                handle_data("<")
                k = i + 1
            else:
                break
            if k < 0:
                # unterminated construct: text up to the next ">" (or "<")
                k = find(">", i + 1)
                if k < 0:
                    k = find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                if self.cdata_elem is None:
                    handle_data(unescape(rawdata[i:k]))
                else:
                    handle_data(rawdata[i:k])
            i = k
        if i < n and self.cdata_elem is None:
            handle_data(unescape(rawdata[i:n]))

    # -- the general paths; each returns the end of the construct, or -1
    # when it is unterminated --------------------------------------------------

    def _parse_starttag(self, i):
        rawdata = self.rawdata
        endpos = self._check_for_whole_start_tag(i)
        if endpos < 0:
            return endpos
        attrs = []
        match = _TAGFIND.match(rawdata, i + 1)
        k = match.end()
        tag = match.group(1).lower()
        while k < endpos:
            m = _ATTRFIND.match(rawdata, k)
            if not m:
                break
            attrname, rest, attrvalue = m.group(1, 2, 3)
            if not rest:
                attrvalue = None
            elif (
                attrvalue[:1] == "'" == attrvalue[-1:]
                or attrvalue[:1] == '"' == attrvalue[-1:]
            ):
                attrvalue = attrvalue[1:-1]
            if attrvalue:
                attrvalue = unescape(attrvalue)
            attrs.append((attrname.lower(), attrvalue))
            k = m.end()
        end = rawdata[k:endpos].strip()
        if end not in (">", "/>"):
            self.handle_data(rawdata[i:endpos])
            return endpos
        if end.endswith("/>"):
            self.handle_startendtag(tag, attrs)
        else:
            self.handle_starttag(tag, attrs)
            if tag in _CDATA_CLOSE:
                self.cdata_elem = tag
        return endpos

    def _check_for_whole_start_tag(self, i):
        rawdata = self.rawdata
        j = _LOCATE_STARTTAG_END.match(rawdata, i).end()
        nxt = rawdata[j : j + 1]
        if nxt == ">":
            return j + 1
        if nxt == "/":
            return j + 2 if rawdata.startswith("/>", j) else -1
        if nxt == "" or nxt in _LETTERS_EQ_SLASH:
            return -1
        return j if j > i else i + 1

    def _parse_endtag(self, i):
        rawdata = self.rawdata
        gtpos = rawdata.find(">", i + 1)
        if gtpos < 0:
            return -1
        gtpos += 1
        match = _ENDTAGFIND.match(rawdata, i)
        if not match:
            if self.cdata_elem is not None:
                self.handle_data(rawdata[i:gtpos])
                return gtpos
            namematch = _TAGFIND.match(rawdata, i + 2)
            if not namematch:
                if rawdata[i : i + 3] == "</>":
                    return i + 3
                return self._parse_bogus_comment(i)
            # anything between the name and the ">" is ignored
            self.handle_endtag(namematch.group(1).lower())
            return rawdata.find(">", namematch.end()) + 1
        elem = match.group(1).lower()
        if self.cdata_elem is not None and elem != self.cdata_elem:
            self.handle_data(rawdata[i:gtpos])
            return gtpos
        self.handle_endtag(elem)
        self.cdata_elem = None
        return gtpos

    def _parse_comment(self, i):
        match = _COMMENT_CLOSE.search(self.rawdata, i + 4)
        if not match:
            return -1
        self.handle_comment(self.rawdata[i + 4 : match.start()])
        return match.end()

    def _parse_pi(self, i):
        j = self.rawdata.find(">", i + 2)
        if j < 0:
            return -1
        self.handle_pi(self.rawdata[i + 2 : j])
        return j + 1

    def _parse_html_declaration(self, i):
        rawdata = self.rawdata
        if rawdata[i : i + 3] == "<![":
            return self._parse_marked_section(i)
        if rawdata[i : i + 9].lower() == "<!doctype":
            gtpos = rawdata.find(">", i + 9)
            if gtpos == -1:
                return -1
            self.handle_decl(rawdata[i + 2 : gtpos])
            return gtpos + 1
        return self._parse_bogus_comment(i)

    def _parse_bogus_comment(self, i):
        pos = self.rawdata.find(">", i + 2)
        if pos == -1:
            return -1
        self.handle_comment(self.rawdata[i + 2 : pos])
        return pos + 1

    def _parse_marked_section(self, i):
        rawdata = self.rawdata
        sect_name, j = self._scan_name(i + 3, i)
        if j < 0:
            return j
        if sect_name in {"temp", "cdata", "ignore", "include", "rcdata"}:
            match = _MARKED_SECTION_CLOSE.search(rawdata, i + 3)
        elif sect_name in {"if", "else", "endif"}:
            match = _MS_MARKED_SECTION_CLOSE.search(rawdata, i + 3)
        else:
            raise AssertionError(
                "unknown status keyword %r in marked section" % rawdata[i + 3 : j]
            )
        if not match:
            return -1
        self.unknown_decl(rawdata[i + 3 : match.start()])
        return match.end()

    def _scan_name(self, i, declstartpos):
        rawdata = self.rawdata
        n = len(rawdata)
        if i == n:
            return None, -1
        m = _DECLNAME.match(rawdata, i)
        if m:
            s = m.group()
            if i + len(s) == n:
                return None, -1  # the name runs to the end of the input
            return s.strip().lower(), m.end()
        raise AssertionError(
            "expected name token at %r" % rawdata[declstartpos : declstartpos + 20]
        )


# --- tree builder -------------------------------------------------------------------


class _TreeBuilder(Tokenizer):
    """Builds the Node tree with SGML-style implied-end-tag recovery."""

    def __init__(self):
        self.document = Document()
        self.stack = [self.document]
        self._text_buf = []
        # data goes straight to the buffer (an empty piece, such as
        # ``&#1;`` unescaped, flushes to nothing)
        self.handle_data = self._text_buf.append
        self._names = self.document.parsed_names

    # -- text buffering (a contiguous run is one node; whitespace-only runs
    # are dropped, mirroring WhitespaceHandling.None) -------------------------

    def _flush_text(self):
        buf = self._text_buf
        data = "".join(buf)
        buf.clear()
        if not data.strip(XML_WHITESPACE):
            return  # whitespace-only text node: dropped
        self.document.parsed_text_length += len(data)
        stack = self.stack
        if len(stack) == 1:
            self._ensure_root()
        top = stack[-1]
        kids = top.children
        if kids and type(kids[-1]) is Text:
            kids[-1].value += data
        else:
            # inlined _Container.append for the fresh-node case (parser
            # nodes never have a prior parent) — hot path
            node = Text(data)
            node.parent = top
            node._pos = len(kids)
            kids.append(node)

    # -- root simulation ---------------------------------------------------------

    def _ensure_root(self):
        """Wrap content in a simulated <html> root when the first content
        node is not an html element (SgmlReader.cs:1525-1545)."""
        if len(self.stack) > 1:
            return
        document = self.document
        existing = document.root
        if existing is not None:
            # content after the root closed: re-enter the root
            self.stack.append(existing)
            return
        root = Element("html")
        document.append(root)
        self.stack.append(root)

    # -- implied end tags -----------------------------------------------------------

    def _validate_content(self, name):
        """Auto-close optional-end-tag ancestors that cannot contain
        ``name`` (SgmlReader.cs ValidateContent, lines 2560-2650)."""
        stack = self.stack
        top = len(stack) - 1
        i = top
        while i > 0:
            ename = stack[i].name
            if i == 2 and ename == "body":
                break  # never close BODY early
            if name not in CLOSED_BY.get(ename, ()):
                break
            i -= 1
        if 0 < i < top:
            del stack[i + 1 :]  # nodes stay attached; only the open stack shrinks

    # -- tokenizer callbacks ---------------------------------------------------------

    def _open_root(self, tag, attrs):
        """At document level: an <html> start tag before any root becomes
        the root (True); any other tag opens or re-enters the root."""
        if tag == "html" and self.document.root is None:
            element = Element(tag, _dedupe_attrs(attrs))
            self.document.append(element)
            self.stack.append(element)
            return True
        self._ensure_root()
        return False

    def handle_starttag(self, tag, attrs):
        if self._text_buf:
            self._flush_text()
        stack = self.stack
        if len(stack) == 1 and self._open_root(tag, attrs):
            return
        top = stack[-1]
        closed_by = CLOSED_BY.get(top.name)
        if closed_by is not None and tag in closed_by:  # else nothing closes
            self._validate_content(tag)
            top = stack[-1]
        self._names.add(tag)
        element = Element(tag)
        if attrs:
            element.attrs = _dedupe_attrs(attrs)
        element.parent = top
        element._pos = len(top.children)
        top.children.append(element)
        if tag not in VOID_ELEMENTS:
            stack.append(element)

    def handle_startendtag(self, tag, attrs):
        # XML-style <tag/>: empty element, never pushed (SgmlReader IsEmpty)
        if self._text_buf:
            self._flush_text()
        if len(self.stack) == 1 and self._open_root(tag, attrs):
            return
        self._validate_content(tag)
        self._names.add(tag)
        self.stack[-1].append(Element(tag, _dedupe_attrs(attrs)))

    def handle_endtag(self, tag):
        if self._text_buf:
            self._flush_text()
        if tag in VOID_ELEMENTS:
            return
        stack = self.stack
        if len(stack) > 1 and stack[-1].name == tag:  # the common case
            del stack[-1]
            return
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].name == tag:
                del stack[i:]
                return
        # no matching open element: stray end tag, ignored

    def handle_comment(self, data):
        if self._text_buf:
            self._flush_text()
        # comments may appear at document level (before any root)
        self.document.parsed_comments += 1
        self.stack[-1].append(Comment(data))

    def handle_decl(self, decl):
        if self._text_buf:
            self._flush_text()  # DOCTYPE etc.: dropped

    def handle_pi(self, data):
        if self._text_buf:
            self._flush_text()  # processing instructions: dropped

    def unknown_decl(self, data):
        # CDATA sections -> text content
        if data.startswith("CDATA["):
            self._text_buf.append(data[6:])

    def finish(self):
        if self._text_buf:
            self._flush_text()
        del self.stack[1:]  # EOF auto-close
        return self.document


def _dedupe_attrs(attrs):
    """First occurrence wins; minimized attributes get their own name as
    value (SGML attribute minimization)."""
    out = dict(attrs)
    if len(out) == len(attrs) and None not in out.values():
        return out  # no repeated and no minimized attribute
    out = {}
    for key, value in attrs:
        if key not in out:
            out[key] = value if value is not None else key
    return out


def build_document(html_content):
    """Lenient HTML -> Document (SgmlDomBuilder.cs:42-84 semantics):
    empty/whitespace input gives an empty document; input after the final
    ``</html>`` tag is discarded."""
    if html_content is None:
        raise ValueError("html_content must not be None")

    if not html_content.strip():
        return Document()

    idx = html_content.rfind("</html")
    if idx != -1:
        bracket = html_content.find(">", idx)
        if bracket != -1:
            html_content = html_content[: bracket + 1]

    builder = _TreeBuilder()
    builder.tokenize(html_content)
    return builder.finish()
