"""Main-content extraction: a from-scratch port of the readability
scoring algorithm, re-expressed as a pure function.

Semantics follow ``NReadabilityTranscoder.cs`` stage by stage (citations
inline). Differences by design:

- pure function: the reference mutates instance state during its
  too-little-content fallback rerun (``NReadabilityTranscoder.cs:313-326``,
  non-reentrant); here the retry is an explicit parameter, making the
  function thread-safe on Spark executors and a deterministic function of
  its inputs.
- deterministic tie-breaks: the reference iterates a ``HashSet`` in
  unspecified order when choosing the top candidate
  (``NReadabilityTranscoder.cs:890``); we fix document/insertion order,
  so ties resolve to the first-seen candidate, making output a pure
  function of the input bytes.
- null/empty input returns an empty result instead of throwing
  (``NReadabilityTranscoder.cs:286-289``); a 10^12-row job must not fail
  a task on one empty payload.
- spans: char offsets ``[start, end)`` of each top-level article child's
  text within the *raw* concatenated article text — an addition for
  conversation-level offset bookkeeping, not a reference feature.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from dataclasses import dataclass, field

from nreadability_spark.core import regexes, urls
from nreadability_spark.core.css import READABILITY_CSS
from nreadability_spark.core.dom import (
    CLOSED_BY,
    XML_WHITESPACE,
    Comment,
    Document,
    Element,
    Text,
    build_document,
    to_pretty_html,
)

GENERATOR_NAME = "nreadability-spark 0.1.0"

OVERLAY_DIV_ID = "readOverlay"
INNER_DIV_ID = "readInner"
CONTENT_DIV_ID = "readability-content"
READABILITY_STYLED_CSS_CLASS = "readability-styled"

# Algorithm constants (NReadabilityTranscoder.cs:82-103)
MIN_PARAGRAPH_LENGTH = 25
MIN_INNER_TEXT_LENGTH = 25
PARAGRAPH_SEGMENT_LENGTH = 100
MAX_POINTS_FOR_SEGMENTS_COUNT = 3
MIN_SIBLING_PARAGRAPH_LENGTH = 80
MIN_COMMA_SEGMENTS = 10
LIS_COUNT_THRESHOLD = 100
MAX_IMAGES_IN_SHORT_SEGMENTS_COUNT = 2
MIN_INNER_TEXT_LENGTH_IN_ELEMENTS_WITH_EMBED = 75
CLASS_WEIGHT_THRESHOLD = 25
MAX_EMBEDS_COUNT = 1
MAX_ARTICLE_TITLE_LENGTH = 150
MIN_ARTICLE_TITLE_LENGTH = 15
MIN_ARTICLE_TITLE_WORDS_COUNT_1 = 3
MIN_ARTICLE_TITLE_WORDS_COUNT_2 = 4

SIBLING_SCORE_THRESHOLD_COEFFICIENT = 0.2
MAX_SIBLING_SCORE_THRESHOLD = 10.0
MAX_SIBLING_PARAGRAPH_LINKS_DENSITY = 0.25
MAX_HEADER_LINKS_DENSITY = 0.33
MAX_DENSITY_FOR_ELEMENTS_WITH_SMALLER_CLASS_WEIGHT = 0.2
MAX_DENSITY_FOR_ELEMENTS_WITH_GREATER_CLASS_WEIGHT = 0.5

MIN_ARTICLE_LENGTH_FOR_NO_FALLBACK = 250  # NRT:314

DOCTYPE = (
    '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN"\r\n'
    '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">\r\n'
)

_INT_RE = re.compile(r"^[+-]?\d+$")

# ``\s`` in a str pattern matches exactly the 29 code points for which
# ``str.isspace()`` holds: the space, the 9 other ASCII ones below and
# the 19 outside ASCII (see ``normalize_spaces``)
ASCII_SPACES_BUT_SPACE = "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f"
NON_ASCII_SPACES = (
    "\x85\xa0\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009"
    "\u200a\u2028\u2029\u202f\u205f\u3000"
)
_OTHER_SPACES = ASCII_SPACES_BUT_SPACE + NON_ASCII_SPACES


@dataclass(frozen=True)
class SerializationOptions:
    """DomSerializationParams.cs:24-44 equivalent (defaults all-include)."""

    pretty_print: bool = False
    dont_include_content_type_meta: bool = False
    dont_include_mobile_meta: bool = False
    dont_include_doctype: bool = False
    dont_include_generator_meta: bool = False


@dataclass(frozen=True)
class ExtractionOptions:
    """Transcoder flags (NReadabilityTranscoder.cs:140-145) + hooks
    (NRT:1512-1525)."""

    dont_strip_unlikelys: bool = False
    dont_normalize_spaces: bool = False
    dont_weight_classes: bool = False
    reading_style: str = "Newspaper"   # Enums.cs ReadingStyle
    reading_margin: str = "Wide"       # Enums.cs ReadingMargin
    reading_size: str = "Medium"       # Enums.cs ReadingSize
    image_source_transformer: object = None
    anchor_href_transformer: object = None
    serialization: SerializationOptions = field(default_factory=SerializationOptions)


@dataclass
class ExtractResult:
    html: str                 # full transcoded page (Transcode output); "" unless requested
    content_html: str         # serialized article content div; "" unless requested
    content_text: str         # normalized article inner text (equality target)
    title: str | None
    extracted: bool
    next_page_url: str | None
    spans: list               # [(start, end), ...] see module docstring


DEFAULT_OPTIONS = ExtractionOptions()

# the serialized outputs ``extract`` can build; everything else in an
# ExtractResult comes from the article tree and costs nothing extra
SERIALIZED_OUTPUTS = frozenset({"html", "content_html"})


def extract(html_content, url=None, options=None, outputs=SERIALIZED_OUTPUTS):
    """HTML string -> ExtractResult. Pure and deterministic.

    ``outputs`` selects the serialized outputs to build, any subset of
    ``SERIALIZED_OUTPUTS``; an output left out is ``""``. ``"html"``
    costs the glue of the reading page (NRT:707-770) and its
    serialization, ``"content_html"`` the article's serialization.
    Neither changes any other field: glue only attaches the article and
    title elements to the page, and serialization reads the tree."""
    opts = options or DEFAULT_OPTIONS
    unknown = set(outputs) - SERIALIZED_OUTPUTS
    if unknown:
        raise ValueError(f"unknown outputs: {sorted(unknown)}")

    if html_content is None or html_content == "":
        return ExtractResult(
            html="", content_html="", content_text="", title=None,
            extracted=False, next_page_url=None, spans=[],
        )

    run, document, article, title_element, next_page_url, content_text = transcode(
        html_content, url, opts
    )
    spans = _article_spans(article, run.index)

    html = ""
    if "html" in outputs:
        run.glue_document(document, title_element, article)
        html = serialize_document(document, opts.serialization)

    return ExtractResult(
        html=html,
        content_html=article.to_html() if "content_html" in outputs else "",
        content_text=content_text,
        title=title_element.value if title_element is not None else None,
        extracted=bool(article.children),
        next_page_url=next_page_url,
        spans=spans,
    )


def transcode(html_content, url, opts):
    """TranscodeToXml with its <250-char fallback pass (NRT:313-326),
    short of the glue. Returns ``(run, document, article, title_element,
    next_page_url, content_text)``. ``content_text`` is the article's
    inner text, computed once: when pass 1 is kept, the fallback check's
    text is reused."""
    document = build_document(html_content)

    # Guaranteed-fallback short-circuit: the fallback triggers when the
    # pass-1 article text is shorter than 250 chars. The article's text
    # is drawn from the document's Text nodes (Value semantics exclude
    # comments), every pipeline mutation only removes or preserves text
    # (double-<br> collapse, <font> rename, break killing, strip/clean
    # removals), and get_inner_text only trims and collapses — so the
    # pristine document's total Text length is an upper bound on any
    # pass-1 article length. Below the threshold, pass 1 provably cannot
    # avoid the fallback; run ONLY the fallback pass, on the
    # already-parsed tree. Pass 2 never reads pass-1 state (it
    # re-derives everything from a fresh parse of the same string, and
    # build_document is pure), so skipping pass 1 is observationally
    # identical.
    fallback_certain = (
        not opts.dont_strip_unlikelys
        and _document_text_upper_bound(document) < MIN_ARTICLE_LENGTH_FOR_NO_FALLBACK
    )
    run = _Run(opts, dont_strip_unlikelys=opts.dont_strip_unlikelys or fallback_certain)
    document, article, title_element, next_page_url = run.transcode_to_xml(
        html_content, url, document=document
    )
    content_text = run.get_inner_text(article)

    # fallback: rerun once with unlikely-stripping disabled when the
    # extracted text is too short
    if not run.dont_strip_unlikelys and len(content_text) < MIN_ARTICLE_LENGTH_FOR_NO_FALLBACK:
        run = _Run(opts, dont_strip_unlikelys=True)
        document, article, title_element, next_page_url = run.transcode_to_xml(html_content, url)
        content_text = run.get_inner_text(article)
    return run, document, article, title_element, next_page_url, content_text


def _document_text_upper_bound(document):
    """Total length of every Text node in the freshly parsed document,
    counted by the parser as it built them — an upper bound on the text
    length of any article pass 1 could produce (see the
    guaranteed-fallback short-circuit in ``transcode``). Comments are
    excluded to mirror Value semantics; a comment body can never become
    element text (parsed comment values cannot contain ``-->``, and no
    regex stage introduces one)."""
    return document.parsed_text_length


def _article_spans(article, index=None):
    """[start, end) offsets of each top-level child's text within the raw
    concatenated article text (skipping empty contributions); an element
    child's text is read off ``index``, a ``_TreeIndex`` over ``article``,
    when one is given."""
    spans = []
    cursor = 0
    for child in article.children:
        kind = type(child)
        if kind is Text:
            segment = len(child.value)
        elif kind is Element:
            segment = len(child.value if index is None else index.value(child))
        else:
            segment = 0
        if segment:
            spans.append((cursor, cursor + segment))
        cursor += segment
    return spans


class _Run:
    """One transcode pass: holds the element score table
    (the reference's ``_elementsScores``, NRT:153)."""

    def __init__(self, options, dont_strip_unlikelys):
        self.opts = options
        self.dont_strip_unlikelys = dont_strip_unlikelys
        self.scores = {}  # Element (identity) -> float; insertion-ordered
        # the _TreeIndex of the stretch that is running (None in the
        # stretches that change the document), and the body element the
        # last search found while nothing since could have moved it
        self.index = None
        self._body = None

    # -- lifecycle (NRT:284-333) --------------------------------------------

    def transcode_to_xml(self, html_content, url, document=None):
        """One pass up to, not including, the glue (NRT:707-770): the
        caller that serializes the page glues ``article_title_element``
        and the article into it."""
        if document is None:
            document = build_document(html_content)

        self.prepare_document(document)

        if url:
            resolve_elements_urls(document, "img", "src", url, self.opts.image_source_transformer)
            resolve_elements_urls(document, "a", "href", url, self.opts.anchor_href_transformer)

        next_page_url = None
        if url is not None:
            next_page_url = self.find_next_page_link(self._body_of(document), url)

        title_element = self.extract_article_title(document)
        article_content_element = self.extract_article_content(document)

        return document, article_content_element, title_element, next_page_url

    # -- document preparation (NRT:590-638) -----------------------------------

    def prepare_document(self, document):
        """NRT:590-638 on ``document`` as ``build_document`` returned it:
        what the parser counted (``Document.parsed_names`` and
        ``parsed_comments``) stands in for walks of the tree."""
        self.index = None
        document_body = self._body = get_or_create_body(document)
        parsed_names = document.parsed_names

        # removal order is preserved (scripts NRT:604-615, stylesheets
        # NRT:617-623, style tags NRT:625-628). Removals can't nest inside
        # each other in any order-observable way: all three target sets
        # are disjoint by element name.
        to_remove = []
        if not parsed_names.isdisjoint(("script", "link", "style")):
            by_name = document.root.elements_by_tag_name()
            to_remove = [
                script
                for script in by_name.get("script", ())
                if "readability" not in (script.get_attribute_value("src", None) or "")
            ]
            to_remove += [
                el
                for el in by_name.get("link", ())
                if el.get_attribute_value("rel", "").strip().lower() == "stylesheet"
                and "readability" not in el.get_attribute_value("href", "")
            ]
            to_remove += by_name.get("style", ())
            _remove_elements(to_remove)

        # double <br> -> <p>, <font> -> <span> on the serialized body, then
        # reparse (NRT:630-637)
        prefixes = ("br", "font")
        facts = None
        if not to_remove and not document.parsed_comments:
            facts = _parsed_stage_facts(parsed_names, prefixes)
        _serialized_regex_pass(
            document_body,
            [
                (regexes.REPLACE_DOUBLE_BRS_RE, "<p></p>"),
                (regexes.REPLACE_FONTS_RE, r"<\g<1>span>"),
            ],
            prefixes,
            facts,
        )

    # -- title (NRT:640-691) ----------------------------------------------------

    def extract_article_title(self, document):
        document_body = self._body_of(document)
        document_title = document.get_title() or ""
        current_title = document_title

        if regexes.ARTICLE_TITLE_DASH_RE_1.search(current_title):
            current_title = regexes.ARTICLE_TITLE_DASH_RE_2.sub(r"\1", document_title)
            if len(current_title.split(" ")) < MIN_ARTICLE_TITLE_WORDS_COUNT_1:
                current_title = regexes.ARTICLE_TITLE_DASH_RE_3.sub(r"\1", document_title)
        elif ": " in current_title:
            current_title = regexes.ARTICLE_TITLE_COLON_RE_1.sub(r"\1", document_title)
            if len(current_title.split(" ")) < MIN_ARTICLE_TITLE_WORDS_COUNT_1:
                current_title = regexes.ARTICLE_TITLE_COLON_RE_2.sub(r"\1", document_title)
        elif (
            len(current_title) > MAX_ARTICLE_TITLE_LENGTH
            or len(current_title) < MIN_ARTICLE_TITLE_LENGTH
        ):
            level_one_headers = document_body.get_elements_by_tag_name("h1")
            if len(level_one_headers) == 1:
                current_title = self.get_inner_text(level_one_headers[0])

        current_title = (current_title or "").strip()

        if len(current_title.split(" ")) <= MIN_ARTICLE_TITLE_WORDS_COUNT_2:
            current_title = document_title

        if not current_title:
            return None

        article_title_element = Element("h1")
        article_title_element.set_inner_html(current_title)

        return article_title_element

    # -- content (NRT:693-705) -----------------------------------------------------

    def extract_article_content(self, document):
        self.strip_unlikely_candidates(document)
        candidates = self.find_candidates_for_article_content(document)
        top_candidate = self.determine_top_candidate_element(document, candidates)
        article_content = self.create_article_content_element(document, top_candidate)
        self.prepare_article_content_element(article_content)
        return article_content

    # -- unlikely-candidate stripping (NRT:772-840) ---------------------------------

    def strip_unlikely_candidates(self, document):
        self.index = None
        if self.dont_strip_unlikelys:
            return
        root = document.root
        if root is None:
            return
        unlikely = regexes.UNLIKELY_CANDIDATES_RE.search
        maybe_a_candidate = regexes.OK_MAYBE_ITS_A_CANDIDATE_RE.search
        # pre-order; an element's children are pushed after its visit, so
        # the paragraphs a div's stray text becomes are walked too
        stack = [root]
        while stack:
            element = stack.pop()
            if type(element) is not Element:
                continue
            element_name = (element.name or "").lower()

            attrs = element.attrs
            unlikely_match_string = attrs.get("class", "") + attrs.get("id", "")
            if (
                unlikely_match_string
                and element_name != "body"
                and element_name != "a"
                and unlikely(unlikely_match_string)
                and not maybe_a_candidate(unlikely_match_string)
            ):
                element.remove()
                self._body = None  # the body may have gone with it
                continue  # nothing reads the detached subtree

            if element_name == "div":
                if not _div_inner_html_has_block_element(element):
                    # no block elements inside: rename to p (NRT:812)
                    element.name = "p"
                else:
                    # wrap stray text nodes in styled paragraphs (NRT:817-836)
                    for child in element.children:
                        if type(child) is Text and child.value.strip():
                            para = Element("p")
                            para.set_inner_html(child.value)  # raw value, ws preserved
                            para.set_class(READABILITY_STYLED_CSS_CLASS)
                            para.set_style("display: inline;")
                            child.replace_with(para)
                            # the text may have parsed into a body element
                            self._body = None
            stack.extend(element.children[::-1])

    # -- candidate scoring (NRT:842-884) ----------------------------------------------

    def find_candidates_for_article_content(self, document):
        # nothing changes the document from here to the article build,
        # so one index serves the three stages' inner texts and link
        # densities
        self.index = _TreeIndex(document, self._inner_text)
        para_elements = self.index.get("p")
        candidate_elements = {}  # insertion-ordered set

        self.scores.clear()

        for para in para_elements:
            inner_text = self.get_inner_text(para)
            if len(inner_text) < MIN_PARAGRAPH_LENGTH:
                continue

            parent = para.parent if isinstance(para.parent, Element) else None
            grandparent = (
                parent.parent if parent is not None and isinstance(parent.parent, Element) else None
            )

            score = 1  # one point for having a paragraph
            score += get_segments_count(inner_text, ",")
            score += min(len(inner_text) // PARAGRAPH_SEGMENT_LENGTH, MAX_POINTS_FOR_SEGMENTS_COUNT)

            if parent is not None and parent.name != "html":
                candidate_elements[parent] = None
                self._add_points(parent, score)

            if grandparent is not None and grandparent.name != "html":
                candidate_elements[grandparent] = None
                self._add_points(grandparent, score // 2)  # integer half (NRT:879)

        return list(candidate_elements)

    # -- top candidate (NRT:886-918) -----------------------------------------------------

    def determine_top_candidate_element(self, document, candidates):
        top_candidate = None

        for candidate in candidates:
            score = self._get_score(candidate)
            # rescale by link density in place (NRT:892-898)
            new_score = (1.0 - self.get_links_density(candidate)) * score
            self.scores[candidate] = new_score
            if top_candidate is None or new_score > self._get_score(top_candidate):
                top_candidate = candidate

        if top_candidate is None or (top_candidate.name or "").lower() == "body":
            # fallback: synthesize a div holding clones of all body nodes
            # (NRT:907-915; XContainer.Add clones parented nodes)
            top_candidate = Element("div")
            document_body = self._body_of(document)
            top_candidate.add(*document_body.nodes())

        return top_candidate

    # -- sibling merge (NRT:920-1023) --------------------------------------------------------

    def create_article_content_element(self, document, top_candidate):
        article = Element("div")
        article.set_id(CONTENT_DIV_ID)

        parent = top_candidate.parent if isinstance(top_candidate.parent, Element) else None

        if parent is None:
            # detached synthetic element: attach directly (NRT:931-938)
            article.add(top_candidate)
            return article

        sibling_elements = parent.elements()

        top_score = self._get_score(top_candidate)
        sibling_score_threshold = max(
            MAX_SIBLING_SCORE_THRESHOLD,
            SIBLING_SCORE_THRESHOLD_COEFFICIENT * top_score,
        )
        top_class = top_candidate.get_class()

        for sibling in sibling_elements:
            append = False
            sibling_name = (sibling.name or "").lower()
            content_bonus = 0.0

            if top_class and sibling.get_class() == top_class:
                content_bonus += top_score * SIBLING_SCORE_THRESHOLD_COEFFICIENT

            if sibling is top_candidate:
                append = True
            elif self._get_score(sibling) + content_bonus >= sibling_score_threshold:
                append = True
            elif sibling_name == "p":
                sibling_text = self.get_inner_text(sibling)
                sibling_len = len(sibling_text)
                if sibling_len > 0:
                    if sibling_len >= MIN_SIBLING_PARAGRAPH_LENGTH:
                        append = self.get_links_density(sibling) < MAX_SIBLING_PARAGRAPH_LINKS_DENSITY
                    else:
                        append = (
                            self.get_links_density(sibling) == 0.0
                            and regexes.END_OF_SENTENCE_RE.search(sibling_text) is not None
                        )

            if append:
                if sibling_name in ("div", "p"):
                    element_to_append = sibling  # cloned on add (parented)
                else:
                    # rewrap non-block siblings in a div (NRT:1007-1016)
                    element_to_append = Element("div")
                    element_to_append.set_id(sibling.get_id())
                    element_to_append.set_class(sibling.get_class())
                    element_to_append.add(*sibling.nodes())
                article.add(element_to_append)

        return article

    # -- post-clean (NRT:1025-1077) ---------------------------------------------------------------

    def prepare_article_content_element(self, article):
        # every stage below reads the article through one index: the
        # styles go without changing the tree's shape, the break stage
        # reads its facts off the index's walk, and the rest only remove
        # (the index walks again after a removal or a reparse)
        index = self.index = _TreeIndex(article, self._inner_text, ("br",))
        self.clean_styles(index)
        self.kill_breaks(index)

        self.clean(index, "form")
        self.clean(index, "object")
        self.clean(index, "h1")

        # a single h2 is probably a header, not a subheader (NRT:1035-1040)
        if len(index.get("h2")) == 1:
            self.clean(index, "h2")

        self.clean(index, "iframe")
        self.clean_headers(index)

        # order is semantics here (NRT:1045 comment)
        self.clean_conditionally(index, "table")
        self.clean_conditionally(index, "ul")
        self.clean_conditionally(index, "div")

        # remove empty paragraphs (NRT:1050-1073)
        index.remove([
            para
            for para in index.get("p")
            if not index.value(para).strip()
            and not _has_descendant_named(para, ("img", "embed", "object"))
        ])

        # remove br's directly before paragraphs (NRT:1076)
        if _serialized_regex_pass(
            article, [(regexes.BREAK_BEFORE_PARAGRAPH_RE, "<p")], ("br",), index.stage_facts()
        ):
            index.invalidate()

    # -- metrics ---------------------------------------------------------------------------------

    def get_links_density(self, element):
        """NRT:1079-1095."""
        return self._links_density(self.get_inner_text(element), element)

    def _links_density(self, inner_text, element):
        """Links density of ``element`` given its inner text: the summed
        inner-text length of its ``a`` descendants over its own. When
        ``element`` is in the run's index, the sum is the index's
        (``_TreeIndex.anchor_text_length``, one bisection); otherwise the
        anchors are found and read here."""
        length = len(inner_text)
        if length == 0:
            return 0.0
        index = self.index
        if index is not None and index.has(element):
            return index.anchor_text_length(element) / length
        anchors = element.get_elements_by_tag_name("a")
        return sum(len(self.get_inner_text(anchor)) for anchor in anchors) / length

    def get_class_weight(self, element):
        """NRT:1105-1147: +-25 per positive/negative class and id match."""
        if self.opts.dont_weight_classes:
            return 0
        weight = 0
        element_class = element.get_class()
        if element_class:
            if regexes.NEGATIVE_WEIGHT_RE.search(element_class):
                weight -= 25
            if regexes.POSITIVE_WEIGHT_RE.search(element_class):
                weight += 25
        element_id = element.get_id()
        if element_id:
            if regexes.NEGATIVE_WEIGHT_RE.search(element_id):
                weight -= 25
            if regexes.POSITIVE_WEIGHT_RE.search(element_id):
                weight += 25
        return weight

    def get_inner_text(self, node):
        r"""NRT:1149-1184: element/text value, trimmed; runs of whitespace
        collapsed unless normalization is off.

        The collapse is ``NORMALIZE_SPACES_RE.sub(" ", text)`` with the
        regex scan skipped when it cannot match (``normalize_spaces``).
        ``\s{2,}`` needs two adjacent code points with ``isspace()``
        (``\s`` of a str pattern is exactly that set), so a text in which
        no two spaces are adjacent and no other whitespace character
        occurs holds no match and comes back unchanged. Collapsing also
        cannot empty a trimmed non-empty text, so a test for emptiness
        needs only the trim.

        The value is read off the run's index when ``node`` is in it
        (``self.index``: the document's from the candidate search to the
        article build, the article's from post-clean on) and walked for
        otherwise, e.g. in the title stage or on a clone."""
        if self.index is not None:
            text = self.index.inner(node)
            if text is not None:
                return text
        if not isinstance(node, (Element, Document, Text)):
            raise TypeError(f"nodes of type {type(node).__name__} are not supported")
        return self._inner_text(node.value)

    def _inner_text(self, value):
        """``get_inner_text`` of a node whose value is ``value``."""
        result = (value or "").strip()
        if self.opts.dont_normalize_spaces:
            return result
        return normalize_spaces(result)

    # -- cleaning ----------------------------------------------------------------------------------

    def kill_breaks(self, index):
        """NRT:1189-1192, on ``index.root``; ``index`` holds the stage's
        facts (its trigger is ``br``)."""
        if _serialized_regex_pass(
            index.root, [(regexes.KILL_BREAKS_RE, "<br />")], ("br",), index.stage_facts()
        ):
            index.invalidate()

    def clean(self, index, element_name):
        """Remove descendants by tag, sparing youtube/vimeo embeds
        (NRT:1198-1219)."""
        is_embed = element_name in ("object", "embed")
        index.remove([
            element
            for element in index.get(element_name)
            if not (
                is_embed
                and (
                    regexes.VIDEO_RE.search(element.get_attributes_string("|"))
                    or regexes.VIDEO_RE.search(element.inner_html())
                )
            )
        ])

    def clean_conditionally(self, index, element_name):
        """Remove 'fishy-looking' instances of a tag (NRT:1225-1283)."""
        to_remove = []

        for element in index.get(element_name):
            weight = self.get_class_weight(element)
            score = self._get_score(element)

            if weight + score < 0.0:
                to_remove.append(element)
                continue

            inner_text = self.get_inner_text(element)

            if get_segments_count(inner_text, ",") < MIN_COMMA_SEGMENTS:
                ps_count, imgs_count, lis_count, inputs_count, embeds_count = _census(
                    index, element
                )
                links_density = self._links_density(inner_text, element)
                inner_text_length = len(inner_text)

                remove = (
                    (imgs_count > ps_count)
                    or (
                        lis_count - LIS_COUNT_THRESHOLD > ps_count
                        and element_name != "ul"
                        and element_name != "ol"
                    )
                    or (inputs_count > ps_count // 3)
                    or (
                        inner_text_length < MIN_INNER_TEXT_LENGTH
                        and (imgs_count == 0 or imgs_count > MAX_IMAGES_IN_SHORT_SEGMENTS_COUNT)
                    )
                    or (
                        weight < CLASS_WEIGHT_THRESHOLD
                        and links_density > MAX_DENSITY_FOR_ELEMENTS_WITH_SMALLER_CLASS_WEIGHT
                    )
                    or (
                        weight >= CLASS_WEIGHT_THRESHOLD
                        and links_density > MAX_DENSITY_FOR_ELEMENTS_WITH_GREATER_CLASS_WEIGHT
                    )
                    or (
                        embeds_count > MAX_EMBEDS_COUNT
                        or (
                            embeds_count == MAX_EMBEDS_COUNT
                            and inner_text_length < MIN_INNER_TEXT_LENGTH_IN_ELEMENTS_WITH_EMBED
                        )
                    )
                )

                if remove:
                    to_remove.append(element)

        index.remove(to_remove)

    def clean_headers(self, index):
        """NRT:1288-1307."""
        index.remove([
            header
            for header_level in range(1, 7)
            for header in index.get(f"h{header_level}")
            if self.get_class_weight(header) < 0
            or self.get_links_density(header) > MAX_HEADER_LINKS_DENSITY
        ])

    def clean_styles(self, index):
        """NRT:1312-1327: strip style attrs except on readability-styled,
        from ``index.root`` and every element below it. Removing an
        attribute never changes the tree's shape, so the index stays
        exact."""
        for element in index.elements():
            if READABILITY_STYLED_CSS_CLASS not in element.get_class():
                element.attrs.pop("style", None)

    # -- glue (NRT:707-770) ----------------------------------------------------------------------------

    def glue_document(self, document, article_title_element, article_content_element):
        self.index = None
        document_body = self._body_of(document)

        head_element = document.first_element_by_tag_name("head")
        if head_element is None:
            head_element = Element("head")
            document_body.add_before_self(head_element)

        style_element = Element("style")
        style_element.set_attribute_value("type", "text/css")
        # set_inner_html clears attributes (XElement.RemoveAll parity), so
        # the glued <style> carries none — faithful to NRT:722+733
        style_element.set_inner_html(READABILITY_CSS)
        head_element.add(style_element)

        reading_style_class = get_user_style_class("style", self.opts.reading_style)
        document_body.set_class(reading_style_class)
        document_body.set_style("display: block;")

        inner_div = Element("div")
        inner_div.set_id(INNER_DIV_ID)
        inner_div.set_class(
            get_user_style_class("margin", self.opts.reading_margin)
            + " "
            + get_user_style_class("size", self.opts.reading_size)
        )

        if article_title_element is not None:
            inner_div.add(article_title_element)
        if article_content_element is not None:
            inner_div.add(article_content_element)

        overlay_div = Element("div")
        overlay_div.set_id(OVERLAY_DIV_ID)
        overlay_div.set_class(reading_style_class)
        overlay_div.add(inner_div)

        # XElement.RemoveAll also wipes the class/style set above (NRT:768)
        document_body.remove_all()
        document_body.add(overlay_div)

    # -- next-page link detection (NRT:340-502) --------------------------------------------------------------

    def find_next_page_link(self, body, url):
        if body is None:
            return None
        possible_pages = {}
        article_base_url = urls.find_base_url(url)

        for link in body.get_elements_by_tag_name("a"):
            link_href = link.get_attribute_value("href", None)
            if not link_href:
                continue
            if regexes.MAILTO_HREF_RE.search(link_href):
                continue

            link_href = regexes.HASH_FRAGMENT_RE.sub("", link_href)
            link_href = regexes.TRAILING_SLASH_RE.sub("", link_href)

            if link_href == "" or link_href == article_base_url or link_href == url:
                continue

            # different domain: skip (NRT:371-373)
            link_parts = urls.try_parse_absolute(link_href)
            if link_parts is not None:
                base_parts = urls.try_parse_absolute(article_base_url)
                base_host = base_parts.hostname if base_parts else None
                if link_parts.hostname != base_host:
                    continue

            link_text = self.get_inner_text(link)

            if regexes.EXTRANEOUS_RE.search(link_text) or len(link_text) > 25:
                continue

            link_href_leftover = link_href.replace(article_base_url, "")
            if not regexes.ANY_DIGIT_RE.search(link_href_leftover):
                continue

            if link_href not in possible_pages:
                entry = {"score": 0.0, "href": link_href, "text": link_text}
                possible_pages[link_href] = entry
            else:
                entry = possible_pages[link_href]
                entry["text"] += " | " + link_text

            if article_base_url not in link_href:
                entry["score"] -= 25

            link_data = f"{link_text} {link.get_class()} {link.get_id()}"

            if regexes.NEXT_LINK_RE.search(link_data):
                entry["score"] += 50
            if regexes.PAGEY_RE.search(link_data):
                entry["score"] += 25
            if regexes.FIRST_OR_LAST_RE.search(link_data):
                if not regexes.NEXT_LINK_RE.search(entry["text"]):
                    entry["score"] -= 65
            if regexes.NEGATIVE_WEIGHT_RE.search(link_data) or regexes.EXTRANEOUS_RE.search(link_data):
                entry["score"] -= 50
            if regexes.PREV_LINK_RE.search(link_data):
                entry["score"] -= 200

            # ancestor class/id walk (NRT:425-447)
            parent_node = link.parent
            positive_match = False
            negative_match = False
            while isinstance(parent_node, Element):
                class_and_id = f"{parent_node.get_class()} {parent_node.get_id()}"
                if not positive_match and regexes.PAGEY_RE.search(class_and_id):
                    positive_match = True
                    entry["score"] += 25
                if not negative_match and regexes.NEGATIVE_WEIGHT_RE.search(class_and_id):
                    if not regexes.POSITIVE_WEIGHT_RE.search(class_and_id):
                        entry["score"] -= 25
                        negative_match = True
                parent_node = parent_node.parent

            if regexes.HREF_PAGINATION_RE.search(link_href) or regexes.HREF_PAGE_WORD_RE.search(link_href):
                entry["score"] += 25
            if regexes.EXTRANEOUS_RE.search(link_href):
                entry["score"] -= 15

            link_number = _try_parse_int(link_text)
            if link_number is not None:
                if link_number == 1:
                    entry["score"] -= 10
                else:
                    entry["score"] += max(0, 10 - link_number)

        top_page = None
        for entry in possible_pages.values():
            if entry["score"] >= 50 and (top_page is None or top_page["score"] < entry["score"]):
                top_page = entry

        if top_page is not None:
            next_href = regexes.TRAILING_SLASH_RE.sub("", top_page["href"])
            return urls.combine(article_base_url, next_href)

        return None

    # -- body and score table ---------------------------------------------------------------------------------

    def _body_of(self, document):
        """``get_or_create_body(document)``, searched for only when no
        search since the last change that could move the body found it."""
        if self._body is None:
            self._body = get_or_create_body(document)
        return self._body

    def _add_points(self, element, points):
        self.scores[element] = self.scores.get(element, 0.0) + points

    def _get_score(self, element):
        return self.scores.get(element, 0.0)


# --- module-level pure helpers ------------------------------------------------------


def _serialized_regex_pass(element, regex_repl_pairs, trigger_prefixes, facts=None):
    """Run serialize -> regex-substitute -> SetInnerHtml
    (DomExtensions.cs:238-263), eliding each step that provably changes
    nothing. The reference always reparses, and its reparse can
    restructure the subtree (rawtext re-escaping, implied end tags) even
    when the regexes match nothing. ``_stage_walk`` decides in one walk
    whether the regexes may match and whether the subtree is a parser
    fixed point: the substitution runs only when they may match, the
    reparse only when the subtree is no fixed point or the substitution
    changed the text. On the elided path only RemoveAll's attribute
    clearing remains observable (e.g. the article div loses its id in
    KillBreaks).

    ``facts`` are passed on to ``_stage_walk``. Returns True when the
    subtree was reparsed.
    """
    stable, may_match = _stage_walk(element, trigger_prefixes, facts)
    if stable and not may_match:
        element.attrs.clear()
        return False
    inner = element.inner_html()
    new_inner = inner
    if may_match:
        for rx, repl in regex_repl_pairs:
            new_inner = rx.sub(repl, new_inner)
    if stable and new_inner == inner:
        element.attrs.clear()
        return False
    element.set_inner_html(new_inner)
    return True


def _stage_walk(element, trigger_prefixes, facts=None):
    """``(stable, may_match)`` for a serialized regex stage over
    ``element``, decided in one walk of its subtree.

    ``may_match`` is False when the stage's regexes provably match
    nothing in the serialized subtree (``_may_trigger`` on every node).

    ``stable`` is True iff reparsing ``element``'s serialized inner HTML
    provably reproduces the subtree unchanged, i.e. ``parse(serialize(T))
    == T`` for the child forest T. Conditions checked (each names the
    parser behaviour that would otherwise restructure the tree):

    - no ``script``/``style`` descendants — rawtext parses as CDATA
      while serialization escapes it;
    - no ``html`` descendants — a fragment that opens with ``<html>``
      gets it as the temp document's root, whose children alone
      ``set_inner_html`` copies, and ``build_document`` cuts its input
      after the last ``</html>`` (``<body><html>text`` builds such a
      tree);
    - no parent->child element edge *inside* the forest is an implied
      end tag (``CLOSED_BY``): pipeline mutations such as the div->p
      rename (NRT:812) can build trees like ``<p><li>`` that a reparse
      restructures by auto-closing the ``p``. Top-level children are
      exempt: the fragment reparse opens them under a fresh ``html``
      root, which is never popped. The parser's BODY-at-depth-2 rule is
      not applied, which is conservative: such an edge takes the real
      reparse;
    - no whitespace-only Text nodes (dropped by the parser) and no
      adjacent Text siblings (merged by the parser);
    - no Comment before the first Element/Text among the TOP-LEVEL
      children (including the comments-only case): the fragment reparse
      attaches pre-root comments to the temp Document, and
      ``set_inner_html`` copies only ``tmp.root.children`` — a real
      reparse drops them, so the elided path must not keep them.

    ``facts``, when given, are these as already known for the subtree
    (a ``_TreeIndex``'s, or ``_parsed_stage_facts``); otherwise a
    ``_TreeIndex`` that indexes no text walks the subtree for them.
    """
    if facts is not None:
        return facts
    return _TreeIndex(element, None, trigger_prefixes).stage_facts()


def _names_stage_facts(names, trigger_prefixes, stable):
    """The stage facts once the rules on element names are applied to
    ``names``, the names below the stage's element (or a superset: a name
    it adds can only keep the stage's real work), given ``stable`` from
    the rules on nodes; a comment that may trigger is the caller's."""
    may_match = False
    for name in names:
        if name.startswith(trigger_prefixes):
            may_match = True
            break
    stable = stable and not ("script" in names or "style" in names or "html" in names)
    return stable, may_match


def _parsed_stage_facts(parsed_names, trigger_prefixes):
    """``_stage_walk``'s facts for a stage over an element below the root
    of a document as ``build_document`` returned it, when the parser
    built no comment: ``parsed_names`` are the names of the elements it
    built below the root. No node needs a look: the parser drops
    whitespace-only text and merges adjacent text, and it attaches each
    element to the open element that ``_validate_content`` left on top,
    which the new one does not close, unless that is a BODY at depth 2;
    no such BODY is below any element other than the root, and the
    stage's own element is exempt."""
    return _names_stage_facts(parsed_names, trigger_prefixes, True)


def _leading_comment(element):
    """True when a Comment precedes the first Element or Text child."""
    for node in element.children:
        kind = type(node)
        if kind is Comment:
            return True
        if kind is Element or kind is Text:
            return False
    return False


def _may_trigger(node, trigger_prefixes):
    """True when a match of the stage's regexes may start in ``node``'s
    own serialized form.

    Every match of these stages starts with ``<`` or ``</`` and a
    trigger prefix (``<br``, ``<font``, ``</font``; two of the regexes
    ignore case, and for these letters only ASCII case folds). Text and
    attribute values serialize with ``<`` escaped, so a match can start
    only (a) at an element whose name starts with a trigger prefix or
    (b) inside a raw comment. Prefix matching (not exact names) keeps the
    scan a conservative superset: an unknown ``<brx>`` element also
    matches ``<br[^>]*>``. A comment is tested for the prefixes, not
    against the regexes, because the match may end past it:
    ``<!--<br--><p>`` holds ``<br--><p``, a ``BREAK_BEFORE_PARAGRAPH_RE``
    match."""
    if type(node) is Element:
        return node.name.startswith(trigger_prefixes)
    if type(node) is Comment:
        raw = node.to_html().lower()
        return any("<" + p in raw or "</" + p in raw for p in trigger_prefixes)
    return False


def _div_inner_html_has_block_element(element):
    """Exactly equivalent to ``DIV_TO_P_ELEMENTS_RE.search(
    element.inner_html())`` (NRT:806) without serializing the subtree:
    text and attribute values serialize with ``<`` escaped, so only
    descendant element names (serialized as ``<name``) and raw comment
    bodies can produce a ``<tag`` match. The regex itself is applied to
    both so prefix semantics (e.g. ``<abbr`` matching ``<a``) are
    preserved bit-for-bit."""
    block_tag = regexes.DIV_TO_P_ELEMENTS_RE
    stack = element.children[::-1]
    while stack:
        node = stack.pop()
        kind = type(node)
        if kind is Element:
            if block_tag.match("<" + node.name):
                return True
            if node.children:
                stack.extend(node.children[::-1])
        elif kind is Comment and block_tag.search(node.to_html()):
            return True
    return False


def normalize_spaces(text):
    """``NORMALIZE_SPACES_RE.sub(" ", text)``, returning ``text`` itself
    without the scan when it holds neither two adjacent spaces nor any
    other whitespace character (see ``_Run.get_inner_text``). ASCII text
    is checked against the 9 other ASCII whitespace characters only;
    ``isascii()`` reads a flag of the string."""
    if "  " in text:
        return regexes.NORMALIZE_SPACES_RE.sub(" ", text)
    for ch in ASCII_SPACES_BUT_SPACE if text.isascii() else _OTHER_SPACES:
        if ch in text:
            return regexes.NORMALIZE_SPACES_RE.sub(" ", text)
    return text


def get_segments_count(s, ch):
    """Segments, not separators: count + 1 (NRT:1097-1100)."""
    return s.count(ch) + 1


def get_user_style_class(prefix, enum_str):
    """Enum name -> css class, e.g. ('style', 'Newspaper') ->
    'style-newspaper' (NRT:1329-1358)."""
    out = []
    seen_upper = False
    for ch in enum_str:
        if ch.isupper():
            if seen_upper:
                out.append("-")
            seen_upper = True
            out.append(ch.lower())
        else:
            out.append(ch)
    return f"{prefix}-{''.join(out)}".rstrip("-")


def get_or_create_body(document):
    """NRT:1364-1383."""
    body = document.get_body()
    if body is None:
        html_elements = document.get_children_by_tag_name("html")
        if html_elements:
            html_element = html_elements[0]
        else:
            html_element = Element("html")
            document.add(html_element)
        body = Element("body")
        html_element.add(body)
    return body


def _remove_elements(elements):
    for element in elements:
        element.remove()


class _TreeIndex:
    """What a stretch of a pass that changes the subtree below ``root``
    only through ``remove`` reads from it, taken in one document-order
    walk:

    - ``get(name)`` is ``root.get_elements_by_tag_name(name)``;
    - ``value(element)`` is ``element.value`` for ``root`` and the
      elements below it, and ``inner(element)`` is ``inner_text`` of it:
      an element's text is the contiguous slice ``[start, end)`` of the
      concatenation of the subtree's Text nodes in document order, which
      the walk records on entering and on leaving the element;
    - ``count_below(element, name)`` and ``below(element, name)`` count
      and list the ``name`` elements below ``element``, and
      ``anchor_text_length(element)`` sums ``len(inner(a))`` over its
      ``a`` descendants: the descendants of an element are the elements
      whose pre-order number lies strictly between its own and the
      number the walk reached on leaving it, so each is a bisection of
      the name's bucket;
    - ``stage_facts()`` is ``_stage_walk(root, trigger_prefixes)`` when
      ``trigger_prefixes`` is given.

    ``inner_text`` maps a raw value to the run's inner text; when it is
    None, the walk skips the text and serves only ``get`` and
    ``stage_facts``. ``remove`` and ``invalidate`` (after a reparse) drop
    the walk's results; the next read walks again."""

    __slots__ = (
        "root", "inner_text", "trigger_prefixes", "_fresh", "_by_name", "_entries",
        "_text", "_stage_facts", "_positions", "_anchor_sums", "_inners",
    )

    def __init__(self, root, inner_text, trigger_prefixes=None):
        self.root = root
        self.inner_text = inner_text
        self.trigger_prefixes = trigger_prefixes
        self._fresh = False

    def get(self, name):
        if not self._fresh:
            self._walk()
        return self._by_name.get(name, ())

    def elements(self):
        """``root`` and every element below it, in document order."""
        if not self._fresh:
            self._walk()
        return self._entries.keys()

    def value(self, element):
        """``element.value``, or None when ``element`` is not indexed."""
        if not self._fresh:
            self._walk()
        entry = self._entries.get(element)
        if entry is None:
            return None
        return self._text[entry[0]:entry[1]]

    def inner(self, element):
        """``inner_text(value(element))``, or None when ``element`` is
        not indexed; elements with the same slice share one result."""
        if not self._fresh:
            self._walk()
        entry = self._entries.get(element)
        if entry is None:
            return None
        key = (entry[0], entry[1])
        text = self._inners.get(key)
        if text is None:
            text = self._inners[key] = self.inner_text(self._text[entry[0]:entry[1]])
        return text

    def has(self, element):
        if not self._fresh:
            self._walk()
        return element in self._entries

    def below(self, element, name):
        bucket = self.get(name)
        if not bucket:
            return ()
        lo, hi = self._bucket_range(element, name, bucket)
        return bucket[lo:hi]

    def count_below(self, element, name):
        bucket = self.get(name)
        if not bucket:
            return 0
        lo, hi = self._bucket_range(element, name, bucket)
        return hi - lo

    def anchor_text_length(self, element):
        anchors = self.get("a")
        if not anchors:
            return 0
        lo, hi = self._bucket_range(element, "a", anchors)
        sums = self._anchor_sums
        if sums is None:
            sums = self._anchor_sums = [0]
            total = 0
            for anchor in anchors:
                total += len(self.inner(anchor))
                sums.append(total)
        return sums[hi] - sums[lo]

    def stage_facts(self):
        if not self._fresh:
            self._walk()
        return self._stage_facts

    def remove(self, elements):
        if elements:
            _remove_elements(elements)
            self._fresh = False

    def invalidate(self):
        self._fresh = False

    def _bucket_range(self, element, name, bucket):
        """[lo, hi) of the entries of ``bucket``, the ``name`` elements,
        that are below ``element``."""
        positions = self._positions.get(name)
        if positions is None:
            entries = self._entries
            positions = self._positions[name] = [entries[e][2] for e in bucket]
        _start, _end, first, last = self._entries[element]
        return bisect_right(positions, first), bisect_left(positions, last)

    def _walk(self):
        root = self.root
        with_text = self.inner_text is not None
        by_name = {}
        root_entry = [0, 0, -1, 0]  # [start, end, pre-order number, end's]
        entries = {root: root_entry}
        parts = []
        offset = 0
        count = 0  # pre-order number of the next element
        # the stage facts' rules on nodes (the rules and their reasons are
        # _stage_walk's); those on element names are applied to the
        # buckets afterwards
        in_stage = self.trigger_prefixes is not None
        stable = not (in_stage and _leading_comment(root))
        comment_may_match = False
        prev_text_parent = None  # parent of the node visited last, if a Text
        stack = root.children[::-1]
        pop = stack.pop
        push = stack.append
        while stack:
            node = pop()
            kind = type(node)
            if kind is Text:
                value = node.value
                if with_text:
                    parts.append(value)
                    offset += len(value)
                if in_stage and stable:
                    stable = node.parent is not prev_text_parent and value.strip(XML_WHITESPACE)
                prev_text_parent = node.parent
                continue
            prev_text_parent = None
            if kind is Element:
                name = node.name
                bucket = by_name.get(name)
                if bucket is None:
                    by_name[name] = [node]
                else:
                    bucket.append(node)
                children = node.children
                if in_stage and stable and children:
                    closed_by = CLOSED_BY.get(name)
                    if closed_by is not None:
                        for child in children:
                            if type(child) is Element and child.name in closed_by:
                                stable = False
                                break
                if with_text:
                    entry = [offset, offset, count, count + 1]
                    count += 1
                    entries[node] = entry
                if not children:
                    continue
                if len(children) == 1 and type(children[0]) is Text:
                    # the common leaf: its one Text is read in place
                    value = children[0].value
                    if with_text:
                        parts.append(value)
                        offset += len(value)
                        entry[1] = offset
                    if in_stage and stable:
                        stable = value.strip(XML_WHITESPACE)
                    continue
                if with_text:
                    push(entry)  # leaving this element
                stack.extend(children[::-1])
            elif kind is list:
                node[1] = offset
                node[3] = count
            elif in_stage and kind is Comment and not comment_may_match:
                comment_may_match = _may_trigger(node, self.trigger_prefixes)
        if with_text:
            self._text = "".join(parts)
            root_entry[1] = offset
            root_entry[3] = count
        self._by_name = by_name
        self._entries = entries
        self._stage_facts = None
        if in_stage:
            stable, may_match = _names_stage_facts(by_name, self.trigger_prefixes, bool(stable))
            self._stage_facts = (stable, may_match or comment_may_match)
        self._positions = {}
        self._anchor_sums = None
        self._inners = {}
        self._fresh = True


def _census(index, element):
    """What ``clean_conditionally`` counts below ``element``
    (NRT:1247-1252), off ``index``: the numbers of p, img, li and input
    elements and of embeds whose src is not a video."""
    embeds = sum(
        1
        for embed in index.below(element, "embed")
        if not regexes.VIDEO_RE.search(embed.attrs.get("src", ""))
    )
    return (
        index.count_below(element, "p"),
        index.count_below(element, "img"),
        index.count_below(element, "li"),
        index.count_below(element, "input"),
        embeds,
    )


def _has_descendant_named(element, names):
    stack = list(element.children)
    while stack:
        node = stack.pop()
        if type(node) is Element:
            if node.name in names:
                return True
            stack.extend(node.children)
    return False


def resolve_elements_urls(document, tag_name, attribute_name, url, transformer):
    """NRT:1390-1436."""
    for element in list(document.get_elements_by_tag_name(tag_name)):
        attribute_value = element.get_attribute_value(attribute_name, None)
        if attribute_value is None:
            continue
        resolved = urls.resolve_element_url(attribute_value, url)
        if resolved:
            if transformer is not None:
                transformed_value, original_attr_name = transformer(resolved, element)
            else:
                transformed_value, original_attr_name = resolved, None
            element.set_attribute_value(attribute_name, transformed_value)
            if original_attr_name:
                element.set_attribute_value(original_attr_name, resolved)


def _try_parse_int(s):
    s = s.strip()
    if _INT_RE.match(s):
        try:
            return int(s)
        except ValueError:
            return None
    return None


def serialize_document(document, params=None):
    """SgmlDomSerializer.cs:40-78: meta injection + DOCTYPE prefix.
    ``pretty_print`` selects XLinq-style indented output
    (``SaveOptions.None``, SgmlDomSerializer.cs:70 — see
    ``dom.to_pretty_html``); default is DisableFormatting-style raw."""
    params = params or SerializationOptions()

    if not (
        params.dont_include_content_type_meta
        and params.dont_include_mobile_meta
        and params.dont_include_generator_meta
    ):
        root = document.root
        if root is None:
            raise ValueError("The document must have a root.")
        if (root.name or "").lower() != "html":
            raise ValueError("The document's root must be an html element.")
        heads = root.get_children_by_tag_name("head")
        if heads:
            head = heads[0]
        else:
            head = Element("head")
            root.add_first(head)
        _process_meta_elements(head, params)

    result = to_pretty_html(document) if params.pretty_print else document.to_html()

    if not params.dont_include_doctype:
        result = DOCTYPE + result

    return result


def _process_meta_elements(head, params):
    """SgmlDomSerializer.cs:94-186. AddFirst order: Generator, then
    HandheldFriendly, then Content-Type end up first-to-third."""
    if not params.dont_include_content_type_meta:
        for meta in head.get_children_by_tag_name("meta"):
            if meta.get_attribute_value("http-equiv", "").lower() == "content-type":
                meta.remove()
                break
        meta = Element("meta")
        meta.set_attribute_value("http-equiv", "Content-Type")
        meta.set_attribute_value("content", "text/html; charset=utf-8")
        head.add_first(meta)

    # viewport/HandheldFriendly removal is unconditional (SDS:127-150)
    for meta in head.get_children_by_tag_name("meta"):
        if meta.get_attribute_value("name", "").lower() == "viewport":
            meta.remove()
            break
    for meta in head.get_children_by_tag_name("meta"):
        if meta.get_attribute_value("name", "").lower() == "handheldfriendly":
            meta.remove()
            break
    if not params.dont_include_mobile_meta:
        meta = Element("meta")
        meta.set_attribute_value("name", "HandheldFriendly")
        meta.set_attribute_value("content", "true")
        head.add_first(meta)

    if not params.dont_include_generator_meta:
        for meta in head.get_children_by_tag_name("meta"):
            if meta.get_attribute_value("name", "").lower() == "generator":
                meta.remove()
                break
        meta = Element("meta")
        meta.set_attribute_value("name", "Generator")
        meta.set_attribute_value("content", GENERATOR_NAME)
        head.add_first(meta)
