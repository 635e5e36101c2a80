"""Multi-page article stitching — port of NReadabilityWebTranscoder
(``NReadabilityWebTranscoder.cs``, abbreviated WT below).

The reference follows ``nextPageUrl`` links over HTTP (WT:94-132,
AppendNextPage recursion WT:154-230). This port replaces the network
boundary (``IUrlFetcher``) with a caller-supplied ``fetch(url) ->
html | None`` callable — in the Spark engine that callable resolves
URLs against the conversation's own rows (the table *is* the crawl),
so the operator stays pure and distributable.

Semantics ported line by line:
- page cap 30 (WT:34), "View Next Page" div when exceeded (WT:160-165);
- per-page transcode via the same TranscodeToXml pipeline incl. its
  <250-chars fallback (NRT:313-326);
- next page's leading <h1> stripped (WT:178-183);
- duplicate suppression: if the next page's first <p> (inner HTML
  length > 100, WT:192) has a text value already contained in the
  accumulated content, the page is skipped but marked parsed
  (WT:190-209);
- appended pages live in ``<div id="readability-page-N" class="page">``
  with a ``§`` separator paragraph (WT:37-38, WT:212-222);
- recursion continues only for unseen URLs (WT:226-229);
- with more than one page, the first content div is renamed to
  ``readability-page-1`` (WT:121-128).
"""

from __future__ import annotations

import re

from nreadability_spark.core.dom import Element, build_document
from nreadability_spark.core.transcoder import (
    DEFAULT_OPTIONS,
    INNER_DIV_ID,
    serialize_document,
    transcode,
)

MAX_PAGES = 30  # WT:34
PAGE_ID_PREFIX = "readability-page-"  # WT:35
MIN_FIRST_PARAGRAPH_LENGTH = 100  # WT:192


def default_page_separator(page_number):
    # WT:37-38
    return f"<p class='page-separator' title='Page {page_number}'>&sect;</p>"


def _transcode_page(html_content, url, options):
    """TranscodeToXml incl. the internal short-article fallback
    (NRT:313-326) and the glue: returns (document, article_element,
    next_page_url, extracted)."""
    run, document, article, title_element, next_page_url, _text = transcode(
        html_content, url, options
    )
    run.glue_document(document, title_element, article)
    return document, article, next_page_url, bool(article.children)


class _StitchState:
    __slots__ = ("cur_page_num", "parsed_pages")

    def __init__(self):
        self.cur_page_num = 1
        self.parsed_pages = []


def web_transcode(fetch, url, options=None, page_separator_builder=default_page_separator):
    """WT:94-132 Transcode(url): returns (html, extracted, n_pages);
    (None, False, 0) when the first page cannot be fetched."""
    options = options or DEFAULT_OPTIONS
    state = _StitchState()
    # don't double up on the first page (WT:100)
    state.parsed_pages.append(re.sub(r"/$", "", url))

    html_content = fetch(url)
    if not html_content:
        return None, False, 0

    document, _article, next_page, extracted = _transcode_page(html_content, url, options)

    if next_page is not None:
        _append_next_page(document, next_page, fetch, options, page_separator_builder, state)

    if state.cur_page_num > 1:
        # rename the first content div (WT:121-128; XElement.Element("div")
        # is the first DIRECT CHILD NAMED div, not the first element of
        # any name)
        inner = document.get_element_by_id(INNER_DIV_ID)
        divs = inner.get_children_by_tag_name("div") if inner is not None else []
        article_container = divs[0] if divs else None
        if article_container is not None:
            article_container.set_id(PAGE_ID_PREFIX + "1")
            article_container.set_class("page")

    return serialize_document(document, options.serialization), extracted, state.cur_page_num


def _append_next_page(document, url, fetch, options, page_separator_builder, state):
    """AppendNextPage (WT:154-230)."""
    state.cur_page_num += 1

    content_div = document.get_element_by_id(INNER_DIV_ID)

    if state.cur_page_num > MAX_PAGES:  # WT:160-165
        link_html = (
            "<div style='text-align: center'><a href='" + url + "'>View Next Page</a></div>"
        )
        tmp = build_document(link_html)
        body = tmp.get_body()
        holder = body if body is not None else tmp.root
        if holder is not None:
            content_div.add(*holder.children)
        return

    next_content = fetch(url)
    if not next_content:
        return

    next_document, _article, next_page_link, _x = _transcode_page(next_content, url, options)
    next_inner = next_document.get_element_by_id(INNER_DIV_ID)

    # strip the repeated article header (WT:178-183)
    headers = next_inner.get_children_by_tag_name("h1")
    if headers:
        headers[0].remove()

    # duplicate suppression (WT:190-209)
    paragraphs = next_inner.get_elements_by_tag_name("p")
    first_p = paragraphs[0] if paragraphs else None
    if first_p is not None and len(first_p.inner_html()) > MIN_FIRST_PARAGRAPH_LENGTH:
        existing_content = content_div.value
        inner_text = first_p.value
        if existing_content and inner_text and inner_text in existing_content:
            state.parsed_pages.append(url)
            return

    # append as #readability-page-N (WT:212-222)
    next_div = Element("div")
    if page_separator_builder is not None:
        next_div.set_inner_html(page_separator_builder(state.cur_page_num))
    next_div.set_id(PAGE_ID_PREFIX + str(state.cur_page_num))
    next_div.set_class("page")
    next_div.add(*next_inner.nodes())
    content_div.add(next_div)
    state.parsed_pages.append(url)

    # recurse while unseen (WT:226-229)
    if next_page_link and next_page_link not in state.parsed_pages:
        _append_next_page(document, next_page_link, fetch, options, page_separator_builder, state)
