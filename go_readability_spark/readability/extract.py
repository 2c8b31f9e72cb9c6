"""Extraction lifecycle: parse → preprocess → score → gate → classify → meta.

Ports /root/reference/core.go:25-326 (Extract, ExtractContent,
FindStructuralElements, AddSignificantElementsByClassOrId) and the
options/article structs (options.go:21-49, article.go:12-26).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Optional

from .classify import (
    PAGE_TYPE_ARTICLE,
    classify_page_type,
    is_semantic_tag,
    is_significant_node,
)
from .dom import DocIndex, is_probably_visible
from .metadata import get_article_byline, get_article_title
from .parser import parse_html
from .preprocess import preprocess_document
from .regexps import DEFAULT_CHAR_THRESHOLD, DEFAULT_N_TOP_CANDIDATES, byte_len
from .scoring import find_main_candidates, is_probably_content
from .vdom import VDocument, VElement

__all__ = [
    "ReadabilityOptions",
    "ReadabilityArticle",
    "ExtractionMetrics",
    "extract",
    "extract_content",
    "find_structural_elements",
    "add_significant_elements_by_class_or_id",
    "create_extractor",
]

# core.go:282-326 significant class/id substrings
_SIGNIFICANT_PATTERNS = (
    "content", "main", "article", "post", "entry", "body", "text",
    "story", "container", "wrapper", "page", "blog", "section",
)


@dataclass
class ReadabilityOptions:
    """options.go:21-33 / DefaultOptions options.go:43-49."""

    char_threshold: int = DEFAULT_CHAR_THRESHOLD
    nb_top_candidates: int = DEFAULT_N_TOP_CANDIDATES
    generate_aria_tree: bool = False
    forced_page_type: str = ""


@dataclass
class ArticleContent:
    """article.go:28-34 — article-page view of the result."""

    title: str = ""
    byline: str = ""
    root: Optional[VElement] = None


@dataclass
class OtherContent:
    """article.go:36-45 — non-article-page view of the result."""

    title: str = ""
    header: Optional[VElement] = None
    footer: Optional[VElement] = None
    other_significant_nodes: list[VElement] = field(default_factory=list)
    aria_tree: object = None


@dataclass
class ExtractionMetrics:
    """Per-document pipeline metrics (FIXTURES.md §2 ``metrics`` struct).

    The reference has no equivalent: the numbers are its intermediate
    state. ``extract_content`` fills the scoring stats; the pruning stats
    (from the node counts ``preprocess_document`` returns) are filled by
    the extraction loop (operators/extract.py), and stay 0 otherwise."""

    candidate_count: int = 0
    pruned_nodes: int = 0
    prune_ratio: float = 0.0
    top_score: float = 0.0
    link_density: float = 0.0
    is_probably_content: bool = False


@dataclass
class ReadabilityArticle:
    """article.go:12-26, plus the pipeline's ``metrics``."""

    title: str = ""
    byline: str = ""
    root: Optional[VElement] = None
    node_count: int = 0
    page_type: str = PAGE_TYPE_ARTICLE
    header: Optional[VElement] = None
    footer: Optional[VElement] = None
    other_significant_nodes: list[VElement] = field(default_factory=list)
    aria_tree: object = None  # never populated by Extract (core.go:120-126)
    metrics: ExtractionMetrics = field(default_factory=ExtractionMetrics)

    def get_content_by_page_type(self):
        """ArticleContent or OtherContent by page type (article.go:54-75)."""
        if self.page_type == PAGE_TYPE_ARTICLE:
            return ArticleContent(
                title=self.title, byline=self.byline, root=self.root
            )
        return OtherContent(
            title=self.title,
            header=self.header,
            footer=self.footer,
            other_significant_nodes=self.other_significant_nodes,
            aria_tree=self.aria_tree,
        )


def extract(
    html: str, options: Optional[ReadabilityOptions] = None
) -> ReadabilityArticle:
    """Main entry point (core.go:25-51).

    The reference defaults ForcedPageType to "article" (core.go:46-47) on
    its by-value copy of Options (core.go:25); ``replace`` makes the same
    copy, so the default never leaks into the caller's instance."""
    options = options or ReadabilityOptions()
    doc = parse_html(html, "")
    preprocess_document(doc)
    return extract_content(
        doc,
        replace(
            options,
            forced_page_type=options.forced_page_type or PAGE_TYPE_ARTICLE,
        ),
    )


def extract_content(
    doc: VDocument, options: Optional[ReadabilityOptions] = None
) -> ReadabilityArticle:
    """Core extraction (core.go:63-140) of a parsed, preprocessed document.

    The returned article also carries the scoring half of its
    ``ExtractionMetrics`` (candidate_count, top_score, link_density,
    is_probably_content); the pruning half belongs to the caller that
    ran ``preprocess_document``.

    NOTE (quirk replicated): ``Extract`` defaults ForcedPageType to
    "article" when unset (core.go:46-47), so the library path always forces
    page_type="article" and ``ClassifyPageType`` is only reachable by
    calling this function directly with forced_page_type="".
    """
    options = options or ReadabilityOptions()
    char_threshold = (
        options.char_threshold
        if options.char_threshold > 0
        else DEFAULT_CHAR_THRESHOLD
    )
    metrics = ExtractionMetrics()
    # preprocessing was the last mutation; the read phase below only
    # writes ContentScore (readability), so one index serves all of it
    index = DocIndex(doc.document_element)

    candidates = find_main_candidates(doc, index, options.nb_top_candidates)
    article_content: Optional[VElement] = None
    metrics.candidate_count = len(candidates)

    if candidates:
        top_candidate = candidates[0]
        text_length = byte_len(index.inner_text(top_candidate))
        link_density = index.link_density(top_candidate)
        if top_candidate.readability is not None:
            metrics.top_score = top_candidate.readability
        metrics.link_density = link_density
        metrics.is_probably_content = is_probably_content(top_candidate, index)
        # accept gate (core.go:83-94)
        if text_length >= char_threshold and link_density <= 0.5:
            article_content = top_candidate

    page_type = options.forced_page_type
    if page_type == "":
        if article_content is not None:
            page_type = PAGE_TYPE_ARTICLE
        else:
            page_type = classify_page_type(
                doc, index, candidates, char_threshold, ""
            )

    title = get_article_title(doc, index)
    byline = get_article_byline(doc, index)

    header: Optional[VElement] = None
    footer: Optional[VElement] = None
    other_significant_nodes: list[VElement] = []
    if page_type == PAGE_TYPE_ARTICLE and article_content is None:
        header, footer, other_significant_nodes = find_structural_elements(
            doc, index
        )

    return ReadabilityArticle(
        title=title,
        byline=byline,
        root=article_content,
        node_count=(
            0 if article_content is None else index.count(article_content)
        ),
        page_type=page_type,
        header=header,
        footer=footer,
        other_significant_nodes=other_significant_nodes,
        aria_tree=None,
        metrics=metrics,
    )


def find_structural_elements(
    doc: VDocument, index: DocIndex
) -> tuple[Optional[VElement], Optional[VElement], list[VElement]]:
    """Header/footer/significant-node fallback (core.go:154-273) over
    ``index``, an index of ``doc.document_element``."""
    body = doc.body
    header: Optional[VElement] = None
    footer: Optional[VElement] = None

    # 1. header (core.go:161-184)
    header_tags = index.elements(doc.document_element, "header")
    if len(header_tags) == 1:
        header = header_tags[0]
    else:
        for el in index.elements(body, "*"):
            role = el.get_attribute("role").lower()
            el_id = el.id.lower()
            class_name = el.class_name.lower()
            if (
                role == "banner"
                or el_id == "header"
                or el_id == "masthead"
                or "header" in class_name
                or "masthead" in class_name
            ):
                if header is None or (
                    el.parent is body and header.parent is not body
                ):
                    header = el

    # 2. footer, scanned bottom-up (core.go:186-223)
    footer_tags = index.elements(doc.document_element, "footer")
    if len(footer_tags) == 1:
        footer = footer_tags[0]
    else:
        for el in reversed(index.elements(body, "*")):
            role = el.get_attribute("role").lower()
            el_id = el.id.lower()
            class_name = el.class_name.lower()
            if (
                role == "contentinfo"
                or el_id == "footer"
                or el_id == "colophon"
                or "footer" in class_name
                or "site-info" in class_name
            ):
                if footer is None:
                    is_inside_header = False
                    current = el
                    while current is not None and current is not body:
                        if current is header:
                            is_inside_header = True
                            break
                        current = current.parent
                    if not is_inside_header:
                        footer = el

    # 3. other significant nodes (core.go:225-272): each tag's matches
    # in document order, concatenated in the reference's tag order
    potential = [
        el
        for tag in ("main", "article", "section", "aside", "nav")
        for el in index.elements(body, tag)
    ]
    add_significant_elements_by_class_or_id(body, index, potential)

    other_significant_nodes: list[VElement] = []
    for node in potential:
        is_inside = False
        current = node
        while current is not None and current is not body:
            if current is header or current is footer:
                is_inside = True
                break
            current = current.parent
        already = any(n is node for n in other_significant_nodes)
        if not is_inside and not already:
            if is_probably_visible(node) and (
                is_significant_node(node) or is_semantic_tag(node)
            ):
                other_significant_nodes.append(node)

    return header, footer, other_significant_nodes


def add_significant_elements_by_class_or_id(
    body: VElement, index: DocIndex, potential_nodes: list[VElement]
) -> None:
    """Append elements under ``body`` (``index`` covers it) whose
    class+" "+id contains a significant substring (core.go:282-326).
    Mutates ``potential_nodes`` in place."""
    for el in index.elements(body, "*"):
        combined = el.class_name.lower() + " " + el.id.lower()
        for pattern in _SIGNIFICANT_PATTERNS:
            if pattern in combined:
                if not any(n is el for n in potential_nodes):
                    potential_nodes.append(el)
                break


def create_extractor(options: ReadabilityOptions):
    """core.go:582-586."""

    def _extract(html: str) -> ReadabilityArticle:
        return extract(html, options)

    return _extract
