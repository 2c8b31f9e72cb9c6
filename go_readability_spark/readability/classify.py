"""Page-type classification and structural significance predicates.

Ports /root/reference/classify.go:27-313. The URL branches (:39-87) are kept
for API parity but are dead in the library path — ExtractContent passes
url="" (core.go:103).
"""

from __future__ import annotations

import re

from .dom import DocIndex
from .regexps import DEFAULT_CHAR_THRESHOLD, byte_len
from .vdom import VDocument, VElement

__all__ = [
    "PAGE_TYPE_ARTICLE",
    "PAGE_TYPE_OTHER",
    "classify_page_type",
    "is_significant_node",
    "is_semantic_tag",
    "get_expected_page_type_by_url",
    "analyze_url_pattern",
]

PAGE_TYPE_ARTICLE = "article"
PAGE_TYPE_OTHER = "other"

# [0-9], not \d: Go's regexp \d is ASCII-only while Python's matches
# Unicode digits — a URL segment of full-width or Arabic-Indic digits
# must classify as その他/other here exactly as in classify.go
_DIGIT_ONLY = re.compile(r"^[0-9]+$")
_ALPHA_NUMERIC = re.compile(r"^[a-zA-Z0-9-_]+$")
_HAS_DIGIT = re.compile(r"[0-9]")
_TOP_LEVEL = re.compile(r"^https?://[^/]+/?$")
_USER_PAGE = re.compile(r"^https?://[^/]+/[^/]+/?$")
_THREE_DEPTH = re.compile(r"^https?://[^/]+/[^/]+/[^/]+/[^/]*$")

# classify.go:252-257
_SIGNIFICANT_PATTERNS = (
    "header", "footer", "main", "content", "article", "navigation",
    "nav", "sidebar", "menu", "banner", "mainContent", "mainContainer",
)


def classify_page_type(
    doc: VDocument,
    index: DocIndex,
    candidates: list[VElement],
    char_threshold: int = DEFAULT_CHAR_THRESHOLD,
    url: str = "",
) -> str:
    """Article/other decision tree (classify.go:27-232) over ``index``,
    an index of ``doc.document_element``."""
    if char_threshold <= 0:
        char_threshold = DEFAULT_CHAR_THRESHOLD

    # URL-pattern pre-classification (classify.go:39-87; dead in library path)
    if url != "":
        if "/articles/" in url:
            return PAGE_TYPE_ARTICLE if candidates else PAGE_TYPE_OTHER
        last_part = url.split("/")[-1]
        last_part_no_ext = last_part.split(".")[0]
        if _DIGIT_ONLY.search(last_part_no_ext) or (
            _ALPHA_NUMERIC.search(last_part_no_ext)
            and _HAS_DIGIT.search(last_part_no_ext)
            and len(last_part_no_ext) >= 5
        ):
            return PAGE_TYPE_ARTICLE if candidates else PAGE_TYPE_OTHER
        if _TOP_LEVEL.search(url) or _USER_PAGE.search(url):
            if candidates:
                text = index.inner_text(candidates[0])
                if (
                    byte_len(text) > char_threshold * 2
                    and index.link_density(candidates[0]) < 0.3
                ):
                    return PAGE_TYPE_ARTICLE
            return PAGE_TYPE_OTHER

    if not candidates:  # classify.go:90-92
        return PAGE_TYPE_OTHER

    top_candidate = candidates[0]

    # 1. page-structure counters (classify.go:96-128)
    body = doc.body

    def matches(tag: str) -> int:
        return len(index.elements(body, tag))

    heading_count = matches("h1") + matches("h2") + matches("h3")
    image_count = matches("img")
    link_count = matches("a")
    article_count = matches("article")
    list_item_count = matches("li")
    card_count = 0
    for child in body.children:
        if isinstance(child, VElement):
            class_name = child.class_name.lower()
            if (
                "card" in class_name
                or "item" in class_name
                or "entry" in class_name
            ):
                card_count += 1
    list_element_count = article_count + list_item_count + card_count

    # 2. index-page characteristics (classify.go:135-144)
    if (
        list_element_count > 10
        or (link_count > 50 and image_count > 20)
        or heading_count > 10
        or heading_count == 0
    ):
        return PAGE_TYPE_OTHER

    # 3. semantic tag + text length (classify.go:146-166)
    if is_semantic_tag(top_candidate):
        text = index.inner_text(top_candidate)
        link_density = index.link_density(top_candidate)
        if byte_len(text) >= char_threshold // 2 and link_density <= 0.5:
            if list_element_count > 10:
                return PAGE_TYPE_OTHER
            return PAGE_TYPE_ARTICLE
        if byte_len(text) < 100:
            return PAGE_TYPE_OTHER

    # 4. text length + link density + heading count (classify.go:168-178)
    text = index.inner_text(top_candidate)
    link_density = index.link_density(top_candidate)
    if (
        byte_len(text) >= char_threshold
        and link_density <= 0.5
        and 1 <= heading_count <= 10
    ):
        return PAGE_TYPE_ARTICLE

    # 5. score balance between top-2 candidates (classify.go:180-210)
    if len(candidates) >= 2:
        top_score = top_candidate.readability or 0.0
        second_score = candidates[1].readability or 0.0
        score_ratio = (second_score / top_score) if top_score > 0 else 1.0
        if score_ratio > 0.8:
            body_text_length = byte_len(index.inner_text(body))
            body_link_density = (
                link_count / body_text_length if body_text_length > 0 else 0.0
            )
            if body_link_density > 0.25 or link_density > 0.3:
                return PAGE_TYPE_OTHER

    # 6. many links + short body (classify.go:212-218)
    body_text_length = byte_len(index.inner_text(body))
    if link_count > 30 and body_text_length < int(char_threshold * 1.5):
        return PAGE_TYPE_OTHER

    # 7. final 140-byte rule (classify.go:220-231)
    if byte_len(text) >= 140 and link_density <= 0.5:
        if list_element_count > 10:
            return PAGE_TYPE_OTHER
        return PAGE_TYPE_ARTICLE

    return PAGE_TYPE_OTHER


def is_significant_node(node: VElement) -> bool:
    """classify.go:244-276."""
    if node.tag_name in ("header", "footer", "main", "article", "aside", "nav"):
        return True
    role = node.get_attribute("role").lower()
    if role in ("banner", "contentinfo", "main", "navigation", "complementary"):
        return True
    class_name = node.class_name.lower()
    node_id = node.id.lower()
    for pattern in _SIGNIFICANT_PATTERNS:
        if pattern in class_name or pattern in node_id:
            return True
    return False


def is_semantic_tag(element: VElement) -> bool:
    """classify.go:288-313."""
    if element.tag_name in ("main", "article"):
        return True
    if (
        "content" in element.class_name.lower()
        or "content" in element.id.lower()
    ):
        return True
    for child in element.children:
        if isinstance(child, VElement) and child.tag_name in ("main", "article"):
            return True
    return False


def get_expected_page_type_by_url(url: str) -> str:
    """URL-only pre-classification (classify.go:324-358)."""
    if "/articles/" in url:
        return PAGE_TYPE_ARTICLE
    if _THREE_DEPTH.search(url):
        return PAGE_TYPE_ARTICLE
    last_part = url.split("/")[-1]
    last_part_no_ext = last_part.split(".")[0]
    if _DIGIT_ONLY.search(last_part_no_ext) or (
        _ALPHA_NUMERIC.search(last_part_no_ext)
        and _HAS_DIGIT.search(last_part_no_ext)
        and len(last_part_no_ext) >= 5
    ):
        return PAGE_TYPE_ARTICLE
    return PAGE_TYPE_OTHER


_ALPHA_ONLY = re.compile(r"^[a-zA-Z-_]+$")


def analyze_url_pattern(url: str) -> str:
    """Debug categorizer for a URL's last path segment
    (classify.go:370-398). The return strings are the reference's
    verbatim Japanese labels — kept byte-identical for parity."""
    last_part = url.split("/")[-1]
    last_part_no_ext = last_part.split(".")[0]
    if last_part_no_ext == "":
        return "末尾なし"
    if _DIGIT_ONLY.match(last_part_no_ext):
        return f"数字のみ ({last_part_no_ext})"
    if _ALPHA_NUMERIC.match(last_part_no_ext) and _HAS_DIGIT.search(
        last_part_no_ext
    ):
        return f"英数字混合 ({last_part_no_ext})"
    if _ALPHA_ONLY.match(last_part_no_ext):
        return f"英字のみ ({last_part_no_ext})"
    return f"その他 ({last_part_no_ext})"
