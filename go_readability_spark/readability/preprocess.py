"""Document preprocessing: unwanted-tag removal and ad removal.

Ports /root/reference/preprocess.go:66-155. Runs before scoring; both passes
snapshot the element list first and then splice children in place, so nested
matches are removed from already-detached parents harmlessly (order-
insensitive result, SURVEY.md §4.1).
"""

from __future__ import annotations

import re

from .dom import DocIndex
from .regexps import AD_PATTERNS, TAGS_TO_REMOVE
from .vdom import VDocument, VElement, detach

__all__ = ["preprocess_document", "is_likely_ad"]

# single alternation of AD_PATTERNS — existence-equivalent to testing each
# pattern in turn, one scan instead of sixteen
_AD_COMBINED = re.compile(
    "|".join(f"(?:{p.pattern})" for p in AD_PATTERNS), re.IGNORECASE
)


def preprocess_document(doc: VDocument) -> tuple[int, int]:
    """preprocess.go:66-74.

    Both passes read their snapshots from one index built before anything
    is detached. The removal set does not depend on the order: detaching a
    nested unwanted element, or checking an element for ads after an
    unwanted ancestor was removed, only edits a subtree that has already
    left the document (SURVEY.md §4.1).

    Returns ``(nodes, pruned)``: the element and text nodes of the tree
    before preprocessing (``count_nodes``), and how many of them left it.
    A detached subtree is one ``(pos, end)`` span of the index, and a
    nested match lies inside its ancestor's span, so ``pruned`` is the
    length of the union of the detached elements' spans."""
    root = doc.document_element
    index = DocIndex(root)
    detached = _remove_unwanted_tags(doc, index) + _remove_ads(doc, index)
    pruned = reach = 0
    for pos, end in sorted(index.span(element) for element in detached):
        if pos >= reach:
            pruned += end - pos
            reach = end
    return index.count(root), pruned


def _remove_unwanted_tags(doc: VDocument, index: DocIndex) -> list[VElement]:
    """Delete aside/nav/header/footer/script/style/... (preprocess.go:82-98)
    and return them.

    audio/video/figure/canvas/details are deliberately kept
    (preprocess.go:29-34).
    """
    detached = []
    for tag in TAGS_TO_REMOVE:
        for element in index.elements(doc.document_element, tag):
            detach(element)
            detached.append(element)
    return detached


def _remove_ads(doc: VDocument, index: DocIndex) -> list[VElement]:
    """Delete likely-ad elements under body (preprocess.go:106-122) and
    return them."""
    detached = []
    for element in index.elements(doc.body, "*"):
        if element.parent is not None and is_likely_ad(element):
            detach(element)
            detached.append(element)
    return detached


def is_likely_ad(element: VElement) -> bool:
    """16 case-insensitive class/id regexes + ad attributes
    (preprocess.go:133-155)."""
    attrs = element.attributes
    if not attrs:
        # no attributes → no class/id to match, no role/data-* flags
        # (every AD pattern needs at least one letter, so the combined
        # " " string below could never match either)
        return False
    combined = attrs.get("class", "") + " " + attrs.get("id", "")
    if _AD_COMBINED.search(combined):
        return True
    return (
        attrs.get("role") == "advertisement"
        or "data-ad" in attrs
        or "data-ad-client" in attrs
        or "data-ad-slot" in attrs
    )
