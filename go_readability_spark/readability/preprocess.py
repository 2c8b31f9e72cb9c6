"""Document preprocessing: unwanted-tag removal and ad removal.

Ports /root/reference/preprocess.go:66-155. Runs before scoring; both passes
snapshot the element list first and then splice children in place, so nested
matches are removed from already-detached parents harmlessly (order-
insensitive result, SURVEY.md §4.1).
"""

from __future__ import annotations

import re

from .dom import get_elements_by_tag_name, get_elements_by_tag_names
from .regexps import AD_PATTERNS, TAGS_TO_REMOVE
from .vdom import VDocument, VElement, detach

__all__ = ["preprocess_document", "is_likely_ad"]

# single alternation of AD_PATTERNS — existence-equivalent to testing each
# pattern in turn, one scan instead of sixteen
_AD_COMBINED = re.compile(
    "|".join(f"(?:{p.pattern})" for p in AD_PATTERNS), re.IGNORECASE
)


def preprocess_document(doc: VDocument) -> VDocument:
    """preprocess.go:66-74."""
    _remove_unwanted_tags(doc)
    _remove_ads(doc)
    return doc


def _remove_unwanted_tags(doc: VDocument) -> None:
    """Delete aside/nav/header/footer/script/style/... (preprocess.go:82-98).

    audio/video/figure/canvas/details are deliberately kept
    (preprocess.go:29-34).
    """
    # One pass instead of one walk per tag: the reference snapshots each
    # tag's matches before deleting (preprocess.go:85-96), and removing a
    # nested unwanted element from an already-detached parent is harmless
    # (SURVEY.md §4.1) — so collecting all unwanted tags in a single
    # pre-order pass yields the identical final tree.
    for element in get_elements_by_tag_names(
        doc.document_element, list(TAGS_TO_REMOVE)
    ):
        detach(element)


def _remove_ads(doc: VDocument) -> None:
    """Delete likely-ad elements under body (preprocess.go:106-122)."""
    for element in get_elements_by_tag_name(doc.body, "*"):
        if element.parent is not None and is_likely_ad(element):
            detach(element)


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
