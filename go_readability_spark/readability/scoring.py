"""Candidate scoring and selection — the core "query" of the engine.

Ports /root/reference/core.go:357-624:

- ``find_main_candidates``: semantic-tag shortcut, element scan+filter,
  base score (1 + commas + min(bytes/100, 3)), ancestor score distribution
  (dividers 1/2/level*3), link/text-density adjustment, parent promotion,
  stable descending sort, top-K, body fallback.
- ``initialize_node`` / ``get_class_weight``: tag base scores and ±25
  class/id regex weights.
- ``is_probably_content``: readerable heuristic.

Parity notes: all lengths are UTF-8 byte lengths; the reference's bubble
sort with strict ``<`` swap is stable, equivalent to Python's stable
``sorted(..., reverse=True)`` over insertion order (SURVEY.md §1.2(6)).
"""

from __future__ import annotations

from .dom import DocIndex, get_node_ancestors, is_probably_visible
from .regexps import (
    COMMAS,
    DEFAULT_N_TOP_CANDIDATES,
    DEFAULT_TAGS_TO_SCORE,
    NEGATIVE,
    OK_MAYBE_ITS_A_CANDIDATE,
    POSITIVE,
    UNLIKELY_CANDIDATES,
    byte_len,
)
from .vdom import VDocument, VElement

__all__ = [
    "find_main_candidates",
    "initialize_node",
    "get_class_weight",
    "is_probably_content",
]

# core.go:557-566
_TAG_BASE_SCORES = {
    "div": 5.0,
    "pre": 3.0, "td": 3.0, "blockquote": 3.0,
    "address": -3.0, "ol": -3.0, "ul": -3.0, "dl": -3.0, "dd": -3.0,
    "dt": -3.0, "li": -3.0, "form": -3.0,
    "h1": -5.0, "h2": -5.0, "h3": -5.0, "h4": -5.0, "h5": -5.0,
    "h6": -5.0, "th": -5.0,
}


def get_class_weight(node: VElement) -> float:
    """±25 for Negative/Positive regex on class, again on id
    (core.go:598-624). Case-SENSITIVE match on the raw strings."""
    weight = 0.0
    class_name = node.class_name
    if class_name != "":
        if NEGATIVE.search(class_name):
            weight -= 25
        if POSITIVE.search(class_name):
            weight += 25
    node_id = node.id
    if node_id != "":
        if NEGATIVE.search(node_id):
            weight -= 25
        if POSITIVE.search(node_id):
            weight += 25
    return weight


def initialize_node(node: VElement) -> None:
    """Attach the base ContentScore (core.go:550-570)."""
    score = _TAG_BASE_SCORES.get(node.tag_name, 0.0)
    node.readability = score + get_class_weight(node)


def find_main_candidates(
    doc: VDocument,
    index: DocIndex,
    nb_top_candidates: int = DEFAULT_N_TOP_CANDIDATES,
) -> list[VElement]:
    """Top-K candidate selection (core.go:357-498) over ``index``, an
    index of ``doc.document_element``."""
    if nb_top_candidates <= 0:
        nb_top_candidates = DEFAULT_N_TOP_CANDIDATES

    # 1. semantic-tag shortcut: exactly one <article>, else exactly one
    # <main>, becomes the sole candidate (core.go:363-371)
    for tag in ("article", "main"):
        elements = index.elements(doc.document_element, tag)
        if len(elements) == 1:
            return [elements[0]]

    # 2. scoring-based detection (core.go:374-421): each tag's matches
    # in document order, concatenated in DEFAULT_TAGS_TO_SCORE order
    body = doc.body
    candidates: list[VElement] = []
    elements_to_score = [
        el for tag in DEFAULT_TAGS_TO_SCORE for el in index.elements(body, tag)
    ]

    for element in elements_to_score:
        inner_text = index.inner_text(element)
        if byte_len(inner_text) < 25:  # core.go:388-390
            continue
        ancestors = get_node_ancestors(element, 3)
        if not ancestors:
            continue

        content_score = 1.0
        content_score += float(len(COMMAS.findall(inner_text)))
        content_score += float(min(byte_len(inner_text) // 100, 3))

        for level, ancestor in enumerate(ancestors):
            if ancestor.readability is None:
                initialize_node(ancestor)
                candidates.append(ancestor)
            if level == 0:
                score_divider = 1
            elif level == 1:
                score_divider = 2
            else:
                score_divider = level * 3
            ancestor.readability += content_score / score_divider

    # 3. density adjustment + parent promotion (core.go:424-473)
    scored: list[tuple[VElement, float]] = []
    scored_ids: set[int] = set()
    for candidate in candidates:
        if candidate.readability is None:
            continue
        link_density = index.link_density(candidate)
        candidate.readability *= 1.0 - link_density
        text_density = index.text_density(candidate)
        if text_density > 0:
            candidate.readability *= 1.0 + min(text_density / 10.0, 0.1)

        current = candidate
        parent = current.parent
        while parent is not None and parent.tag_name != "body":
            if (
                parent.readability is not None
                and current.readability is not None
                and parent.readability > current.readability
            ):
                current = parent
            parent = parent.parent

        if current.readability is not None and id(current) not in scored_ids:
            scored_ids.add(id(current))
            scored.append((current, current.readability))

    # 4. stable descending sort + top K (core.go:476-490); Python's sorted
    # is stable like the reference's strict-< bubble sort
    scored.sort(key=lambda item: item[1], reverse=True)
    top = [element for element, _ in scored[:nb_top_candidates]]

    if not top and doc.body is not None:  # core.go:493-495
        return [doc.body]
    return top


def is_probably_content(element: VElement, index: DocIndex) -> bool:
    """Readerability heuristic (core.go:509-541); ``index`` covers
    ``element``."""
    if not is_probably_visible(element):
        return False

    match_string = element.class_name + " " + element.id
    if UNLIKELY_CANDIDATES.search(match_string) and not (
        OK_MAYBE_ITS_A_CANDIDATE.search(match_string)
    ):
        return False

    if byte_len(index.inner_text(element)) < 140:
        return False
    if index.link_density(element) > 0.5:
        return False
    return index.text_density(element) >= 0.1
