"""DOM traversal and text-measurement scalars.

Ports /root/reference/internal/dom/dom_utils.go:14-204. These are the
"string functions" of the extraction engine; every scoring threshold depends
on their exact semantics:

- ``get_inner_text`` joins child texts with a single space and trims
  (dom_utils.go:127-158) — NOT plain textContent concatenation.
- all lengths are UTF-8 *byte* lengths (Go ``len()``).
- link density discounts ``href="#..."`` anchors by 0.3 with ``int()``
  truncation of the product (dom_utils.go:162-181).
"""

from __future__ import annotations

from typing import Optional

from .regexps import byte_len, collapse_whitespace
from .vdom import VElement, VNode, VText

__all__ = [
    "get_elements_by_tag_name",
    "get_elements_by_tag_names",
    "get_elements_grouped_by_tag",
    "get_elements_in_tag_order",
    "is_probably_visible",
    "get_node_ancestors",
    "has_ancestor_tag",
    "get_inner_text",
    "get_link_density",
    "get_text_density",
]


def get_elements_by_tag_name(element: VElement, tag_name: str) -> list[VElement]:
    """Pre-order recursive tag scan; ``*`` matches all (dom_utils.go:14-48)."""
    return get_elements_by_tag_names(element, (tag_name,))


def get_elements_by_tag_names(
    element: VElement, tag_names: "list[str] | tuple[str, ...]"
) -> list[VElement]:
    # Iterative pre-order, the hottest loop in the whole extractor (one
    # third of per-doc wall before this shape). Text nodes ride the
    # stack and are skipped at pop: one class check per node in the
    # main loop plus a C-level ``children[::-1]`` copy beats filtering
    # children through a generator per parent (measured ~14% whole-doc).
    # Result order is identical to the recursive walk.
    if not isinstance(tag_names, (list, tuple)):
        # public API: sets/generators were accepted before the
        # sequence-shaped fast paths below existed — keep them working
        tag_names = tuple(tag_names)
    result: list[VElement] = []
    stack = [element]
    pop = stack.pop
    append = result.append
    extend = stack.extend
    if len(tag_names) == 1:
        tag = tag_names[0].lower()
        if tag == "*":  # match-all: no membership test in the loop
            while stack:
                el = pop()
                if el.__class__ is not VElement:
                    continue
                append(el)
                cs = el.children
                if cs:
                    extend(cs[::-1])
            return result
        while stack:
            el = pop()
            if el.__class__ is not VElement:
                continue
            if el.tag_name == tag:
                append(el)
            cs = el.children
            if cs:
                extend(cs[::-1])
        return result
    tagset = frozenset(t.lower() for t in tag_names)
    star = "*" in tagset
    while stack:
        el = pop()
        if el.__class__ is not VElement:
            continue
        if star or el.tag_name in tagset:
            append(el)
        cs = el.children
        if cs:
            extend(cs[::-1])
    return result


def get_elements_grouped_by_tag(
    element: VElement, tag_names
) -> dict[str, list[VElement]]:
    """ONE pre-order walk grouping matches per tag.

    Equivalent to calling ``get_elements_by_tag_name`` once per tag
    (each group comes back in document order, exactly as the per-tag
    walk returns it) while paying the subtree traversal once — the
    scoring and structural phases walk the same body for up to nine
    tags back to back. ``*`` is not supported here; callers pass
    concrete tag lists."""
    groups: dict[str, list[VElement]] = {t.lower(): [] for t in tag_names}
    get = groups.get
    stack = [element]
    pop = stack.pop
    extend = stack.extend
    while stack:
        el = pop()
        if el.__class__ is not VElement:
            continue
        g = get(el.tag_name)
        if g is not None:
            g.append(el)
        cs = el.children
        if cs:
            extend(cs[::-1])
    return groups


def get_elements_in_tag_order(element: VElement, tag_names) -> list[VElement]:
    """Matches of every tag in one walk, concatenated in ``tag_names``
    order — exactly what ``[*walk(element, t) for t in tag_names]``
    produced with one traversal per tag. Keeps the ordering contract of
    the grouped walk in one place for its two consumers (candidate
    scoring, structural detection). ``*`` is not supported (it has no
    per-tag group); use ``get_elements_by_tag_names`` for match-all."""
    if not isinstance(tag_names, (list, tuple)):
        tag_names = tuple(tag_names)  # generators are consumed twice below
    if any(t == "*" for t in tag_names):
        raise ValueError(
            "get_elements_in_tag_order does not support '*'; use "
            "get_elements_by_tag_names for a match-all walk"
        )
    grouped = get_elements_grouped_by_tag(element, tag_names)
    result: list[VElement] = []
    for tag in tag_names:
        result.extend(grouped[tag.lower()])
    return result


def is_probably_visible(node: VElement) -> bool:
    """dom_utils.go:51-60."""
    style = node.get_attribute("style")
    return (
        "display: none" not in style
        and "visibility: hidden" not in style
        and not node.has_attribute("hidden")
        and node.get_attribute("aria-hidden") != "true"
    )


def get_node_ancestors(node: VElement, max_depth: int = 0) -> list[VElement]:
    """Parent chain, closest first; max_depth<=0 means unlimited
    (dom_utils.go:64-76)."""
    ancestors: list[VElement] = []
    current = node.parent
    depth = 0
    while current is not None and (max_depth <= 0 or depth < max_depth):
        ancestors.append(current)
        current = current.parent
        depth += 1
    return ancestors


def has_ancestor_tag(node: VNode, tag_name: str, max_depth: int = 0) -> bool:
    """dom_utils.go:96-123."""
    tag_name = tag_name.lower()
    current: Optional[VElement] = node.parent
    depth = 0
    while current is not None:
        if max_depth > 0 and depth >= max_depth:
            return False
        if current.tag_name == tag_name:
            return True
        current = current.parent
        depth += 1
    return False


# Phase-local memo for get_inner_text and get_link_density. The
# scoring/classify/metadata phases call them O(nodes·depth) times on an
# immutable tree (SURVEY.md §4.1: safe to memoize within a phase —
# FindMainCandidates mutates only ContentScore, never text). Enabled by
# extract_content after preprocess (the last tree mutation) and cleared
# in a finally. Keys are id(node) paired with normalize_spaces or
# "link_density": valid because the cached phase neither frees nor
# creates nodes.
_inner_text_cache: dict | None = None


def begin_inner_text_cache() -> None:
    global _inner_text_cache
    _inner_text_cache = {}


def end_inner_text_cache() -> None:
    global _inner_text_cache
    _inner_text_cache = None


def get_inner_text(node: VNode, normalize_spaces: bool = False) -> str:
    """Space-joined, trimmed descendant text (dom_utils.go:127-158).

    For elements: children are concatenated with a single ``" "`` inserted
    before every child after the first *whenever accumulated text is
    non-empty* — even if that child then contributes nothing (faithful to
    the Go loop structure at dom_utils.go:134-148). Child elements recurse
    with normalize=False and are therefore trimmed at every level; the
    ``\\s{2,}``→" " collapse (ASCII \\s, RE2 parity) applies only at this
    level when ``normalize_spaces`` is True.
    """
    cache = _inner_text_cache
    if cache is not None:
        key = (id(node), normalize_spaces)
        hit = cache.get(key)
        if hit is not None:
            return hit
    if isinstance(node, VText):
        text = node.text_content
    else:
        children = node.children
        if not children:
            text = ""
        elif len(children) == 1 and isinstance(children[0], VText):
            # leaf-ish fast path (p/a/h1 with one merged text node is
            # the most common element shape): no parts list, no join
            text = children[0].text_content
        else:
            parts: list[str] = []
            empty = True
            for i, child in enumerate(children):
                if i > 0 and not empty:
                    parts.append(" ")
                if isinstance(child, VText):
                    parts.append(child.text_content)
                    if child.text_content:
                        empty = False
                else:
                    child_text = get_inner_text(child, False)
                    if child_text != "":
                        parts.append(child_text)
                        empty = False
            text = "".join(parts)

    text = text.strip()
    if normalize_spaces:
        text = collapse_whitespace(text)
    if cache is not None:
        cache[key] = text
    return text


def get_link_density(element: VElement) -> float:
    """Ratio of (discounted) link-text bytes to total text bytes
    (dom_utils.go:162-181)."""
    cache = _inner_text_cache
    key = (id(element), "link_density")
    if cache is not None and key in cache:
        return cache[key]
    text_length = byte_len(get_inner_text(element, True))
    if text_length == 0:
        return 0.0

    link_length = 0
    for link in get_elements_by_tag_name(element, "a"):
        href = link.get_attribute("href")
        coefficient = 0.3 if href.startswith("#") else 1.0
        # int() truncation of the float product, as in Go (dom_utils.go:177)
        link_length += int(byte_len(get_inner_text(link, True)) * coefficient)

    density = link_length / text_length
    if cache is not None:
        cache[key] = density
    return density


def get_text_density(element: VElement) -> float:
    """Text bytes per child *element* (min 1) (dom_utils.go:185-204)."""
    text_length = byte_len(get_inner_text(element, True))
    if text_length == 0:
        return 0.0
    child_element_count = sum(
        1 for c in element.children if isinstance(c, VElement)
    )
    return text_length / max(child_element_count, 1)
