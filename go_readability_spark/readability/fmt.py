"""Output formatting: clean HTML, plain text, node counting.

Ports /root/reference/format.go:76-315.
"""

from __future__ import annotations

from collections.abc import Sequence

from .regexps import BLOCK_ELEMENTS, SELF_CLOSING_TAGS
from .vdom import VElement, VNode, VText, child_nodes, fold

__all__ = [
    "to_html",
    "escape_html",
    "stringify",
    "format_document",
    "extract_text_content",
    "count_nodes",
]


def escape_html(s: str) -> str:
    """format.go:149-157 (&amp; first, then nbsp, lt, gt, quot, apos)."""
    result = s.replace("&", "&amp;")
    result = result.replace("\u00a0", "&nbsp;")
    result = result.replace("<", "&lt;")
    result = result.replace(">", "&gt;")
    result = result.replace('"', "&quot;")
    result = result.replace("'", "&#039;")
    return result


def to_html(element: VElement | None) -> str:
    """HTML omitting <span> wrappers and class attributes (format.go:76-139).

    NOTE: the reference iterates Go's randomized attribute map here
    (format.go:98) so its output attribute order is nondeterministic
    run-to-run (SURVEY.md §1.2(7)); we iterate insertion order, which is
    deterministic and matches document order.
    """
    if element is None:
        return ""
    return fold(element, child_nodes, _html)


def _html(node: VNode, children: Sequence[str]) -> str:
    if isinstance(node, VText):
        return escape_html(node.text_content)
    if not isinstance(node, VElement):
        return ""
    tag_name = node.tag_name
    if tag_name == "span":
        return "".join(children)

    attrs = " ".join(
        f'{key}="{escape_html(value)}"'
        for key, value in node.attributes.items()
        if key != "class"
    )

    if tag_name in SELF_CLOSING_TAGS and not node.children:
        if attrs:
            return f"<{tag_name} {attrs}/>"
        return f"<{tag_name}/>"

    start = f"<{tag_name} {attrs}>" if attrs else f"<{tag_name}>"
    return f"{start}{''.join(children)}</{tag_name}>"


def stringify(element: VElement | None) -> str:
    """Readable plain text with block-level newlines (format.go:169-236)."""
    if element is None:
        return ""
    return fold(element, child_nodes, _stringify)


def _stringify(node: VNode, children: Sequence[str]) -> str:
    # a text node's trimmed text ends in neither a space nor a newline,
    # so the rule below gives it its separating space
    if isinstance(node, VText):
        return node.text_content.strip()
    if not isinstance(node, VElement):
        return ""
    tag_name = node.tag_name
    if tag_name == "br":
        return "\n"
    if tag_name == "hr":
        return "\n----------\n"

    is_block = tag_name in BLOCK_ELEMENTS
    parts: list[str] = []
    if is_block:
        parts.append("\n")
    for child_result in children:
        parts.append(child_result)
        if (
            len(child_result) > 0
            and not child_result.endswith(" ")
            and not child_result.endswith("\n")
        ):
            parts.append(" ")

    result = "".join(parts)
    if result.endswith(" "):
        result = result[:-1]
    if is_block:
        result += "\n"
    while "\n\n" in result:
        result = result.replace("\n\n", "\n")
    return result


def format_document(text: str) -> str:
    """Collapse blank lines and trim (format.go:247-262)."""
    result = text
    while "\n\n" in result:
        result = result.replace("\n\n", "\n")
    return result.lstrip("\n").rstrip("\n").strip()


def extract_text_content(element: VElement | None) -> str:
    """Raw concatenated text, NO spaces inserted — differs from
    get_inner_text (format.go:272-286)."""
    if element is None:
        return ""
    parts: list[str] = []
    stack: list[VNode] = [element]
    while stack:
        node = stack.pop()
        if isinstance(node, VText):
            parts.append(node.text_content)
        elif isinstance(node, VElement):
            stack.extend(reversed(node.children))
    return "".join(parts)


def count_nodes(element: VElement | None) -> int:
    """Element + text node count including self (format.go:296-315).

    Iterative (same stack pattern as the dom walkers): the recursive
    form was one Python frame per element on multi-thousand-node giant
    documents, and counting needs no ordering at all."""
    if element is None:
        return 0
    count = 0
    stack = [element]
    pop = stack.pop
    extend = stack.extend
    while stack:
        el = pop()
        count += 1
        # isinstance, not exact-class: the recursive form descended into
        # VElement subclasses too, and count_nodes is a facade export
        if isinstance(el, VElement):
            cs = el.children
            if cs:
                extend(cs)
    return count
