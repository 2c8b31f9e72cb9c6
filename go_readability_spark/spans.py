"""Span codec: interleaved (kind, text, media_ref, offset) spans ↔ documents.

This module defines the golden invariant of the pipeline (SURVEY.md §7 step
2, FIXTURES.md §1-2): a document arrives as an array of spans, is
reassembled into an HTML string (media spans become ``<x-media/>``
placeholder elements threaded through parsing — the parser treats
``x-media`` as void, parser.py:44), and the extracted article is emitted
back as an ordered span sequence. Correctness is judged on **span-sequence
equality (kind, text, media_ref, order)**, never on raw HTML (the reference
serializer's attribute order is nondeterministic, SURVEY.md §1.2(7)).

Pure Python, no Spark imports — runs inside Arrow-batched UDFs and in plain
pytest.
"""

from __future__ import annotations

from typing import Iterable, Optional

from .readability.fmt import escape_html
from .readability.regexps import BLOCK_ELEMENTS
from .readability.vdom import VElement, VText

__all__ = [
    "KIND_TEXT",
    "KIND_MEDIA",
    "MEDIA_TAG",
    "spans_to_html",
    "media_placeholder",
    "element_to_spans",
]

KIND_TEXT = "text"
KIND_MEDIA = "media"
MEDIA_TAG = "x-media"


def media_placeholder(media_ref: str, alt: str) -> str:
    """Serialize one media span as its placeholder element."""
    return (
        f'<{MEDIA_TAG} ref="{escape_html(media_ref or "")}"'
        f' alt="{escape_html(alt or "")}"/>'
    )


def spans_to_html(spans: Iterable[dict]) -> str:
    """Reassemble a document from its spans (FIXTURES.md §1).

    Spans are sorted by ``offset``; ``kind='text'`` spans contribute their
    raw HTML fragment (they may split the source at arbitrary boundaries,
    including mid-tag, so only the concatenation is parseable);
    ``kind='media'`` spans become void placeholder elements carrying
    ``ref``/``alt`` attributes.
    """
    parts: list[str] = []
    for span in sorted(spans, key=lambda s: s["offset"]):
        if span.get("kind") == KIND_MEDIA:
            parts.append(
                media_placeholder(span.get("media_ref") or "", span.get("text") or "")
            )
        else:
            parts.append(span.get("text") or "")
    return "".join(parts)


def element_to_spans(root: Optional[VElement]) -> list[dict]:
    """Emit an extracted article as an ordered span sequence.

    Pre-order walk of the article tree. Text accumulates into a buffer of
    raw text content (ExtractTextContent semantics — no injected spaces,
    format.go:272-286); the buffer is flushed into one ``kind='text'`` span
    at every block-element boundary (BLOCK_ELEMENTS, same set the reference
    uses for Stringify newlines, format.go:169-236) and before every media
    placeholder. Whitespace-only buffers are dropped. ``<x-media>``
    placeholders are emitted as ``kind='media'`` spans with their original
    ``ref``/``alt``. ``order`` is the 0-based emission index.
    """
    out: list[dict] = []
    if root is None:
        return out
    buf: list[str] = []

    def flush() -> None:
        if not buf:
            return
        text = "".join(buf)
        buf.clear()
        if text.strip():
            out.append(
                {"kind": KIND_TEXT, "text": text, "media_ref": "", "order": len(out)}
            )

    # pre-order, with a None pushed after a block element's children:
    # the flush on leaving it
    stack: list = [root]
    pop = stack.pop
    extend = stack.extend
    while stack:
        node = pop()
        if node is None:
            flush()
        elif isinstance(node, VText):
            buf.append(node.text_content)
        elif isinstance(node, VElement):
            tag = node.tag_name
            if tag == MEDIA_TAG:
                flush()
                out.append(
                    {
                        "kind": KIND_MEDIA,
                        "text": node.get_attribute("alt"),
                        "media_ref": node.get_attribute("ref"),
                        "order": len(out),
                    }
                )
                continue
            if tag in BLOCK_ELEMENTS:
                flush()
                stack.append(None)
            extend(node.children[::-1])
    flush()
    return out
