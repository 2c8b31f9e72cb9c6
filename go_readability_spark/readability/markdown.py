"""HTML → Markdown sink.

Reimplements the reference's Markdown conversion
(/root/reference/markdown.go:23-551): headings, emphasis, inline code
with backtick-run-aware delimiters, fenced code blocks with language
classes, blockquotes, nested lists, links (image-link special case),
images, hr/br, and pipe tables — plus the smart inline joiner
(joinMarkdownParts, markdown.go:47-84) and the ignored-tag set.

All regexes precompiled at module import (the reference compiles several
per call — markdown.go:126, :199 — a known inefficiency SURVEY.md §4.1
says not to copy).
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from itertools import islice
from typing import Optional

from .fmt import extract_text_content
from .vdom import VElement, VNode, VText, fold

__all__ = ["to_markdown", "escape_markdown"]

_SPACE_RUN = re.compile(r"[ \t]+")
_MD_SPECIAL = re.compile(r"([*_\[\]\\`])")
_BACKTICK_RUN = re.compile(r"`+")
_ONLY_BACKTICKS = re.compile(r"^`+$")
# GOWS, not \s: Go's RE2 \s is the ASCII class [\t\n\f\r ] while
# Python's matches \v and Unicode whitespace (NBSP etc.) — web text hits
# the difference (markdown.go:61-63, :260)
from .regexps import GOWS  # noqa: E402

# the same class as a set of characters, for one-character tests
_GOWS_CHARS = frozenset("\t\n\f\r ")
_PUNCT = re.compile(r"[.,!?;:)]")
_LANG_CLASS = re.compile(r"language-([a-zA-Z0-9_-]+)")
_CODE_EDGES = re.compile(r"^" + GOWS + r"*\n|" + GOWS + r"+$")
_TRAILING_NL = re.compile(r"\n+$")
_MANY_NL = re.compile(r"\n{3,}")

_BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 ul ol li pre blockquote hr table div".split()
)
_IGNORED_TAGS = frozenset(
    "script style nav aside header footer form button iframe object "
    "embed applet link meta title svg".split()
)
_HEADING_LEVEL = {f"h{i}": i for i in range(1, 7)}
# tags whose conversion reads no child conversion
_LEAF_TAGS = frozenset(("pre", "img", "hr", "br")) | _IGNORED_TAGS


def escape_markdown(text: str) -> str:
    """Decode common entities, then backslash-escape Markdown specials
    (markdown.go:23-36)."""
    decoded = (
        text.replace("&amp;", "&")
        .replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&#039;", "'")
        .replace("&nbsp;", " ")
    )
    return _MD_SPECIAL.sub(r"\\\1", decoded)


def _join_parts(parts: list[str]) -> str:
    """Smart inline joining (markdown.go:47-84): single space between
    parts unless either side already has whitespace or the next part
    starts with closing punctuation.

    Only the last character of the result so far and the first of the
    part are tested, and the result is joined once, so the join stays
    linear in the article's length."""
    out: list[str] = []
    for part in parts:
        if part == "" or part.strip() == "":
            continue
        if (
            out
            and out[-1][-1] not in _GOWS_CHARS
            and part[0] not in _GOWS_CHARS
            and not _PUNCT.match(part[0])
        ):
            out.append(" ")
        out.append(part)
    return "".join(out)


def _children(item: tuple) -> list[tuple]:
    """The (node, parent_tag, depth) items whose conversions ``_convert``
    reads for ``item``: each tag converts each child it uses once."""
    node, _, depth = item
    if not isinstance(node, VElement):
        return []
    tag = node.tag_name
    if tag in _LEAF_TAGS:
        return []
    if tag in ("ul", "ol"):
        return [
            (child, tag, depth + 1)
            for child in node.children
            if isinstance(child, VElement) and child.tag_name == "li"
        ]
    if tag == "li":
        return [
            (child, tag, depth + 1 if _is_list(child) else depth)
            for child in node.children
        ]
    if tag == "table":
        return [
            (cell, cell.tag_name, depth + 1)
            for row in _table_rows(node)
            for cell in row
        ]
    child_depth = depth + 1 if tag == "blockquote" else depth
    return [(child, tag, child_depth) for child in node.children]


def _is_list(node: VNode) -> bool:
    return isinstance(node, VElement) and node.tag_name in ("ul", "ol")


def _convert(item: tuple, results: Sequence[str]) -> str:
    """markdown.go:120-525: the conversion of ``item`` from the
    conversions of ``_children(item)``."""
    node, parent_tag, depth = item
    if isinstance(node, VText):
        if parent_tag == "code":
            return node.text_content
        text = _SPACE_RUN.sub(" ", node.text_content)
        if text == "":
            return ""
        return escape_markdown(text)
    if not isinstance(node, VElement):
        return ""

    tag = node.tag_name
    if tag == "pre":
        code_child: Optional[VElement] = next(
            (
                c
                for c in node.children
                if isinstance(c, VElement) and c.tag_name == "code"
            ),
            None,
        )
        raw = extract_text_content(
            code_child if code_child is not None else node
        )
        lang = ""
        if code_child is not None:
            m = _LANG_CLASS.search(code_child.attributes.get("class", ""))
            if m:
                lang = m.group(1)
        cleaned = _CODE_EDGES.sub("", raw)
        fence = "````" if lang in ("markdown", "md") else "```"
        return f"{fence}{lang}\n{cleaned}\n{fence}"

    if tag in ("ul", "ol"):
        items = [md for md in results if md.strip()]
        if not items:
            return ""
        list_content = "\n".join(items)
        if depth > 1:
            indent = "  " * (depth - 1)
            list_content = "\n".join(
                indent + line if line.strip() else line
                for line in list_content.split("\n")
            )
        return list_content + "\n\n"

    if tag == "li":
        marker = "1." if parent_tag == "ol" else "-"
        main_parts: list[str] = []
        nested_parts: list[str] = []
        for child, md in zip(node.children, results):
            if _is_list(child):
                if md:
                    nested_parts.append(_TRAILING_NL.sub("", md))
            else:
                main_parts.append(md)
        main = _join_parts(main_parts).strip()
        result = f"{marker} {main}"
        if nested_parts:
            if main:
                result += "\n"
            result += "\n".join(nested_parts)
        return result

    if tag == "img":
        alt = escape_markdown(node.attributes.get("alt", ""))
        src = node.attributes.get("src", "")
        title_attr = node.attributes.get("title", "")
        title = f' "{escape_markdown(title_attr)}"' if title_attr else ""
        if parent_tag == "a":
            return alt if alt.strip() else src
        return f"![{alt}]({src}{title})"

    if tag == "hr":
        return "---\n\n"
    if tag == "br":
        return "  \n"

    if tag == "table":
        return _convert_table(node, [md.strip() for md in results])

    if tag in _IGNORED_TAGS:
        return ""

    children_md = _join_parts(results)
    trimmed = children_md.strip()

    if tag in _HEADING_LEVEL:
        return f"{'#' * _HEADING_LEVEL[tag]} {trimmed}\n\n"

    if tag == "p":
        return f"{trimmed}\n\n" if trimmed else ""

    if tag in ("strong", "b"):
        return f"**{children_md}**"
    if tag in ("em", "i"):
        return f"*{children_md}*"

    if tag == "code":
        content = children_md
        longest = max(
            (len(m) for m in _BACKTICK_RUN.findall(content)), default=0
        )
        delimiter = "`" * (longest + 1)
        if _ONLY_BACKTICKS.match(content) and len(content) >= len(delimiter):
            delimiter = "`" * (len(content) + 1)
        needs_padding = (
            content.startswith("`")
            or content.endswith("`")
            or bool(_ONLY_BACKTICKS.match(content))
            or content.strip() == ""
        )
        final = f" {content} " if needs_padding else content
        return f"{delimiter}{final}{delimiter}"

    if tag == "blockquote":
        content = children_md.strip()
        if not content:
            return ""
        quoted = [
            ">" if line.strip() == "" else f"> {line}"
            for line in content.split("\n")
        ]
        return "\n".join(quoted) + "\n\n"

    if tag == "a":
        href = node.attributes.get("href", "")
        link_content = children_md.replace("\n", " ").strip()
        if len(node.children) == 1:
            only = node.children[0]
            if isinstance(only, VElement) and only.tag_name == "img":
                alt = only.attributes.get("alt", "")
                src = only.attributes.get("src", "")
                display = alt if alt.strip() else src
                return f"[{display}]({href})"
        return f"[{link_content}]({href})"

    if tag in _BLOCK_TAGS:
        return f"{trimmed}\n\n" if trimmed else ""
    return children_md


def _table_rows(node: VElement) -> list[list[VElement]]:
    """The cells a table renders, by row: first the header (the ``th`` of
    the first ``thead`` row, or none), then the ``td``/``th`` of each
    ``tbody`` row, or of each row right under the table
    (markdown.go:416-506)."""
    thead = tbody = None
    for child in node.children:
        if isinstance(child, VElement):
            if child.tag_name == "thead":
                thead = child
            elif child.tag_name == "tbody":
                tbody = child

    header: list[VElement] = []
    if thead is not None:
        for child in thead.children:
            if isinstance(child, VElement) and child.tag_name == "tr":
                header = [
                    th
                    for th in child.children
                    if isinstance(th, VElement) and th.tag_name == "th"
                ]
                break  # first tr only

    container = tbody if tbody is not None else node
    return [header] + [
        [
            td
            for td in child.children
            if isinstance(td, VElement) and td.tag_name in ("td", "th")
        ]
        for child in container.children
        if isinstance(child, VElement) and child.tag_name == "tr"
    ]


def _convert_table(node: VElement, cells: list[str]) -> str:
    """markdown.go:416-506, from the trimmed conversions of the cells
    ``_table_rows`` lists, in its order."""
    converted = iter(cells)
    header_row, *body_rows = [
        list(islice(converted, len(row))) for row in _table_rows(node)
    ]
    max_cols = max(map(len, (header_row, *body_rows)))

    out: list[str] = []
    separator = " | ".join(["---"] * max_cols)
    if header_row:
        header_row += [""] * (max_cols - len(header_row))
        out.append("| " + " | ".join(header_row) + " |")
        out.append("| " + separator + " |")
    elif body_rows and max_cols > 0:
        out.append("| " + separator + " |")
    for row in body_rows:
        row += [""] * (max_cols - len(row))
        out.append("| " + " | ".join(row) + " |")

    if out:
        return "\n".join(out).strip() + "\n\n"
    return ""


def to_markdown(element: Optional[VElement]) -> str:
    """Main entry (markdown.go:536-551)."""
    if element is None:
        return ""
    markdown = fold((element, "", 0), _children, _convert).strip()
    return _MANY_NL.sub("\n\n", markdown)
