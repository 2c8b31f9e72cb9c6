"""Metadata extraction: title, byline, JSON-LD, entity unescaping.

Ports /root/reference/metadata.go:47-493. Behavior-bearing quirks replicated
verbatim (SURVEY.md §7 hard part 3):

- the two literal test-workaround substrings in the ≤4-word title restore
  rule (metadata.go:156-157)
- the hard-coded triple-U+FFFD invalid-entity workaround (metadata.go:420-422)
- title slicing happens at separator-match offsets on the original string
  (byte offsets in Go; all offsets fall on character boundaries, so str
  slicing is equivalent), while the 15/150 length bounds are byte lengths.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from .dom import DocIndex
from .regexps import (
    CDATA_STRIP,
    HTML_ENTITY,
    JSONLD_ARTICLE_TYPES,
    NAME_PATTERN,
    NUMERIC_ENTITY,
    PROPERTY_PATTERN,
    SCHEMA_DOT_ORG,
    TITLE_HIERARCHICAL_SEPARATOR,
    TITLE_SEPARATOR,
    TITLE_SEPARATOR_STRIP,
    byte_len,
    collapse_whitespace,
)
from .vdom import VDocument

__all__ = [
    "ReadabilityMetadata",
    "get_article_title",
    "get_article_byline",
    "get_jsonld",
    "unescape_html_entities",
    "is_url",
    "text_similarity",
]

_HTML_ESCAPE_MAP = {
    "quot": '"',
    "amp": "&",
    "apos": "'",
    "lt": "<",
    "gt": ">",
}


@dataclass
class ReadabilityMetadata:
    """metadata.go:47-53."""

    title: str = ""
    byline: str = ""
    excerpt: str = ""
    site_name: str = ""
    published_time: str = ""


def _word_count(s: str) -> int:
    """strings.Fields length (splits on Unicode whitespace runs)."""
    return len(s.split())


def get_article_title(doc: VDocument, index: DocIndex) -> str:
    """Title extraction with separator handling (metadata.go:65-163);
    ``index`` is an index of ``doc.document_element``."""
    root = doc.document_element
    orig_title = ""
    title_elements = index.elements(root, "title")
    if title_elements:
        orig_title = index.inner_text(title_elements[0])
    cur_title = orig_title

    title_had_hierarchical_separators = False

    if TITLE_SEPARATOR.search(cur_title):
        title_had_hierarchical_separators = bool(
            TITLE_HIERARCHICAL_SEPARATOR.search(cur_title)
        )
        matches = list(TITLE_SEPARATOR.finditer(orig_title))
        if matches:
            cur_title = orig_title[: matches[-1].start()]
        if _word_count(cur_title) < 3:
            parts = TITLE_SEPARATOR.split(orig_title)
            if len(parts) > 1:
                cur_title = " ".join(parts[1:])
    elif ": " in cur_title:
        headings = index.elements(root, "h1") + index.elements(root, "h2")
        trimmed_title = cur_title.strip()
        match = any(
            index.inner_text(h).strip() == trimmed_title for h in headings
        )
        if not match:
            last_colon = orig_title.rfind(":")
            if last_colon != -1:
                cur_title = orig_title[last_colon + 1 :]
                if _word_count(cur_title) < 3:
                    first_colon = orig_title.find(":")
                    if first_colon != -1:
                        cur_title = orig_title[first_colon + 1 :]
                        if _word_count(orig_title[:first_colon]) > 5:
                            cur_title = orig_title
    elif byte_len(cur_title) > 150 or byte_len(cur_title) < 15:
        h_ones = index.elements(root, "h1")
        if len(h_ones) == 1:
            cur_title = index.inner_text(h_ones[0])

    cur_title = cur_title.strip()
    cur_title = collapse_whitespace(cur_title)

    cur_title_word_count = _word_count(cur_title)
    if cur_title_word_count <= 4 and (
        not title_had_hierarchical_separators
        or cur_title_word_count
        != _word_count(TITLE_SEPARATOR_STRIP.sub("", orig_title)) - 1
    ):
        # test-case workaround replicated verbatim (metadata.go:156-157)
        if (
            "Site Name" not in orig_title
            and "exceeds the 150 character limit" not in orig_title
        ):
            cur_title = orig_title

    return cur_title


def get_article_byline(doc: VDocument, index: DocIndex) -> str:
    """Byline from JSON-LD, then meta tags (metadata.go:174-240);
    ``index`` is an index of ``doc.document_element``."""
    jsonld = get_jsonld(doc, index)
    if jsonld.byline != "":
        return jsonld.byline

    values: dict[str, str] = {}
    for element in index.elements(doc.document_element, "meta"):
        element_name = element.get_attribute("name")
        element_property = element.get_attribute("property")
        content = element.get_attribute("content")
        if content == "":
            continue
        if element_property != "":
            m = PROPERTY_PATTERN.search(element_property)
            if m is not None and len(m.groups()) >= 2:
                name = m.group(0).lower().replace(" ", "")
                values[name] = content
        if element_name != "" and NAME_PATTERN.search(element_name):
            name = element_name.lower().replace(" ", "").replace(".", ":")
            values[name] = content

    byline = values.get("dc:creator", "")
    if byline == "":
        byline = values.get("dcterm:creator", "")
    if byline == "":
        byline = values.get("author", "")
    if byline == "":
        byline = values.get("parsely-author", "")

    article_author = values.get("article:author", "")
    if article_author != "" and not is_url(article_author):
        byline = article_author

    if byline != "":
        byline = unescape_html_entities(byline)
    return byline


def get_jsonld(doc: VDocument, index: DocIndex) -> ReadabilityMetadata:
    """Schema.org Article metadata from ld+json scripts
    (metadata.go:251-373); ``index`` is an index of
    ``doc.document_element``."""
    metadata = ReadabilityMetadata()
    for element in index.elements(doc.document_element, "script"):
        if element.get_attribute("type") != "application/ld+json":
            continue
        content = CDATA_STRIP.sub("", index.inner_text(element))
        parsed = None
        try:
            loaded = json.loads(content)
        except (json.JSONDecodeError, ValueError):
            continue
        if isinstance(loaded, dict):
            parsed = loaded
        elif isinstance(loaded, list):
            # Go unmarshals into []map[string]any (metadata.go:264-270):
            # ANY non-object element fails the whole unmarshal and the
            # script is skipped — replicate that strictness
            if not all(isinstance(item, dict) for item in loaded):
                continue
            for item in loaded:
                if (
                    isinstance(item.get("@type"), str)
                    and JSONLD_ARTICLE_TYPES.search(item["@type"])
                ):
                    parsed = item
                    break
            if parsed is None:
                continue
        else:
            continue

        # @context must be schema.org (metadata.go:287-298)
        context_matches = False
        context = parsed.get("@context")
        if isinstance(context, str):
            context_matches = bool(SCHEMA_DOT_ORG.search(context))
        elif isinstance(context, dict):
            vocab = context.get("@vocab")
            if isinstance(vocab, str):
                context_matches = bool(SCHEMA_DOT_ORG.search(vocab))
        if not context_matches:
            continue

        # @graph walk when @type absent (metadata.go:301-317)
        if "@type" not in parsed:
            graph = parsed.get("@graph")
            if isinstance(graph, list):
                found = False
                for item in graph:
                    if (
                        isinstance(item, dict)
                        and isinstance(item.get("@type"), str)
                        and JSONLD_ARTICLE_TYPES.search(item["@type"])
                    ):
                        parsed = item
                        found = True
                        break
                if not found:
                    continue

        item_type = parsed.get("@type")
        if not isinstance(item_type, str) or not JSONLD_ARTICLE_TYPES.search(
            item_type
        ):
            continue

        name = parsed.get("name")
        headline = parsed.get("headline")
        if isinstance(name, str) and name != "":
            metadata.title = name.strip()
        elif isinstance(headline, str) and headline != "":
            metadata.title = headline.strip()

        author = parsed.get("author")
        if isinstance(author, dict):
            author_name = author.get("name")
            if isinstance(author_name, str):
                metadata.byline = author_name.strip()
        elif isinstance(author, list) and author:
            names = [
                a["name"].strip()
                for a in author
                if isinstance(a, dict) and isinstance(a.get("name"), str)
            ]
            if names:
                metadata.byline = ", ".join(names)

        description = parsed.get("description")
        if isinstance(description, str):
            metadata.excerpt = description.strip()

        publisher = parsed.get("publisher")
        if isinstance(publisher, dict):
            publisher_name = publisher.get("name")
            if isinstance(publisher_name, str):
                metadata.site_name = publisher_name.strip()

        date_published = parsed.get("datePublished")
        if isinstance(date_published, str):
            metadata.published_time = date_published.strip()

        return metadata

    return metadata


def unescape_html_entities(s: str) -> str:
    """Named + numeric entity unescaping (metadata.go:383-425)."""
    if s == "":
        return s

    def _named(m) -> str:
        return _HTML_ESCAPE_MAP.get(m.group(1), m.group(0))

    result = HTML_ENTITY.sub(_named, s)

    def _numeric(m) -> str:
        hex_part, dec_part = m.group(1), m.group(2)
        try:
            num = int(hex_part, 16) if hex_part is not None else int(dec_part)
        except ValueError:
            return "�"
        if num == 0 or num > 0x10FFFF or 0xD800 <= num <= 0xDFFF:
            return "�"
        return chr(num)

    result = NUMERIC_ENTITY.sub(_numeric, result)

    # hard-coded invalid-entity workaround replicated verbatim
    # (metadata.go:420-422)
    if "&#xFFFFF;" in s or "&#x110000;" in s or "&#xD800;" in s:
        return "���"

    return result


def is_url(s: str) -> bool:
    """metadata.go:449-452."""
    return s.startswith("http://") or s.startswith("https://")


def text_similarity(text_a: str, text_b: str) -> float:
    """Token-overlap similarity in [0,1] (metadata.go:464-493)."""
    tokens_a = text_a.lower().split()
    tokens_b = text_b.lower().split()
    if not tokens_a or not tokens_b:
        return 0.0
    set_a = tokens_a
    uniq_b = [t for t in tokens_b if t not in set_a]
    distance_b = byte_len(" ".join(uniq_b)) / byte_len(" ".join(tokens_b))
    return 1.0 - distance_b
