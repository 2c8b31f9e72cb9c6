"""Markdown sink tests, ported table-for-table from the reference
(/root/reference/markdown_test.go:10-382)."""

from __future__ import annotations

import time

import pytest

from go_readability_spark.readability import markdown as markdown_module
from go_readability_spark.readability.fmt import count_nodes
from go_readability_spark.readability.markdown import (
    _join_parts,
    escape_markdown,
    to_markdown,
)
from go_readability_spark.readability.parser import parse_html


def md(html: str) -> str:
    doc = parse_html(html, "")
    return to_markdown(doc.body)


CASES = [
    (
        "basic HTML to Markdown",
        """
        <h1>Title</h1>
        <p>This is a paragraph with <strong>bold</strong> and <em>italic</em> text.</p>
        <p>Another paragraph with a <a href="http://example.com">link</a>.</p>
        """,
        "# Title\n\nThis is a paragraph with **bold** and *italic* text."
        "\n\nAnother paragraph with a [link](http://example.com).",
    ),
    (
        "headings",
        "<h1>H1</h1><h2>H2</h2><h3>H3</h3><h4>H4</h4><h5>H5</h5><h6>H6</h6>",
        "# H1\n\n## H2\n\n### H3\n\n#### H4\n\n##### H5\n\n###### H6",
    ),
    (
        "unordered lists",
        "<ul><li>Item 1</li><li>Item 2</li><li>Item 3</li></ul>",
        "- Item 1\n- Item 2\n- Item 3",
    ),
    (
        "ordered lists",
        "<ol><li>First</li><li>Second</li><li>Third</li></ol>",
        "1. First\n1. Second\n1. Third",
    ),
    (
        "inline code",
        "<p>Use <code>const</code> for constants.</p>",
        "Use `const` for constants.",
    ),
    (
        "code blocks",
        '<pre><code>function greet() {\n  console.log("Hello");\n}</code></pre>',
        '```\nfunction greet() {\n  console.log("Hello");\n}\n```',
    ),
    (
        "code blocks with language class",
        '<pre><code class="language-javascript">function greet() {\n'
        '  console.log("Hello");\n}</code></pre>',
        '```javascript\nfunction greet() {\n  console.log("Hello");\n}\n```',
    ),
    (
        "blockquotes",
        "<blockquote>This is a quote.</blockquote>",
        "> This is a quote.",
    ),
    ("images", '<img src="image.png" alt="Alt text">', "![Alt text](image.png)"),
    ("horizontal rules", "<hr>", "---"),
    (
        "ignore script and style tags",
        "<p>Content</p><script>alert('ignored');</script>"
        "<style>.ignored { color: red; }</style><p>More Content</p>",
        "Content\n\nMore Content",
    ),
    (
        "nested lists (ul)",
        """
        <ul>
            <li>Item 1</li>
            <li>
                Item 2
                <ul>
                    <li>Nested 2.1</li>
                    <li>Nested 2.2</li>
                </ul>
            </li>
            <li>Item 3</li>
        </ul>
        """,
        "- Item 1\n- Item 2\n  - Nested 2.1\n  - Nested 2.2\n- Item 3",
    ),
    (
        "nested lists (ol)",
        """
        <ol>
            <li>First</li>
            <li>
                Second
                <ol>
                    <li>Nested 2.1</li>
                    <li>Nested 2.2</li>
                </ol>
            </li>
            <li>Third</li>
        </ol>
        """,
        "1. First\n1. Second\n  1. Nested 2.1\n  1. Nested 2.2\n1. Third",
    ),
    (
        "image links",
        '<a href="http://example.com"><img src="image.png" alt="Alt text"></a>',
        "[Alt text](http://example.com)",
    ),
    (
        "simple table",
        """
        <table>
            <thead>
                <tr><th>Header 1</th><th>Header 2</th></tr>
            </thead>
            <tbody>
                <tr><td>Data 1</td><td>Data 2</td></tr>
                <tr><td>Data 3</td><td>Data 4 <strong>bold</strong></td></tr>
            </tbody>
        </table>
        """,
        "| Header 1 | Header 2 |\n| --- | --- |\n| Data 1 | Data 2 |\n"
        "| Data 3 | Data 4 **bold** |",
    ),
    (
        "table without thead",
        """
        <table>
            <tbody>
                <tr><td>Row 1, Cell 1</td><td>Row 1, Cell 2</td></tr>
                <tr><td>Row 2, Cell 1</td><td>Row 2, Cell 2</td></tr>
            </tbody>
        </table>
        """,
        "| --- | --- |\n| Row 1, Cell 1 | Row 1, Cell 2 |\n"
        "| Row 2, Cell 1 | Row 2, Cell 2 |",
    ),
    (
        "table with varying columns (padded)",
        """
        <table>
            <thead><tr><th>A</th><th>B</th><th>C</th></tr></thead>
            <tbody>
                <tr><td>1</td><td>2</td></tr>
                <tr><td>3</td><td>4</td><td>5</td></tr>
            </tbody>
        </table>
        """,
        "| A | B | C |\n| --- | --- | --- |\n| 1 | 2 |  |\n| 3 | 4 | 5 |",
    ),
    (
        "nested blockquotes",
        """
        <blockquote>
            <p>Outer quote.</p>
            <blockquote><p>Inner quote.</p></blockquote>
            <p>Outer quote continued.</p>
        </blockquote>
        """,
        "> Outer quote.\n>\n> > Inner quote.\n>\n> Outer quote continued.",
    ),
]


@pytest.mark.parametrize("name,html,expected", CASES, ids=[c[0] for c in CASES])
def test_to_markdown(name, html, expected):
    assert md(html) == expected


class TestEscapeMarkdown:
    """markdown_test.go:295-322."""

    def test_escape_asterisks(self):
        assert escape_markdown("This *is* important") == r"This \*is\* important"

    def test_escape_underscores(self):
        assert escape_markdown("This _is_ important") == r"This \_is\_ important"

    def test_escape_backticks(self):
        assert escape_markdown("Use `code` here") == "Use \\`code\\` here"

    def test_escape_brackets(self):
        assert escape_markdown("This [is] a link") == r"This \[is\] a link"

    def test_escape_backslashes(self):
        assert escape_markdown("This \\ is a backslash") == "This \\\\ is a backslash"

    def test_decode_entities(self):
        assert (
            escape_markdown("This &amp; that &lt; this &gt; that")
            == "This & that < this > that"
        )


class TestJoinParts:
    """markdown_test.go:343-370."""

    def test_empty_parts(self):
        assert _join_parts([]) == ""

    def test_single_part(self):
        assert _join_parts(["Hello"]) == "Hello"

    def test_multiple_parts(self):
        assert _join_parts(["Hello", "world"]) == "Hello world"

    def test_parts_with_whitespace(self):
        assert _join_parts(["Hello ", " world"]) == "Hello  world"

    def test_parts_with_punctuation(self):
        assert _join_parts(["Hello", ". How are you", "?"]) == "Hello. How are you?"

    def test_skip_empty_parts(self):
        assert _join_parts(["Hello", "", "  ", "world"]) == "Hello world"

    def test_nbsp_is_not_go_whitespace(self):
        """Go RE2 \\s is ASCII [\\t\\n\\f\\r ]: a part ending in NBSP
        does NOT count as whitespace-terminated, so a separating space
        is still inserted (markdown.go:61-63). Python's \\s would have
        matched the NBSP and swallowed the space."""
        assert _join_parts(["Hello\u00a0", "world"]) == "Hello\u00a0 world"
        assert _join_parts(["Hello", "\u00a0world"]) == "Hello \u00a0world"

    def test_only_the_edge_characters_count(self):
        """A part joins on the last character of the result so far and
        its own first character: a trailing newline or tab suppresses
        the space, \\v (not Go whitespace) does not, and whitespace
        inside a part does not matter."""
        assert _join_parts(["Hello\n", "world"]) == "Hello\nworld"
        assert _join_parts(["a b\t", "c d"]) == "a b\tc d"
        assert _join_parts(["Hello\v", "world"]) == "Hello\v world"
        assert _join_parts(["a \nb", "c", "\fd"]) == "a \nb c\fd"

    def test_inline_code_delimiters(self):
        assert md("<p>has <code>a`b</code> ticks</p>") == "has ``a`b`` ticks"
        assert md("<p><code>`</code></p>") == "`` ` ``"


def test_markdown_lang_fence():
    got = md('<pre><code class="language-md">- a</code></pre>')
    assert got == "````md\n- a\n````"


def test_none_element():
    assert to_markdown(None) == ""


def test_to_markdown_is_linear_in_article_length():
    """to_markdown scales linearly: time(4n) / time(n) <= 6, min of 3, at
    an n that takes well over 50 ms. Linear code gives about 4; joining
    each part by rescanning the whole growing result gave about 16."""
    para = (
        '<p><strong>Lead sentence, here.</strong> Some body text with a '
        '<a href="/ref">link</a> and <em>emphasis</em>.</p>'
    )

    def best_of_3(n):
        body = parse_html(f"<html><body><article>{para * n}</article></body></html>").body
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            to_markdown(body)
            times.append(time.perf_counter() - t0)
        return min(times)

    small, large = best_of_3(1500), best_of_3(6000)
    assert small >= 0.02, small  # the sizes still measure the joiner
    assert large / small <= 6, (small, large)


@pytest.mark.parametrize(
    "html",
    [
        "<ul><li>x" * 8,
        "<ol><li>x" * 4 + "<ul><li>x" * 4,
        "<table><tr><td>x" * 12,
        "<table><thead><tr><th>h</th></tr></thead><tbody><tr><td><ul><li>x" * 6,
    ],
    ids=["lists", "mixed-lists", "tables", "tables-in-lists"],
)
def test_each_node_is_converted_at_most_once(html, monkeypatch):
    """Nested lists and tables convert in linear time: each node's
    conversion runs at most once. Converting every child before looking
    at the tag, then converting a list's items, a list item's children
    or a table's cells again, took about 4^k conversions for k nested
    lists (``<ul><li>x`` x10 took 8 s)."""
    body = parse_html(html, "").body
    calls = 0
    convert = markdown_module._convert

    def counted(*args):
        nonlocal calls
        calls += 1
        return convert(*args)

    monkeypatch.setattr(markdown_module, "_convert", counted)
    assert to_markdown(body).count("x") == html.count("x")
    assert 0 < calls <= count_nodes(body)
