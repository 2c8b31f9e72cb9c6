"""End-to-end extraction tests: the reference's TestExtract cases
(core_test.go:740-880) plus the fixture-001 golden
(site_extraction_test.go:94-155)."""

import pathlib
import sys

import pytest

from go_readability_spark.readability import (
    PAGE_TYPE_ARTICLE,
    PAGE_TYPE_OTHER,
    DocIndex,
    ReadabilityOptions,
    extract,
    extract_content,
    find_structural_elements,
    parse_html,
    preprocess_document,
    to_html,
)

FIXTURE_001 = pathlib.Path(__file__).parent / "fixtures" / "001" / "source.html"


def test_extract_simple_article():
    """core_test.go:748-806 'simple article' — exact expectations."""
    html = """<!DOCTYPE html>
<html>
<head>
  <title>Test Article</title>
  <meta name="author" content="Test Author">
</head>
<body>
  <article>
    <h1>Article Heading</h1>
    <p>This is a test article with enough content to be considered an article.
    It has multiple sentences and paragraphs to ensure it passes the content threshold.
    Lorem ipsum dolor sit amet, consectetur adipiscing elit. Sed do eiusmod tempor
    incididunt ut labore et dolore magna aliqua. Ut enim ad minim veniam, quis nostrud
    exercitation ullamco laboris nisi ut aliquip ex ea commodo consequat.</p>
    <p>Second paragraph with more content to ensure it's long enough.
    Duis aute irure dolor in reprehenderit in voluptate velit esse cillum dolore eu fugiat nulla pariatur.
    Excepteur sint occaecat cupidatat non proident, sunt in culpa qui officia deserunt mollit anim id est laborum.</p>
  </article>
</body>
</html>"""
    result = extract(html, ReadabilityOptions(char_threshold=500, nb_top_candidates=5))
    assert result.title == "Test Article"
    assert result.byline == "Test Author"
    assert result.page_type == PAGE_TYPE_ARTICLE
    assert result.root is not None
    assert result.root.tag_name == "article"
    assert result.node_count > 0


def test_extract_forced_other():
    """core_test.go:812-867 'non-article page'."""
    html = """<!DOCTYPE html>
<html>
<head>
  <title>Index Page</title>
</head>
<body>
  <div class="navigation">
    <ul>
      <li><a href="#">Link 1</a></li>
      <li><a href="#">Link 2</a></li>
      <li><a href="#">Link 3</a></li>
    </ul>
  </div>
  <div class="items">
    <div class="item">
      <h2><a href="#">Item 1</a></h2>
      <p>Short description</p>
    </div>
    <div class="item">
      <h2><a href="#">Item 2</a></h2>
      <p>Short description</p>
    </div>
    <div class="item">
      <h2><a href="#">Item 3</a></h2>
      <p>Short description</p>
    </div>
  </div>
</body>
</html>"""
    result = extract(html, ReadabilityOptions(forced_page_type=PAGE_TYPE_OTHER))
    assert result.title == "Index Page"
    assert result.page_type == PAGE_TYPE_OTHER
    assert result.root is None
    assert result.node_count == 0


def test_extract_default_forces_article_page_type():
    """Quirk: Extract defaults ForcedPageType to 'article'
    (core.go:46-47), so even junk pages report page_type='article'."""
    result = extract("<html><body><p>tiny</p></body></html>", ReadabilityOptions())
    assert result.page_type == PAGE_TYPE_ARTICLE
    assert result.root is None  # gate failed


def test_structural_fallback_when_gate_fails():
    """core.go:116-118: article page without enough content gets
    header/footer/significant nodes."""
    html = (
        "<html><body>"
        '<div id="header">site header</div>'
        '<main><p>Too short to pass the five hundred byte gate.</p></main>'
        '<div class="site-footer">footer text</div>'
        "</body></html>"
    )
    result = extract(html, ReadabilityOptions())
    assert result.root is None
    assert result.header is not None and result.header.id == "header"
    assert result.footer is not None
    assert any(n.tag_name == "main" for n in result.other_significant_nodes)


def test_find_structural_elements_single_header_tag():
    # note: call on a NON-preprocessed doc (header would be removed)
    d = parse_html(
        "<html><body><header>h</header><article>a</article>"
        "<footer>f</footer></body></html>"
    )
    header, footer, nodes = find_structural_elements(d, DocIndex(d.document_element))
    assert header is not None and header.tag_name == "header"
    assert footer is not None and footer.tag_name == "footer"


def test_body_detached_as_ad_is_still_scored():
    """A body whose class matches an ad pattern is detached from <html> by
    preprocessing (preprocess.go:106-122 includes the body itself), and
    the read phase still scores it through ``doc.body``."""
    html = (
        '<html><head><title>T</title></head><body class="advertisement">'
        "<div><p>" + "Some words, here and there. " * 40 + "</p></div>"
        "</body></html>"
    )
    d = parse_html(html)
    preprocess_document(d)
    assert d.body not in d.document_element.children
    result = extract(html, ReadabilityOptions())
    assert result.title == "T"
    assert result.root is not None and result.root.tag_name == "div"
    assert result.node_count == 3


def test_fixture_001_golden_metadata():
    """site_extraction_test.go:94-155; expected-metadata.json.

    byline: the reference itself extracts "" here (itemprop markup is not
    parsed; mismatch vs the Mozilla golden is warning-only,
    site_extraction_test.go:141-149).
    """
    html = FIXTURE_001.read_text(encoding="utf-8")
    result = extract(html, ReadabilityOptions())
    assert result.title == "Get your Frontend JavaScript Code Covered | Code"
    assert result.byline == ""
    assert result.page_type == PAGE_TYPE_ARTICLE
    assert result.root is not None
    assert result.root.tag_name == "article"
    # the reference's E2E content check (site_extraction_test.go:126-128)
    assert "<section>" in to_html(result.root)


def test_fixture_001_content_matches_mozilla_golden():
    """Stronger than the reference's own E2E check: the reference only
    asserts ``<section>`` containment + title equality against the
    vendored Mozilla readability golden (site_extraction_test.go:125-131,
    'may not produce identical HTML'). Our extraction reproduces the
    golden's text content WORD-FOR-WORD — whitespace-normalized equality
    of the full extracted text (3,816 chars), not containment. This pins
    the whole chain (parser → preprocess → scoring → accept gate →
    pruning) to the upstream behavior at content level."""
    import re

    from go_readability_spark.readability.fmt import extract_text_content
    from go_readability_spark.readability.parser import parse_html

    html = FIXTURE_001.read_text(encoding="utf-8")
    result = extract(html, ReadabilityOptions())
    golden_doc = parse_html(
        FIXTURE_001.with_name("expected.html").read_text(encoding="utf-8")
    )
    norm = lambda s: re.sub(r"\s+", " ", s).strip()  # noqa: E731
    ours = norm(extract_text_content(result.root))
    golden = norm(extract_text_content(golden_doc.body))
    assert len(golden) > 3000  # the golden actually has content
    assert ours == golden


def test_fixture_001_span_sequence_matches_mozilla_golden():
    """The north-rule invariant — span-sequence equality on
    (kind, text, media_ref, order) — instantiated literally against the
    reference's vendored Mozilla golden: our extracted article and the
    golden fragment emit the SAME 23-span sequence (text spans compared
    whitespace-normalized; the golden is pretty-printed)."""
    import re

    from go_readability_spark.readability.parser import parse_html
    from go_readability_spark.spans import element_to_spans

    html = FIXTURE_001.read_text(encoding="utf-8")
    result = extract(html, ReadabilityOptions())
    golden_doc = parse_html(
        FIXTURE_001.with_name("expected.html").read_text(encoding="utf-8")
    )
    norm = lambda s: re.sub(r"\s+", " ", s).strip()  # noqa: E731

    def seq(spans):
        out = []
        for s in spans:
            text = norm(s["text"]) if s["kind"] == "text" else s["text"]
            if s["kind"] == "text" and text == "":
                continue  # pretty-printing whitespace spans
            out.append((s["kind"], text, s["media_ref"]))
        return out

    ours = seq(element_to_spans(result.root))
    golden = seq(element_to_spans(golden_doc.body))
    assert len(ours) == len(golden) > 20
    assert ours == golden  # same kinds, same texts, same refs, same order


def test_fixture_001_classification_path():
    """With forced_page_type='' the classifier also says article."""
    html = FIXTURE_001.read_text(encoding="utf-8")
    d = parse_html(html)
    preprocess_document(d)
    result = extract_content(d, ReadabilityOptions(forced_page_type=""))
    assert result.page_type == PAGE_TYPE_ARTICLE


def test_extract_empty_and_tiny_docs():
    """syn-edge cases: never crash."""
    for html in ("", "<html></html>", "<p>x</p>", "no tags at all",
                 "<body></body>", "<html><body></body></html>"):
        result = extract(html, ReadabilityOptions())
        assert result.page_type in (PAGE_TYPE_ARTICLE, PAGE_TYPE_OTHER)


def test_extract_has_the_loops_recursion_headroom():
    """The library ``extract`` and the extraction loop raise the recursion
    limit through one helper: under the interpreter's default limit a
    1,000-deep document extracts, and gives the loop's row."""
    from go_readability_spark.operators.extract import extract_batch_rows
    from go_readability_spark.spans import KIND_TEXT, element_to_spans

    html = "<div>text, more " * 1000
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)
    try:
        article = extract(html, ReadabilityOptions())
        got = {
            "spans_out": element_to_spans(article.root),
            "meta": {
                "title": article.title,
                "byline": article.byline,
                "page_type": article.page_type,
                "node_count": article.node_count,
            },
        }
        row = extract_batch_rows(
            ["deep"],
            [[{"kind": KIND_TEXT, "text": html, "media_ref": "", "offset": 0}]],
            [len(html)],
            ReadabilityOptions(forced_page_type=PAGE_TYPE_ARTICLE),
        )[0]
    finally:
        sys.setrecursionlimit(limit)
    assert row["error"] is None
    assert article.node_count > 2000
    assert got == {"spans_out": row["spans_out"], "meta": row["meta"]}
    for name in ("candidate_count", "top_score", "link_density",
                 "is_probably_content"):
        assert getattr(article.metrics, name) == row["metrics"][name], name


def test_deep_nesting_under_the_default_recursion_limit():
    """5,000 nested ``<div>`` levels extract, rendered or not, and
    serialize, name and convert, under the interpreter's default limit of
    1,000, which the library leaves as it found it."""
    from go_readability_spark.operators.extract import extract_batch_rows
    from go_readability_spark.readability import (
        aria_tree_to_string,
        build_aria_tree,
        serialize_to_html,
        to_markdown,
    )
    from go_readability_spark.spans import KIND_TEXT

    depth = 5000
    html = "<div>text, more " * depth
    spans = [{"kind": KIND_TEXT, "text": html, "media_ref": "", "offset": 0}]
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)
    try:
        plain, rendered = (
            extract_batch_rows(["deep"], [spans], [len(html)], render=render)[0]
            for render in (False, True)
        )
        assert sys.getrecursionlimit() == 1000
        doc = parse_html(html, "")
        serialized = serialize_to_html(doc.body)
        aria = aria_tree_to_string(build_aria_tree(doc))
        markdown = to_markdown(doc.body)
        assert sys.getrecursionlimit() == 1000
    finally:
        sys.setrecursionlimit(limit)
    for row in (plain, rendered):
        assert row["error"] is None
        assert row["meta"]["node_count"] == 2 * depth + 1
        assert row["spans_out"] == [
            {"kind": KIND_TEXT, "text": "text, more ", "media_ref": "",
             "order": i}
            for i in range(depth)
        ]
    assert rendered["markdown"] == " ".join(["text, more"] * depth)
    assert rendered["html"].count("<div>") == depth
    assert serialized == f"<body>{html}{'</div>' * depth}</body>"
    assert aria.startswith("text: text, more") and aria.count("\n") == 1
    assert markdown == " ".join(["text, more"] * depth)
