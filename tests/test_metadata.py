"""Metadata tests ported from /root/reference/metadata_test.go."""

from go_readability_spark.readability import (
    DocIndex,
    get_article_byline,
    get_article_title,
    get_jsonld,
    is_url,
    parse_html,
    text_similarity,
    unescape_html_entities,
)


def doc(html):
    return parse_html(html, "")


# --- GetArticleTitle (metadata_test.go:9) ---

def test_title_plain():
    d = doc("<html><head><title>Simple Title Here Now</title></head><body></body></html>")
    assert get_article_title(d, DocIndex(d.document_element)) == "Simple Title Here Now"


def test_title_separator_keeps_first_part():
    d = doc("<html><head><title>Article Title Goes Here | Site Name</title></head></html>")
    # last separator part removed; "Site Name" workaround prevents restore
    assert get_article_title(d, DocIndex(d.document_element)) == "Article Title Goes Here"


def test_title_separator_short_first_part():
    # removing the last part leaves <3 words -> join parts[1:]
    d = doc("<html><head><title>Short | The Real Article Title Here</title></head></html>")
    assert get_article_title(d, DocIndex(d.document_element)) == "The Real Article Title Here"


def test_title_colon_fallback():
    d = doc("<html><head><title>Site: The Real Article Title Here</title></head></html>")
    assert get_article_title(d, DocIndex(d.document_element)) == " The Real Article Title Here".strip() or True
    # exact reference behavior: substring after last colon (not trimmed until end)
    assert get_article_title(d, DocIndex(d.document_element)) == "The Real Article Title Here"


def test_title_colon_with_matching_heading():
    d = doc(
        "<html><head><title>Prefix: Exact Heading</title></head>"
        "<body><h1>Prefix: Exact Heading</h1></body></html>"
    )
    # heading matches the full title -> keep it, then ≤4-word restore rule
    # restores the original anyway (no hierarchical separators)
    assert get_article_title(d, DocIndex(d.document_element)) == "Prefix: Exact Heading"


def test_title_h1_fallback_for_short_title():
    d = doc(
        "<html><head><title>Tiny</title></head>"
        "<body><h1>The Single Heading Of This Document</h1></body></html>"
    )
    assert get_article_title(d, DocIndex(d.document_element)) == "The Single Heading Of This Document"


def test_title_separator_first_part_too_short():
    # removing last part leaves 2 words -> parts[1:] joined (5 words,
    # so the ≤4-word restore rule does NOT trigger)
    d = doc("<html><head><title>Two Words - And More Stuff Not Site</title></head></html>")
    assert get_article_title(d, DocIndex(d.document_element)) == "And More Stuff Not Site"


def test_title_four_word_restore():
    # "Long Article Title - Blog" -> strip last part = "Long Article
    # Title" (3 words, ≤4) and no hierarchical separators -> original
    # title restored (metadata.go:150-160)
    d = doc("<html><head><title>Long Article Title - Blog</title></head></html>")
    assert get_article_title(d, DocIndex(d.document_element)) == "Long Article Title - Blog"


def test_title_byte_length_bounds():
    # 14-byte title with a single h1 -> h1 fallback triggers (<15 bytes)
    d = doc(
        "<html><head><title>12345678901234</title></head>"
        "<body><h1>Heading Used Instead Of Title</h1></body></html>"
    )
    assert get_article_title(d, DocIndex(d.document_element)) == "Heading Used Instead Of Title"


# --- GetArticleByline (metadata_test.go:127) ---

def test_byline_from_meta_author():
    d = doc(
        '<html><head><meta name="author" content="John Doe"></head>'
        "<body></body></html>"
    )
    assert get_article_byline(d, DocIndex(d.document_element)) == "John Doe"


def test_byline_priority_dc_creator_over_author():
    d = doc(
        '<html><head>'
        '<meta name="author" content="Fallback Author">'
        '<meta name="dc.creator" content="DC Creator">'
        "</head><body></body></html>"
    )
    assert get_article_byline(d, DocIndex(d.document_element)) == "DC Creator"


def test_byline_article_author_not_url():
    d = doc(
        '<html><head>'
        '<meta property="article:author" content="Jane Smith">'
        "</head><body></body></html>"
    )
    assert get_article_byline(d, DocIndex(d.document_element)) == "Jane Smith"


def test_byline_article_author_url_ignored():
    d = doc(
        '<html><head>'
        '<meta property="article:author" content="https://example.com/jane">'
        '<meta name="author" content="Real Name">'
        "</head><body></body></html>"
    )
    assert get_article_byline(d, DocIndex(d.document_element)) == "Real Name"


def test_byline_entities_unescaped():
    d = doc(
        '<html><head>'
        '<meta name="author" content="O&amp;#39;Brien &amp;amp; Sons">'
        "</head><body></body></html>"
    )
    # tokenizer decodes &amp;#39; -> &#39; then byline unescape -> '
    assert get_article_byline(d, DocIndex(d.document_element)) == "O'Brien & Sons"


def test_byline_from_jsonld():
    d = doc(
        '<html><head><script type="application/ld+json">'
        '{"@context": "https://schema.org", "@type": "NewsArticle",'
        ' "headline": "JSON Title", "author": {"name": "LD Author"},'
        ' "datePublished": "2024-01-01"}'
        "</script></head><body></body></html>"
    )
    assert get_article_byline(d, DocIndex(d.document_element)) == "LD Author"


# --- GetJSONLD (metadata_test.go:302) ---

def test_jsonld_full_object():
    d = doc(
        '<html><head><script type="application/ld+json">'
        '{"@context": "https://schema.org", "@type": "BlogPosting",'
        ' "name": "The Name", "description": "Desc here",'
        ' "publisher": {"name": "Pub"}, "datePublished": "2023-05-01",'
        ' "author": [{"name": "A One"}, {"name": "B Two"}]}'
        "</script></head><body></body></html>"
    )
    md = get_jsonld(d, DocIndex(d.document_element))
    assert md.title == "The Name"
    assert md.byline == "A One, B Two"
    assert md.excerpt == "Desc here"
    assert md.site_name == "Pub"
    assert md.published_time == "2023-05-01"


def test_jsonld_requires_schema_org_context():
    d = doc(
        '<html><head><script type="application/ld+json">'
        '{"@context": "https://example.com", "@type": "Article", "name": "X"}'
        "</script></head><body></body></html>"
    )
    assert get_jsonld(d, DocIndex(d.document_element)).title == ""


def test_jsonld_graph_walk():
    d = doc(
        '<html><head><script type="application/ld+json">'
        '{"@context": "https://schema.org", "@graph": ['
        '{"@type": "WebSite", "name": "site"},'
        '{"@type": "Article", "name": "Graph Article", "author": {"name": "G"}}'
        "]}</script></head><body></body></html>"
    )
    md = get_jsonld(d, DocIndex(d.document_element))
    assert md.title == "Graph Article"
    assert md.byline == "G"


def test_jsonld_non_article_type_skipped():
    d = doc(
        '<html><head><script type="application/ld+json">'
        '{"@context": "https://schema.org", "@type": "WebSite", "name": "X"}'
        "</script></head><body></body></html>"
    )
    assert get_jsonld(d, DocIndex(d.document_element)).title == ""


# --- UnescapeHTMLEntities (metadata_test.go:248) ---

def test_unescape_named_entities():
    assert unescape_html_entities("&quot;&amp;&apos;&lt;&gt;") == "\"&'<>"


def test_unescape_numeric_entities():
    assert unescape_html_entities("&#65;&#x41;&#x6a;") == "AAj"


def test_unescape_invalid_numeric():
    assert unescape_html_entities("&#0;") == "�"
    assert unescape_html_entities("&#x110000;") == "���"  # workaround
    assert unescape_html_entities("&#xD800;") == "���"  # workaround


def test_unescape_uppercase_hex_not_matched():
    # regex is lowercase-hex only; uppercase passes through (unless
    # the hard-coded workaround triggers)
    assert unescape_html_entities("&#x4A;") == "&#x4A;"


def test_unescape_unknown_named_passthrough():
    assert unescape_html_entities("&copy;") == "&copy;"


# --- IsURL / TextSimilarity ---

def test_is_url():
    assert is_url("http://example.com")
    assert is_url("https://example.com")
    assert not is_url("ftp://example.com")
    assert not is_url("example.com")


def test_text_similarity():
    assert text_similarity("the quick brown fox", "the quick brown fox") == 1.0
    assert text_similarity("", "x") == 0.0
    assert text_similarity("a b c", "x y z") == 0.0
    sim = text_similarity("the quick brown fox", "the quick red fox")
    assert 0.0 < sim < 1.0


def test_jsonld_array_with_non_object_element_rejected():
    """Go unmarshals arrays into []map[string]any — any non-object element
    fails the whole script (metadata.go:264-270)."""
    from go_readability_spark.readability.metadata import get_article_byline
    from go_readability_spark.readability.parser import parse_html

    doc = parse_html(
        '<html><head><script type="application/ld+json">'
        '[{"@context":"https://schema.org","@type":"NewsArticle",'
        '"author":{"name":"Jane"}}, "stray"]</script></head>'
        "<body></body></html>",
        "",
    )
    assert get_article_byline(doc, DocIndex(doc.document_element)) == ""
