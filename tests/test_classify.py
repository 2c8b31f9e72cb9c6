"""Classification tests ported from /root/reference/classify_test.go."""

from go_readability_spark.readability import (
    PAGE_TYPE_ARTICLE,
    PAGE_TYPE_OTHER,
    DocIndex,
    ReadabilityOptions,
    classify_page_type,
    extract_content,
    find_main_candidates,
    get_expected_page_type_by_url,
    is_semantic_tag,
    is_significant_node,
    parse_html,
    preprocess_document,
)
from go_readability_spark.readability.vdom import VElement


def el(tag, attrs=None):
    e = VElement(tag)
    if attrs:
        e.attributes.update(attrs)
    return e


LOREM = (
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit. Sed do "
    "eiusmod tempor incididunt ut labore et dolore magna aliqua. Ut enim "
    "ad minim veniam, quis nostrud exercitation ullamco laboris nisi ut "
    "aliquip ex ea commodo consequat. Duis aute irure dolor in "
    "reprehenderit in voluptate velit esse cillum dolore eu fugiat nulla "
    "pariatur. Excepteur sint occaecat cupidatat non proident, sunt in "
    "culpa qui officia deserunt mollit anim id est laborum."
)


def _classified(html):
    d = parse_html(html)
    preprocess_document(d)
    index = DocIndex(d.document_element)
    candidates = find_main_candidates(d, index, 5)
    return classify_page_type(d, index, candidates, 500, "")


def test_article_page_classified_article():
    html = (
        "<html><body><article><h1>Heading</h1>"
        f"<p>{LOREM}</p><p>{LOREM}</p></article></body></html>"
    )
    assert _classified(html) == PAGE_TYPE_ARTICLE


def test_link_farm_classified_other():
    items = "".join(
        f'<li><a href="/item{i}">Item number {i} with text</a></li>'
        for i in range(30)
    )
    html = f"<html><body><ul>{items}</ul></body></html>"
    assert _classified(html) == PAGE_TYPE_OTHER


def test_no_headings_classified_other():
    html = f"<html><body><div><p>{LOREM}</p></div></body></html>"
    # headingCount == 0 -> index-page characteristics -> OTHER
    assert _classified(html) == PAGE_TYPE_OTHER


def test_too_many_headings_classified_other():
    heads = "".join(f"<h2>Head {i}</h2>" for i in range(12))
    html = f"<html><body><article><h1>T</h1>{heads}<p>{LOREM}</p></article></body></html>"
    assert _classified(html) == PAGE_TYPE_OTHER


def test_forced_page_type_respected():
    html = (
        "<html><body><article><h1>Heading</h1>"
        f"<p>{LOREM}</p><p>{LOREM}</p></article></body></html>"
    )
    d = parse_html(html)
    preprocess_document(d)
    art = extract_content(d, ReadabilityOptions(forced_page_type="other"))
    assert art.page_type == PAGE_TYPE_OTHER


def test_is_significant_node():
    assert is_significant_node(el("header"))
    assert is_significant_node(el("nav"))
    assert is_significant_node(el("div", {"role": "banner"}))
    assert is_significant_node(el("div", {"class": "site-footer"}))
    assert is_significant_node(el("div", {"id": "main"}))
    assert not is_significant_node(el("div", {"class": "random-thing"}))
    assert not is_significant_node(el("p"))


def test_is_semantic_tag():
    assert is_semantic_tag(el("main"))
    assert is_semantic_tag(el("article"))
    assert is_semantic_tag(el("div", {"class": "page-content"}))
    assert is_semantic_tag(el("div", {"id": "content-area"}))
    parent = el("div")
    parent.append_child(el("article"))
    assert is_semantic_tag(parent)
    assert not is_semantic_tag(el("div", {"class": "misc"}))


def test_get_expected_page_type_by_url():
    assert get_expected_page_type_by_url("https://ex.com/articles/foo") == PAGE_TYPE_ARTICLE
    assert get_expected_page_type_by_url("https://ex.com/a/b/c") == PAGE_TYPE_ARTICLE
    assert get_expected_page_type_by_url("https://ex.com/12345") == PAGE_TYPE_ARTICLE
    assert get_expected_page_type_by_url("https://ex.com/post-2024.html") == PAGE_TYPE_ARTICLE
    assert get_expected_page_type_by_url("https://ex.com/") == PAGE_TYPE_OTHER
    assert get_expected_page_type_by_url("https://ex.com/about") == PAGE_TYPE_OTHER


def test_analyze_url_pattern():
    """classify.go:370-398 — verbatim Japanese debug labels."""
    from go_readability_spark.readability.classify import analyze_url_pattern

    assert analyze_url_pattern("https://ex.com/") == "末尾なし"
    assert analyze_url_pattern("https://ex.com/12345") == "数字のみ (12345)"
    assert analyze_url_pattern("https://ex.com/12345.html") == "数字のみ (12345)"
    assert analyze_url_pattern("https://ex.com/post-2024") == "英数字混合 (post-2024)"
    assert analyze_url_pattern("https://ex.com/about") == "英字のみ (about)"
    assert analyze_url_pattern("https://ex.com/ページ") == "その他 (ページ)"
    # Go regexp \d is ASCII-only: full-width / Arabic-Indic digit
    # segments are その他, not 数字のみ (Python \d would match them)
    assert analyze_url_pattern("https://ex.com/１２３４５") == "その他 (１２３４５)"
    assert analyze_url_pattern("https://ex.com/٣٤٥") == "その他 (٣٤٥)"
