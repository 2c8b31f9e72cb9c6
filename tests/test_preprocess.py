"""Preprocess tests ported from /root/reference/preprocess_test.go."""

from go_readability_spark.readability import (
    count_nodes,
    get_elements_by_tag_name,
    is_likely_ad,
    parse_html,
    preprocess_document,
)
from go_readability_spark.readability.vdom import VElement


def el(tag, attrs=None):
    e = VElement(tag)
    if attrs:
        e.attributes.update(attrs)
    return e


def test_unwanted_tags_removed():
    html = (
        "<html><body>"
        "<nav>navigation</nav>"
        "<header>site header</header>"
        "<p>keep me</p>"
        "<aside>sidebar</aside>"
        "<footer>footer</footer>"
        "<script>evil()</script>"
        "<style>.x{}</style>"
        "<noscript>ns</noscript>"
        "<iframe src='x'></iframe>"
        "<form><input></form>"
        "<button>b</button>"
        "<dialog>d</dialog>"
        "</body></html>"
    )
    d = parse_html(html)
    preprocess_document(d)
    for tag in ("nav", "header", "aside", "footer", "script", "style",
                "noscript", "iframe", "form", "button", "dialog"):
        assert get_elements_by_tag_name(d.document_element, tag) == [], tag
    assert len(get_elements_by_tag_name(d.body, "p")) == 1


def test_media_tags_kept():
    """audio/video/figure/canvas/details deliberately kept
    (preprocess.go:29-34)."""
    html = (
        "<html><body><article>"
        "<audio src='a'></audio><video src='v'></video>"
        "<figure><img src='i'></figure><canvas></canvas>"
        "<details>d</details>"
        "</article></body></html>"
    )
    d = parse_html(html)
    preprocess_document(d)
    for tag in ("audio", "video", "figure", "canvas", "details"):
        assert len(get_elements_by_tag_name(d.body, tag)) == 1, tag


def test_ads_removed():
    html = (
        "<html><body>"
        '<div class="adsense">ad one</div>'
        '<div id="banner-top">ad two</div>'
        '<div data-ad-slot="123">ad three</div>'
        '<div role="advertisement">ad four</div>'
        '<div class="story">real content</div>'
        "</body></html>"
    )
    d = parse_html(html)
    preprocess_document(d)
    divs = get_elements_by_tag_name(d.body, "div")
    assert len(divs) == 1
    assert divs[0].class_name == "story"


def test_is_likely_ad_patterns():
    assert is_likely_ad(el("div", {"class": "ad-container"}))
    # reference quirk: the predicate matches on class+" "+id, so the
    # anchored ^ad$ / ^ads$ patterns can NEVER match (the combined string
    # always contains the separator space) — preprocess.go:40-41,137
    assert not is_likely_ad(el("div", {"class": "ad"}))
    assert not is_likely_ad(el("div", {"id": "ads"}))
    assert is_likely_ad(el("div", {"class": "Sponsored-link"}))  # (?i)
    assert is_likely_ad(el("div", {"class": "doubleclick-tag"}))
    assert is_likely_ad(el("div", {"data-ad": ""}))
    assert is_likely_ad(el("div", {"data-ad-client": "c"}))
    assert not is_likely_ad(el("div", {"class": "article-content"}))
    # "^ad$" must not match inside words ("read", "adjacent"...)
    assert not is_likely_ad(el("div", {"class": "read"}))
    # note: "adjacent" contains no pattern; "advert..." does
    assert is_likely_ad(el("div", {"class": "advertorial"}))


def test_nested_removal_is_safe():
    """Nested matching tags: snapshot-then-splice never corrupts the tree
    (preprocess.go:88-96 semantics)."""
    html = "<html><body><nav><form><button>x</button></form></nav><p>k</p></body></html>"
    d = parse_html(html)
    before = count_nodes(d.document_element)
    nodes, pruned = preprocess_document(d)
    assert get_elements_by_tag_name(d.body, "nav") == []
    assert len(get_elements_by_tag_name(d.body, "p")) == 1
    # the nested form and button are inside the nav's subtree: counted once
    assert (nodes, pruned) == (before, before - count_nodes(d.document_element))
    assert pruned == 4
