"""Scoring tests ported from /root/reference/core_test.go:10-413."""

from go_readability_spark.readability import (
    DocIndex,
    VDocument,
    VElement,
    VText,
    find_main_candidates,
    get_class_weight,
    initialize_node,
    is_probably_content,
)


def el(tag, attrs=None):
    e = VElement(tag)
    if attrs:
        e.attributes.update(attrs)
    return e


def doc_with_body():
    html = el("html")
    body = el("body")
    html.append_child(body)
    return VDocument(html, body), html, body


# --- TestInitializeNode (core_test.go:259-340) ---

def test_initialize_node_scores():
    cases = [
        ("div", None, None, 5),
        ("pre", None, None, 3),
        ("h1", None, None, -5),
        ("div", "article content", None, 30),
        ("div", "comment sidebar", None, -20),
        ("div", None, "main-content", 30),
        ("div", None, "sidebar", -20),
        ("div", "article", "sidebar", 5),
    ]
    for tag, cls, nid, expected in cases:
        e = el(tag)
        if cls:
            e.set_attribute("class", cls)
        if nid:
            e.set_attribute("id", nid)
        initialize_node(e)
        assert e.readability == expected, (tag, cls, nid)


# --- TestGetClassWeight (core_test.go:342-413) ---

def test_get_class_weight():
    cases = [
        (None, None, 0),
        ("article content", None, 25),
        ("comment sidebar", None, -25),
        (None, "main-content", 25),
        (None, "sidebar", -25),
        ("article", "content", 50),
        ("comment", "sidebar", -50),
        ("article", "sidebar", 0),
    ]
    for cls, nid, expected in cases:
        e = el("div")
        if cls:
            e.set_attribute("class", cls)
        if nid:
            e.set_attribute("id", nid)
        assert get_class_weight(e) == expected, (cls, nid)


def test_class_weight_case_sensitive():
    """core regexps are case-SENSITIVE on raw class+id (SURVEY.md §1.2(8))."""
    assert get_class_weight(el("div", {"class": "Article"})) == 0
    assert get_class_weight(el("div", {"class": "article"})) == 25


# --- TestFindMainCandidates (core_test.go:10-154) ---

def test_single_article_tag_shortcut():
    doc, html, body = doc_with_body()
    article = el("article")
    article.append_child(VText("This is an article with enough text to be considered."))
    body.append_child(article)
    candidates = find_main_candidates(doc, DocIndex(html), 5)
    assert len(candidates) == 1
    assert candidates[0].tag_name == "article"


def test_single_main_tag_shortcut():
    doc, html, body = doc_with_body()
    main = el("main")
    main.append_child(VText("This is a main section with enough text to be considered."))
    body.append_child(main)
    candidates = find_main_candidates(doc, DocIndex(html), 5)
    assert len(candidates) == 1
    assert candidates[0].tag_name == "main"


def test_two_articles_no_shortcut():
    """Shortcut requires EXACTLY one (core.go:363-371)."""
    doc, html, body = doc_with_body()
    for _ in range(2):
        a = el("article")
        p = el("p")
        p.append_child(VText("This is a paragraph with enough text to be considered here."))
        a.append_child(p)
        body.append_child(a)
    candidates = find_main_candidates(doc, DocIndex(html), 5)
    # shortcut not taken: scoring path returns several candidates
    # (articles + scored ancestors), not a single semantic element
    assert len(candidates) > 1


def test_multiple_candidates_class_ranking():
    doc, html, body = doc_with_body()
    content_div = el("div", {"class": "content"})
    p1 = el("p")
    p1.append_child(VText(
        "This is a paragraph with enough text to be considered. It has commas, and more text."
    ))
    content_div.append_child(p1)
    body.append_child(content_div)

    sidebar_div = el("div", {"class": "sidebar"})
    p2 = el("p")
    p2.append_child(VText("This is another paragraph with enough text to be considered."))
    sidebar_div.append_child(p2)
    body.append_child(sidebar_div)

    candidates = find_main_candidates(doc, DocIndex(html), 2)
    assert len(candidates) == 2
    assert candidates[0].class_name == "content"


def test_no_candidates_returns_body():
    doc, html, body = doc_with_body()
    div = el("div")
    div.append_child(VText("Short text."))
    body.append_child(div)
    candidates = find_main_candidates(doc, DocIndex(html), 5)
    assert len(candidates) == 1
    assert candidates[0].tag_name == "body"


def test_limit_by_nb_top_candidates():
    doc, html, body = doc_with_body()
    for _ in range(5):
        div = el("div")
        p = el("p")
        p.append_child(VText(
            "This is a paragraph with enough text to be considered. It has commas, and more text."
        ))
        div.append_child(p)
        body.append_child(div)
    assert len(find_main_candidates(doc, DocIndex(html), 3)) == 3


def test_25_byte_threshold_is_bytes():
    """24-char multibyte text is >= 25 bytes, so it scores."""
    doc, html, body = doc_with_body()
    div = el("div")
    p = el("p")
    p.append_child(VText("あいうえおかきくけこ"))  # 10 chars = 30 bytes
    div.append_child(p)
    body.append_child(div)
    candidates = find_main_candidates(doc, DocIndex(html), 5)
    # div got scored (via ancestor distribution), so body fallback NOT used
    assert candidates[0].tag_name == "div"


def test_multiscript_commas_counted():
    """Commas regex covers fullwidth/ideographic commas
    (internal/util/regexp.go:40)."""
    doc, html, body = doc_with_body()
    strong = el("div", {"class": "a"})
    p = el("p")
    p.append_child(VText("一、二、三、四、五、six seven eight nine ten eleven"))
    strong.append_child(p)
    body.append_child(strong)

    weak = el("div", {"class": "b"})
    p2 = el("p")
    p2.append_child(VText("one two three four five six seven eight nine ten"))
    weak.append_child(p2)
    body.append_child(weak)

    candidates = find_main_candidates(doc, DocIndex(html), 2)
    assert candidates[0].class_name == "a"  # 5 ideographic commas win


# --- TestIsProbablyContent (core_test.go:156-257) ---

LONG = (
    "This is a long text that should be considered as content. "
    "It has multiple sentences and is definitely longer than 140 characters. "
    "This should be enough to pass the text length check in the IsProbablyContent function. "
    "We need to make sure it's long enough."
)


def test_is_probably_content_good():
    div = el("div", {"class": "content"})
    div.append_child(VText(LONG))
    assert is_probably_content(div, DocIndex(div))


def test_is_probably_content_invisible():
    div = el("div", {"style": "display: none;"})
    div.append_child(VText(LONG))
    assert not is_probably_content(div, DocIndex(div))


def test_is_probably_content_unlikely_class():
    div = el("div", {"class": "sidebar"})
    div.append_child(VText(LONG))
    assert not is_probably_content(div, DocIndex(div))


def test_is_probably_content_short_text():
    div = el("div", {"class": "content"})
    div.append_child(VText("This is a short text."))
    assert not is_probably_content(div, DocIndex(div))


def test_is_probably_content_high_link_density():
    div = el("div")
    p = el("p")
    p.append_child(VText("This is some text. "))
    div.append_child(p)
    for _ in range(10):
        a = el("a")
        a.append_child(VText("Link text that is quite long to increase the link density."))
        div.append_child(a)
    assert not is_probably_content(div, DocIndex(div))
