"""DOM scalar tests, ported from
/root/reference/internal/dom/dom_utils_test.go (table-driven cases)."""

import ast
import pathlib

from go_readability_spark.readability import (
    DocIndex,
    VElement,
    VText,
    count_nodes,
    get_elements_by_tag_name,
    get_inner_text,
    get_link_density,
    get_node_ancestors,
    get_text_density,
    has_ancestor_tag,
    is_probably_visible,
)


def el(tag, attrs=None, children=()):
    e = VElement(tag)
    if attrs:
        e.attributes.update(attrs)
    for c in children:
        e.append_child(c)
    return e


def test_get_elements_by_tag_name_and_wildcard():
    root = el("div", children=[
        el("p", children=[el("span")]),
        el("p"),
        VText("x"),
    ])
    assert len(get_elements_by_tag_name(root, "p")) == 2
    assert len(get_elements_by_tag_name(root, "*")) == 4  # div, p, span, p
    assert len(get_elements_by_tag_name(root, "P")) == 2  # case-insensitive


def naive_walk(root, tag):
    """The recursive pre-order scan of dom_utils.go:14-48."""
    out = [root] if tag in ("*", root.tag_name) else []
    for c in root.children:
        if isinstance(c, VElement):
            out.extend(naive_walk(c, tag))
    return out


def test_index_lookups_match_naive_walk():
    """Every lookup of one index equals a walk of the subtree it names:
    ``elements`` the recursive pre-order scan under any root, ``count``
    ``count_nodes`` (text nodes included), and the per-tag concatenation
    that scoring and structural detection build, the per-tag walks
    concatenated in tag order."""
    root = el("div", children=[
        el("p", children=[el("span"), VText("t"), el("a")]),
        el("section", children=[el("p", children=[VText("u")])]),
        VText("v"),
        el("a"),
    ])
    index = DocIndex(root)
    subtrees = naive_walk(root, "*")
    assert [e.tag_name for e in subtrees] == [
        "div", "p", "span", "a", "section", "p", "a"]
    for sub in subtrees:
        for tag in ("div", "p", "span", "a", "section", "li", "*"):
            assert [id(e) for e in index.elements(sub, tag)] == [
                id(e) for e in naive_walk(sub, tag)], (sub.tag_name, tag)
        assert index.count(sub) == count_nodes(sub)
    assert index.count(root) == 10
    tags = ("a", "p", "section")
    assert [id(e) for t in tags for e in index.elements(root, t)] == [
        id(e) for t in tags for e in naive_walk(root, t)]
    # a tree outside the indexed one (a body detached as an ad) is
    # indexed on first use, and the first tree's answers stay the same
    other = el("body", children=[el("li", children=[el("a")]), el("li")])
    assert [id(e) for e in index.elements(other, "li")] == [
        id(e) for e in naive_walk(other, "li")]
    assert index.count(other) == count_nodes(other) == 4
    assert index.elements(root, "li") == []
    assert len(index.elements(root, "a")) == 2


def test_no_global_statement_in_readability():
    """The extractor keeps no module-global mutable state: no module under
    readability/ rebinds a global (per-document memos live on a
    ``DocIndex``)."""
    root = pathlib.Path(__file__).parent.parent
    package = root / "go_readability_spark" / "readability"
    found = [
        f"{path.name}:{node.lineno}"
        for path in sorted(package.glob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Global)
    ]
    assert len(list(package.glob("*.py"))) > 10
    assert found == []


def test_no_setrecursionlimit_in_the_package():
    """The library never changes the interpreter's recursion limit: its
    tree walkers keep explicit stacks, so no call to
    ``setrecursionlimit`` appears anywhere in the package."""
    package = pathlib.Path(__file__).parent.parent / "go_readability_spark"
    paths = sorted(package.rglob("*.py"))
    found = [
        f"{path.relative_to(package)}:{node.lineno}"
        for path in paths
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", getattr(node.func, "id", None))
        == "setrecursionlimit"
    ]
    assert len(paths) > 30
    assert found == []


def test_is_probably_visible():
    assert is_probably_visible(el("div"))
    assert not is_probably_visible(el("div", {"style": "display: none;"}))
    assert not is_probably_visible(el("div", {"style": "visibility: hidden"}))
    assert not is_probably_visible(el("div", {"hidden": ""}))
    assert not is_probably_visible(el("div", {"aria-hidden": "true"}))
    assert is_probably_visible(el("div", {"aria-hidden": "false"}))


def test_get_node_ancestors_depth():
    a = el("article")
    d = el("div")
    p = el("p")
    a.append_child(d)
    d.append_child(p)
    assert [x.tag_name for x in get_node_ancestors(p, 1)] == ["div"]
    assert [x.tag_name for x in get_node_ancestors(p, 0)] == ["div", "article"]
    assert [x.tag_name for x in get_node_ancestors(p, 3)] == ["div", "article"]


def test_has_ancestor_tag():
    # structure from dom_utils_test.go:255-274:
    # html > body > div > section > article > p > text
    html = el("html")
    body = el("body")
    html.append_child(body)
    div = el("div")
    body.append_child(div)
    section = el("section")
    div.append_child(section)
    article = el("article")
    section.append_child(article)
    p = el("p")
    article.append_child(p)
    text = VText("Hello, world!")
    p.append_child(text)

    assert has_ancestor_tag(p, "article", 1)
    assert has_ancestor_tag(p, "div", 3)
    assert not has_ancestor_tag(p, "div", 2)
    assert not has_ancestor_tag(p, "header", 0)
    assert has_ancestor_tag(p, "ARTICLE", 1)  # case-insensitive
    assert has_ancestor_tag(text, "p", 1)
    assert has_ancestor_tag(text, "section", 0)


def _inner_text_fixture():
    div = el("div")
    p1 = el("p")
    div.append_child(p1)
    p1.append_child(VText("Paragraph 1"))
    p2 = el("p")
    div.append_child(p2)
    p2.append_child(VText("  Paragraph  2  "))
    span = el("span")
    p2.append_child(span)
    span.append_child(VText("  Nested  text  "))
    return div, p1, p2


def test_get_inner_text():
    """dom_utils_test.go:303-348 expectations, verbatim."""
    div, p1, p2 = _inner_text_fixture()
    assert get_inner_text(p1, True) == "Paragraph 1"
    assert get_inner_text(p2, True) == "Paragraph 2 Nested text"
    assert get_inner_text(p2, False) == "Paragraph  2   Nested  text"
    assert get_inner_text(div, True) == "Paragraph 1 Paragraph 2 Nested text"
    assert get_inner_text(el("div"), True) == ""
    assert get_inner_text(VText("  Direct  text  node  "), True) == "Direct text node"
    assert get_inner_text(VText("  Direct  text  node  "), False) == "Direct  text  node"


def test_get_link_density():
    """dom_utils_test.go:351-405; the 0.15 value exercises the
    hash-anchor 0.3 coefficient with int() truncation."""
    div = el("div")
    div.append_child(VText("This is a paragraph with "))
    a1 = el("a", {"href": "https://example.com"})
    a1.append_child(VText("a link"))
    div.append_child(a1)
    div.append_child(VText(" and more text. "))
    a2 = el("a", {"href": "#section"})
    a2.append_child(VText("internal link"))
    div.append_child(a2)
    assert abs(get_link_density(div) - 0.15) <= 0.01

    links_only = el("div")
    a3 = el("a", {"href": "https://example.org"})
    a3.append_child(VText("only link"))
    links_only.append_child(a3)
    assert abs(get_link_density(links_only) - 1.0) <= 0.01

    assert get_link_density(el("div")) == 0.0


def test_link_density_byte_semantics():
    """Multibyte text: byte lengths, not characters (SURVEY.md §1.2(1))."""
    div = el("div")
    div.append_child(VText("日本語のテキスト"))  # 8 chars, 24 bytes
    a = el("a", {"href": "x"})
    a.append_child(VText("リンク"))  # 3 chars, 9 bytes
    div.append_child(a)
    # total text = "日本語のテキスト リンク" -> 24+1+9 = 34 bytes; link 9
    assert abs(get_link_density(div) - 9 / 34) < 1e-12


def test_get_text_density():
    div = el("div")
    p = el("p")
    p.append_child(VText("0123456789"))
    div.append_child(p)
    div.append_child(VText("0123456789"))
    # inner text "0123456789 0123456789" = 21 bytes; 1 child element
    assert abs(get_text_density(div) - 21.0) < 1e-12
    assert get_text_density(el("div")) == 0.0
    # no child elements -> divide by 1
    d2 = el("div")
    d2.append_child(VText("abcd"))
    assert get_text_density(d2) == 4.0
