"""Property-based robustness + invariance tests (hypothesis).

The extractor must be total over arbitrary input (hostile HTML becomes a
best-effort article or an empty one — never an exception out of
``extract``), and the span codec must make output independent of input
chunking (the core pipeline invariant: only the concatenation is
semantic, FIXTURES.md §1).
"""

from __future__ import annotations

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

from go_readability_spark.readability import ReadabilityOptions, extract  # noqa: E402
from go_readability_spark.readability.markdown import to_markdown  # noqa: E402
from go_readability_spark.readability.fmt import stringify, to_html  # noqa: E402
from go_readability_spark.spans import (  # noqa: E402
    KIND_MEDIA,
    KIND_TEXT,
    element_to_spans,
    spans_to_html,
)

_SETTINGS = settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# text that may contain markup-significant characters
raw_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)

tag_soup = st.lists(
    st.one_of(
        raw_text,
        st.sampled_from(
            [
                "<div>", "</div>", "<p>", "</p>", "<li>", "<ul>", "</ul>",
                "<a href='#x'>", "</a>", "<span class='ad-'>", "</span>",
                "<script>", "</script>", "<!-- c -->", "<br>", "<img src=x>",
                "<x-media ref='media://t/1' alt='a'/>", "<table><tr><td>",
                "</td></tr></table>", "<h2>", "</h2>", "<pre><code>",
                "</code></pre>", "<blockquote>", "</blockquote>",
                "<input type=checkbox checked>", "<", ">", "&amp;", "&#x41;",
                "&bogus;", "\x00",
            ]
        ),
    ),
    max_size=40,
).map("".join)


class TestTotality:
    @_SETTINGS
    @given(tag_soup)
    def test_extract_never_raises(self, html):
        article = extract(html, ReadabilityOptions())
        # downstream sinks must be total over whatever tree came out
        element_to_spans(article.root)
        to_html(article.root)
        to_markdown(article.root)
        stringify(article.root)

    @_SETTINGS
    @given(raw_text)
    def test_plain_text_documents(self, text):
        article = extract(f"<html><body><p>{text}</p></body></html>")
        assert article.page_type in ("article", "other")


def _chunk(html: str, media, sizes) -> list[dict]:
    """Chunk html into text spans with the given size cycle, then append
    media spans; offsets enumerate the sequence."""
    spans, pos, i = [], 0, 0
    while pos < len(html):
        size = sizes[i % len(sizes)]
        spans.append(
            {
                "kind": KIND_TEXT,
                "text": html[pos : pos + size],
                "media_ref": "",
                "offset": len(spans),
            }
        )
        pos += size
        i += 1
    for alt, ref in media:
        spans.append(
            {"kind": KIND_MEDIA, "text": alt, "media_ref": ref,
             "offset": len(spans)}
        )
    return spans


class TestChunkingInvariance:
    @_SETTINGS
    @given(
        st.lists(raw_text, min_size=1, max_size=8),
        st.lists(st.integers(min_value=1, max_value=977), min_size=1, max_size=5),
        st.lists(st.integers(min_value=1, max_value=977), min_size=1, max_size=5),
    )
    def test_extraction_independent_of_chunking(self, paras, sizes_a, sizes_b):
        html = (
            "<html><head><title>T</title></head><body><article>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</article></body></html>"
        )
        a = _chunk(html, [], sizes_a)
        b = _chunk(html, [], sizes_b)
        assert spans_to_html(a) == spans_to_html(b) == html
        out_a = element_to_spans(extract(spans_to_html(a)).root)
        out_b = element_to_spans(extract(spans_to_html(b)).root)
        assert out_a == out_b

    @_SETTINGS
    @given(st.permutations(list(range(8))))
    def test_reassembly_is_offset_order(self, perm):
        html = "".join(f"<p>part {i}</p>" for i in range(8))
        spans = [
            {"kind": KIND_TEXT, "text": f"<p>part {i}</p>", "media_ref": "",
             "offset": i}
            for i in perm
        ]
        assert spans_to_html(spans) == html


class TestCodecProperties:
    @_SETTINGS
    @given(st.lists(st.tuples(raw_text, st.text(max_size=30)), max_size=6))
    def test_media_refs_round_trip(self, media):
        segs = ["<html><body><article><p>lead text for the gate</p>"]
        spans = []
        for i, (alt, ref_suffix) in enumerate(media):
            ref = f"media://t/{i}-{ref_suffix.replace(chr(34), '')}"
            spans.append(
                {"kind": KIND_MEDIA, "text": alt, "media_ref": ref,
                 "offset": i + 1}
            )
        spans.append(
            {"kind": KIND_TEXT, "text": "".join(segs), "media_ref": "",
             "offset": 0}
        )
        spans.append(
            {
                "kind": KIND_TEXT,
                "text": "</article></body></html>",
                "media_ref": "",
                "offset": len(media) + 1,
            }
        )
        html = spans_to_html(spans)
        article = extract(html, ReadabilityOptions(char_threshold=1))
        out = element_to_spans(article.root)
        out_refs = [s["media_ref"] for s in out if s["kind"] == "media"]
        in_refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
        assert out_refs == [r for r in in_refs if r in out_refs]
        # order fields are a dense 0..n-1 enumeration
        assert [s["order"] for s in out] == list(range(len(out)))


class TestPruneCounts:
    """``preprocess_document``'s counts equal two ``count_nodes`` walks
    around it, on soups that nest unwanted tags and ads."""

    soup = st.lists(
        st.one_of(
            st.text(alphabet="ab ", max_size=5),
            st.sampled_from(
                [
                    "<div>", "</div>", "<p>", "</p>", "<nav>", "</nav>",
                    "<aside>", "</aside>", "<form>", "</form>", "<script>",
                    "</script>", "<div class='ad-slot'>", "<span id='banner-x'>",
                    "</span>", "<section data-ad=1>", "</section>", "<br>",
                ]
            ),
        ),
        max_size=30,
    ).map(lambda parts: "<html><body>" + "".join(parts))

    @_SETTINGS
    @given(soup)
    def test_counts_equal_walks_around_preprocessing(self, html):
        from go_readability_spark.readability import (
            count_nodes,
            parse_html,
            preprocess_document,
        )

        doc = parse_html(html)
        before = count_nodes(doc.document_element)
        nodes, pruned = preprocess_document(doc)
        assert (nodes, pruned) == (
            before, before - count_nodes(doc.document_element)
        )


class TestIndexEquivalence:
    """One ``DocIndex`` must answer every lookup exactly as a naive
    recursive walk of the subtree it names, on arbitrary trees."""

    tags = st.sampled_from(["div", "p", "a", "span", "section", "li"])

    @st.composite
    def trees(draw, depth=3):  # noqa: N805 — hypothesis composite style
        from go_readability_spark.readability import VElement, VText

        el = VElement(draw(TestIndexEquivalence.tags))
        for _ in range(draw(st.integers(0, 3))):
            if depth > 0 and draw(st.booleans()):
                el.append_child(
                    draw(TestIndexEquivalence.trees(depth=depth - 1))
                )
            else:
                el.append_child(VText(draw(st.text(max_size=5))))
        return el

    @given(trees(), st.lists(tags, min_size=1, max_size=4))
    @settings(max_examples=60, deadline=None)
    def test_matches_naive_recursive_walk(self, root, tag_list):
        from go_readability_spark.readability import DocIndex, VElement
        from go_readability_spark.readability.fmt import count_nodes

        def naive(el, tag):
            out = [el] if tag in ("*", el.tag_name) else []
            for c in el.children:
                if isinstance(c, VElement):
                    out.extend(naive(c, tag))
            return out

        index = DocIndex(root)
        for sub in naive(root, "*"):
            for tag in set(tag_list) | {"*"}:
                assert [id(e) for e in index.elements(sub, tag)] == [
                    id(e) for e in naive(sub, tag)
                ]
            assert index.count(sub) == count_nodes(sub)
            # the tag-order concatenation scoring builds == the naive
            # per-tag concatenation
            got = [e for t in tag_list for e in index.elements(sub, t)]
            want = [e for t in tag_list for e in naive(sub, t)]
            assert [id(e) for e in got] == [id(e) for e in want]
