"""Span codec + corpus generator tests (SURVEY.md §7 step 2-3).

The codec defines the golden invariant: span-sequence equality
(kind, text, media_ref, order) — FIXTURES.md §1-2.
"""

from __future__ import annotations

import json

import pytest

from go_readability_spark.corpus import (
    FIXTURE_001_PATH,
    POPULATIONS,
    generate_corpus,
    generate_doc,
)
from go_readability_spark.operators.extract import extract_batch_rows
from go_readability_spark.readability import ReadabilityOptions, extract
from go_readability_spark.readability.parser import parse_html
from go_readability_spark.spans import (
    element_to_spans,
    media_placeholder,
    spans_to_html,
)


def _spans(*items):
    return [
        {"kind": k, "text": t, "media_ref": r, "offset": o}
        for (k, t, r, o) in items
    ]


class TestSpansToHtml:
    def test_sorts_by_offset(self):
        spans = _spans(
            ("text", "<p>world</p>", "", 1),
            ("text", "<p>hello</p>", "", 0),
        )
        assert spans_to_html(spans) == "<p>hello</p><p>world</p>"

    def test_mid_tag_split(self):
        spans = _spans(
            ("text", "<di", "", 0),
            ("text", 'v class="a">x</div>', "", 1),
        )
        doc = parse_html(spans_to_html(spans), "")
        el = doc.body.children[0]
        assert el.tag_name == "div" and el.class_name == "a"

    def test_media_becomes_placeholder(self):
        spans = _spans(
            ("text", "<p>a", "", 0),
            ("media", "my alt", "media://img/1234", 1),
            ("text", "b</p>", "", 2),
        )
        html = spans_to_html(spans)
        assert '<x-media ref="media://img/1234" alt="my alt"/>' in html
        doc = parse_html(html, "")
        p = doc.body.children[0]
        tags = [c.tag_name for c in p.children if hasattr(c, "tag_name")]
        assert tags == ["x-media"]

    def test_placeholder_escapes(self):
        assert 'alt="a &amp; b"' in media_placeholder("m", "a & b")


class TestElementToSpans:
    def test_text_and_media_ordering(self):
        html = (
            "<html><body><article><p>one "
            '<x-media ref="media://img/aa" alt="pic"/> two</p>'
            "<p>three</p></article></body></html>"
        )
        doc = parse_html(html, "")
        article = doc.body.children[0]
        out = element_to_spans(article)
        assert [s["kind"] for s in out] == ["text", "media", "text", "text"]
        assert [s["order"] for s in out] == [0, 1, 2, 3]
        assert out[0]["text"] == "one "
        assert out[1]["media_ref"] == "media://img/aa"
        assert out[1]["text"] == "pic"
        assert out[2]["text"] == " two"
        assert out[3]["text"] == "three"

    def test_whitespace_only_buffers_dropped(self):
        doc = parse_html("<html><body><div> <p>x</p> </div></body></html>", "")
        out = element_to_spans(doc.body.children[0])
        assert [s["text"] for s in out] == ["x"]

    def test_none_root(self):
        assert element_to_spans(None) == []

    def test_inline_markup_merges_into_one_span(self):
        doc = parse_html(
            "<html><body><p>a <b>bold</b> tail</p></body></html>", ""
        )
        out = element_to_spans(doc.body.children[0])
        assert [s["text"] for s in out] == ["a bold tail"]


class TestCorpus:
    def test_deterministic(self):
        for doc_id in ["fixture-001", "syn-article-000003", "syn-media-heavy-000007"]:
            assert generate_doc(doc_id) == generate_doc(doc_id)

    def test_offsets_unique_and_dense(self):
        for doc_id, spans in generate_corpus(20):
            offsets = sorted(s["offset"] for s in spans)
            assert offsets == list(range(len(spans))), doc_id

    def test_every_population_round_trips(self):
        """Reassemble → extract runs without error for every population."""
        seen = set()
        docs = list(generate_corpus(30))
        rows = extract_batch_rows(
            [d for d, _ in docs], [s for _, s in docs], [0] * len(docs)
        )
        for (doc_id, _), row in zip(docs, rows):
            assert row["error"] is None, doc_id
            seen.add(doc_id.rsplit("-", 1)[0] if doc_id != "fixture-001" else doc_id)
        assert seen >= set(POPULATIONS) | {"fixture-001"}

    def test_articles_extract_media_heavy_keeps_media(self):
        doc_id = "syn-media-heavy-000007"
        html = spans_to_html(generate_doc(doc_id))
        art = extract(html)
        out = element_to_spans(art.root)
        kinds = {s["kind"] for s in out}
        assert "media" in kinds and "text" in kinds
        # media refs survive the round trip verbatim
        in_refs = [
            s["media_ref"] for s in generate_doc(doc_id) if s["kind"] == "media"
        ]
        out_refs = [s["media_ref"] for s in out if s["kind"] == "media"]
        assert set(out_refs) <= set(in_refs) and out_refs

    def test_fixture_001_golden_metadata(self):
        """Cross-implementation sentinel vs the reference's expected
        metadata (testdata/fixtures/001/expected-metadata.json)."""
        html = spans_to_html(generate_doc("fixture-001"))
        art = extract(html)
        with open(
            FIXTURE_001_PATH.replace("source.html", "expected-metadata.json"),
            encoding="utf-8",
        ) as f:
            expected = json.load(f)
        assert art.title == expected["title"]
        assert art.page_type == "article"
        assert art.root is not None

    def test_spans_equality_is_chunking_invariant(self):
        """The output span sequence must not depend on how the input was
        chunked — same doc, different chunking, same spans_out."""
        import random

        from go_readability_spark.corpus import _gen_article, _segments_to_spans

        segs = _gen_article(random.Random(1), 0)
        a = _segments_to_spans(segs, random.Random(2), 64, 256)
        b = _segments_to_spans(segs, random.Random(3), 1024, 4096)
        out_a = element_to_spans(extract(spans_to_html(a)).root)
        out_b = element_to_spans(extract(spans_to_html(b)).root)
        assert out_a == out_b

    def test_giant_generation(self):
        spans = generate_doc("syn-giant-000001")
        total = sum(len(s["text"]) for s in spans if s["kind"] == "text")
        assert total >= 1024 * 1024
        assert any(s["kind"] == "media" for s in spans)


# the library's forced page type, so the loop's rows compare with extract()
_FORCED_ARTICLE = ReadabilityOptions(forced_page_type="article")


class TestInstrumented:
    """The extraction loop's rows (with metrics) against plain extract()."""

    def test_matches_plain_extract(self):
        docs = list(generate_corpus(15))
        rows = extract_batch_rows(
            [d for d, _ in docs], [s for _, s in docs], [0] * len(docs),
            _FORCED_ARTICLE,
        )
        for (doc_id, spans), row in zip(docs, rows):
            plain = extract(spans_to_html(spans))
            meta, metrics = row["meta"], row["metrics"]
            assert row["error"] is None, doc_id
            assert plain.title == meta["title"]
            assert plain.page_type == meta["page_type"]
            assert plain.node_count == meta["node_count"]
            assert element_to_spans(plain.root) == row["spans_out"]
            assert metrics["candidate_count"] >= 0
            assert 0.0 <= metrics["prune_ratio"] <= 1.0
            # the scoring stats are extract_content's, on either path
            for key in ("candidate_count", "top_score", "link_density",
                        "is_probably_content"):
                assert getattr(plain.metrics, key) == metrics[key], key

    def test_metrics_capture_pruning(self):
        doc_id = "syn-noise-000002"
        [row] = extract_batch_rows(
            [doc_id], [generate_doc(doc_id)], [0], _FORCED_ARTICLE
        )
        assert row["metrics"]["pruned_nodes"] > 0
        assert row["metrics"]["top_score"] > 0


class TestRowDigest:
    # sha256 of the rows below: a refactor of the per-document path must
    # keep it. Any change to spans_out, meta, the six metrics, doc_bytes
    # or error on these documents moves it.
    ROWS_SHA256 = (
        "d66372280ade33d61ad3f974ad2901c6bde0f2209c135dfc2e0c2efef212caf4"
    )

    def test_extract_batch_rows_digest_pinned(self):
        """Every field of every row (elapsed_ms dropped) on 200 corpus
        documents plus one giant, hashed as sorted-key JSON."""
        import hashlib

        docs = list(generate_corpus(200))
        docs.append(("syn-giant-000001", generate_doc("syn-giant-000001")))
        doc_bytes = [
            sum(len((s["text"] or "").encode()) + len((s["media_ref"] or "").encode())
                for s in spans)
            for _, spans in docs
        ]
        rows = extract_batch_rows(
            [d for d, _ in docs], [s for _, s in docs], doc_bytes
        )
        for row in rows:
            assert row["error"] is None, row["doc_id"]
            del row["elapsed_ms"]
        digest = hashlib.sha256(json.dumps(rows, sort_keys=True).encode())
        assert digest.hexdigest() == self.ROWS_SHA256


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
