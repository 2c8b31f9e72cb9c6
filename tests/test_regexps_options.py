"""Regex-constant, options, and article-view tests — ported from the
reference's internal/util/regexp_test.go:7-170, options_test.go, and
article_test.go."""

from __future__ import annotations

import random

import pytest

from go_readability_spark.readability.extract import (
    ArticleContent,
    OtherContent,
    ReadabilityArticle,
    ReadabilityOptions,
    create_extractor,
)
from go_readability_spark.readability.regexps import (
    COMMAS,
    DEFAULT_TAGS_TO_SCORE,
    DIV_TO_P_ELEMS,
    NEGATIVE,
    NORMALIZE,
    OK_MAYBE_ITS_A_CANDIDATE,
    PHRASING_ELEMS,
    POSITIVE,
    UNLIKELY_CANDIDATES,
    collapse_whitespace,
)
from go_readability_spark.readability.vdom import VElement, VText


class TestRegexps:
    @pytest.mark.parametrize(
        "value,expected",
        [
            ("ad-banner", True), ("sidebar", True), ("comment-section", True),
            ("footer", True), ("header", True),
            ("main-content", False), ("article", False), ("body", False),
        ],
    )
    def test_unlikely_candidates(self, value, expected):
        assert bool(UNLIKELY_CANDIDATES.search(value)) is expected

    @pytest.mark.parametrize(
        "value,expected",
        [
            ("article", True), ("body", True), ("main-content", True),
            ("content", True), ("shadow-root", True),
            ("footer", False), ("sidebar", False), ("comment", False),
        ],
    )
    def test_ok_maybe_its_a_candidate(self, value, expected):
        assert bool(OK_MAYBE_ITS_A_CANDIDATE.search(value)) is expected

    @pytest.mark.parametrize(
        "value,expected",
        [
            ("article", True), ("body", True), ("content", True),
            ("main", True), ("blog-post", True), ("story", True),
            ("footer", False), ("sidebar", False), ("comment", False),
        ],
    )
    def test_positive(self, value, expected):
        assert bool(POSITIVE.search(value)) is expected

    @pytest.mark.parametrize(
        "value,expected",
        [
            ("footer", True), ("sidebar", True), ("comment", True),
            ("hidden", True), ("hid", True),
            ("article", False), ("content", False), ("main", False),
        ],
    )
    def test_negative(self, value, expected):
        assert bool(NEGATIVE.search(value)) is expected

    @pytest.mark.parametrize(
        "value,expected",
        [
            (",", True), ("،", True), ("﹐", True), ("，", True),
            ("、", True), ("abc,def", True), ("abc def", False),
        ],
    )
    def test_commas(self, value, expected):
        assert bool(COMMAS.search(value)) is expected

    @pytest.mark.parametrize(
        "value,expected",
        [
            ("a  b", "a b"), ("a   b", "a b"), ("a    b", "a b"),
            ("a\t\tb", "a b"), ("a\n\nb", "a b"), ("a\r\rb", "a b"),
            ("a b", "a b"),
        ],
    )
    def test_normalize(self, value, expected):
        assert NORMALIZE.sub(" ", value) == expected
        assert collapse_whitespace(value) == expected

    def test_collapse_whitespace_matches_normalize(self):
        # \x0b and \xa0 are whitespace to str.strip and Python's \s but
        # not to NORMALIZE (RE2's ASCII \s): both must pass through
        rng = random.Random(7)
        alphabet = "\t\n\f\r \x0b\xa0a"
        for _ in range(5000):
            value = "".join(rng.choices(alphabet, k=rng.randint(0, 40)))
            assert collapse_whitespace(value) == NORMALIZE.sub(" ", value), value
        for value in (" " * 1025, "a" + " " * 64 + "b" + " " * 3):
            assert collapse_whitespace(value) == NORMALIZE.sub(" ", value)

    def test_default_tags_to_score(self):
        assert tuple(DEFAULT_TAGS_TO_SCORE) == (
            "section", "h2", "h3", "h4", "h5", "h6", "p", "td", "pre",
        )

    def test_div_to_p_elems(self):
        assert DIV_TO_P_ELEMS == frozenset(
            ("blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul")
        )

    def test_phrasing_elems_membership(self):
        # the reference's sample set (regexp_test.go:172); note "a" is NOT
        # phrasing content in this list
        for tag in ("abbr", "audio", "b", "br", "code", "em", "i", "img",
                    "span", "strong"):
            assert tag in PHRASING_ELEMS
        assert "a" not in PHRASING_ELEMS
        assert "div" not in PHRASING_ELEMS


class TestOptions:
    def test_defaults(self):
        opts = ReadabilityOptions()
        assert opts.char_threshold == 500
        assert opts.nb_top_candidates == 5
        assert opts.generate_aria_tree is False
        assert opts.forced_page_type == ""


class TestArticleContentViews:
    def _article(self, page_type: str) -> ReadabilityArticle:
        div = VElement("div")
        div.set_attribute("id", "content")
        div.append_child(VText("Article content"))
        header = VElement("header")
        footer = VElement("footer")
        return ReadabilityArticle(
            title="T",
            byline="B",
            root=div,
            page_type=page_type,
            header=header,
            footer=footer,
            other_significant_nodes=[div],
        )

    def test_article_view(self):
        content = self._article("article").get_content_by_page_type()
        assert isinstance(content, ArticleContent)
        assert content.title == "T" and content.byline == "B"
        assert content.root is not None and content.root.id == "content"

    def test_other_view(self):
        art = self._article("other")
        content = art.get_content_by_page_type()
        assert isinstance(content, OtherContent)
        assert content.header is art.header and content.footer is art.footer
        assert content.other_significant_nodes == art.other_significant_nodes


class TestCreateExtractor:
    def test_extractor_applies_options(self):
        html = (
            "<html><head><title>Mini</title></head><body><article><p>"
            + "word, word. " * 10
            + "</p></article></body></html>"
        )
        strict = create_extractor(ReadabilityOptions(char_threshold=10_000))
        relaxed = create_extractor(ReadabilityOptions(char_threshold=10))
        assert strict(html).root is None
        assert relaxed(html).root is not None
