"""Parser tests modeled on /root/reference/internal/parser/parser_test.go
plus the HTML5-lite behaviors the extraction semantics depend on."""

from go_readability_spark.readability import (
    VElement,
    VText,
    get_elements_by_tag_name,
    get_inner_text,
    parse_html,
    serialize_document_to_html,
    serialize_to_html,
)


def test_basic_structure():
    d = parse_html("<html><head><title>T</title></head><body><p>hi</p></body></html>")
    assert d.document_element.tag_name == "html"
    assert d.body.tag_name == "body"
    ps = get_elements_by_tag_name(d.body, "p")
    assert len(ps) == 1
    assert get_inner_text(ps[0]) == "hi"


def test_tags_lowercased():
    d = parse_html("<BODY><DIV CLASS='x'>t</DIV></BODY>")
    divs = get_elements_by_tag_name(d.body, "div")
    assert len(divs) == 1
    assert divs[0].class_name == "x"


def test_body_synthesized_for_fragment():
    d = parse_html("<div>fragment content</div>")
    assert d.body is not None
    assert len(get_elements_by_tag_name(d.body, "div")) == 1


def test_html_attributes_dropped():
    """parser.go:47 creates a fresh html element without attributes."""
    d = parse_html('<html lang="en"><body>x</body></html>')
    assert d.document_element.attributes == {}


def test_comments_and_doctype_dropped():
    d = parse_html(
        "<!DOCTYPE html><!-- top --><html><body><!--[if lt IE 7]>"
        "<p class='chromeframe'>old</p><![endif]--><p>keep</p></body></html>"
    )
    ps = get_elements_by_tag_name(d.body, "p")
    assert len(ps) == 1
    assert get_inner_text(ps[0]) == "keep"


def test_p_auto_closed_by_block():
    d = parse_html("<body><p>one<div>two</div></body>")
    ps = get_elements_by_tag_name(d.body, "p")
    divs = get_elements_by_tag_name(d.body, "div")
    assert len(ps) == 1 and len(divs) == 1
    # div is a sibling of p, not a child
    assert divs[0].parent is d.body
    assert get_inner_text(ps[0]) == "one"


def test_li_auto_closed():
    d = parse_html("<body><ul><li>a<li>b<li>c</ul></body>")
    lis = get_elements_by_tag_name(d.body, "li")
    assert [get_inner_text(li) for li in lis] == ["a", "b", "c"]
    assert all(li.parent.tag_name == "ul" for li in lis)


def test_void_elements_take_no_children():
    d = parse_html("<body><p>a<br>b<img src='x'>c</p></body>")
    p = get_elements_by_tag_name(d.body, "p")[0]
    br = get_elements_by_tag_name(p, "br")[0]
    img = get_elements_by_tag_name(p, "img")[0]
    assert br.children == [] and img.children == []
    assert get_inner_text(p, True) == "a b c"


def test_entities_decoded_in_text():
    d = parse_html("<body><p>a &amp; b &#65; &lt;x&gt;</p></body>")
    p = get_elements_by_tag_name(d.body, "p")[0]
    assert get_inner_text(p) == "a & b A <x>"


def test_script_style_raw_text():
    d = parse_html(
        "<html><head><script>if (a < b && c > d) {}</script>"
        "<style>p > a { color: red }</style></head><body>x</body></html>"
    )
    scripts = get_elements_by_tag_name(d.document_element, "script")
    assert len(scripts) == 1
    assert "a < b && c > d" in get_inner_text(scripts[0], False)
    # style/script content never leaks into body
    assert get_inner_text(d.body, True) == "x"


def test_head_elements_stay_in_head():
    d = parse_html(
        "<html><head><title>T</title><meta name='a' content='b'>"
        "<link rel='x'></head><body><p>body text</p></body></html>"
    )
    titles = get_elements_by_tag_name(d.document_element, "title")
    metas = get_elements_by_tag_name(d.document_element, "meta")
    assert len(titles) == 1 and len(metas) == 1
    assert get_inner_text(d.body, True) == "body text"


def test_implicit_head_and_body():
    d = parse_html("<title>T</title><p>content</p>")
    assert len(get_elements_by_tag_name(d.document_element, "title")) == 1
    assert len(get_elements_by_tag_name(d.body, "p")) == 1


def test_pre_leading_newline_stripped():
    d = parse_html("<body><pre>\ncode here</pre></body>")
    pre = get_elements_by_tag_name(d.body, "pre")[0]
    assert isinstance(pre.children[0], VText)
    assert pre.children[0].text_content == "code here"


def test_unmatched_end_tag_ignored():
    d = parse_html("<body><div>a</span>b</div></body>")
    div = get_elements_by_tag_name(d.body, "div")[0]
    assert get_inner_text(div, True) == "ab"


def test_duplicate_attributes_first_wins():
    d = parse_html('<body><div class="first" class="second">x</div></body>')
    div = get_elements_by_tag_name(d.body, "div")[0]
    assert div.class_name == "first"


def test_valueless_attribute_empty_string():
    d = parse_html("<body><div hidden>x</div></body>")
    div = get_elements_by_tag_name(d.body, "div")[0]
    assert div.has_attribute("hidden")
    assert div.get_attribute("hidden") == ""


def test_x_media_placeholder_is_void():
    """Span-codec placeholder must never swallow siblings."""
    d = parse_html(
        '<body><p>before <x-media ref="media://abc" alt="cap"/> after</p></body>'
    )
    p = get_elements_by_tag_name(d.body, "p")[0]
    xm = get_elements_by_tag_name(p, "x-media")[0]
    assert xm.children == []
    assert xm.get_attribute("ref") == "media://abc"
    assert get_inner_text(p, True) == "before after"
    # also without the explicit slash
    d2 = parse_html('<body><p>a <x-media ref="m"> b</p></body>')
    xm2 = get_elements_by_tag_name(d2.body, "x-media")[0]
    assert xm2.children == []


def test_serialize_sorted_attributes():
    e = VElement("div")
    e.set_attribute("zeta", "1")
    e.set_attribute("alpha", "2")
    e.append_child(VText("t"))
    assert serialize_to_html(e) == '<div alpha="2" zeta="1">t</div>'


def test_serialize_to_writer_sinks():
    """io.Writer sinks (parser.go:216-225) — file-like objects here."""
    import io

    from go_readability_spark.readability.parser import (
        parse_html,
        serialize_document_to_html,
        serialize_document_to_writer,
        serialize_to_writer,
    )

    e = VElement("div")
    e.append_child(VText("hi"))
    w = io.StringIO()
    serialize_to_writer(e, w)
    assert w.getvalue() == "<div>hi</div>"

    doc = parse_html("<html><body><p>x</p></body></html>")
    w2 = io.StringIO()
    serialize_document_to_writer(doc, w2)
    assert w2.getvalue() == serialize_document_to_html(doc)
    assert w2.getvalue().startswith("<!DOCTYPE html>")


def test_serialize_round_trip():
    """parser_test.go:214 TestRoundTrip — parse(serialize(parse(x)))
    is stable."""
    html = (
        "<html><head><title>T</title></head><body>"
        '<div id="main"><p>Hello <b>world</b></p><img src="x"/></div>'
        "</body></html>"
    )
    d1 = parse_html(html)
    s1 = serialize_document_to_html(d1)
    d2 = parse_html(s1)
    s2 = serialize_document_to_html(d2)
    assert s1 == s2


def test_whitespace_preserved_in_body_text():
    d = parse_html("<body><p>a\n    b</p></body>")
    p = get_elements_by_tag_name(d.body, "p")[0]
    assert p.children[0].text_content == "a\n    b"


class TestAdoptionAgency:
    """Inline-run reconstruction behaviors (round-2 era cases, still
    valid under the full WHATWG algorithm — see TestAdoptionAgencySpec
    for the spec's worked examples)."""

    def _body(self, html):
        from go_readability_spark.readability.parser import (
            parse_html,
            serialize_to_html,
        )

        return serialize_to_html(parse_html(f"<html><body>{html}</body></html>", "").body)

    def test_classic_b_i_misnesting(self):
        assert (
            self._body("<b>x<i>y</b>z</i>")
            == "<body><b>x<i>y</i></b><i>z</i></body>"
        )

    def test_reconstruction_wraps_following_inline_elements(self):
        assert (
            self._body("<b>1<i>2</b>3<span>4</span></i>5")
            == "<body><b>1<i>2</i></b><i>3<span>4</span></i>5</body>"
        )

    def test_no_empty_reconstruction_without_content(self):
        # lazy: nothing follows, so no empty <i> is synthesized
        assert self._body("<b>x<i>y</b></i>done") == (
            "<body><b>x<i>y</i></b>done</body>"
        )

    def test_block_boundary_carries_formatting(self):
        # full adoption agency: the unclosed <i> is reconstructed inside
        # the following paragraph (WHATWG reconstruction; what x/net/html
        # and every browser produce)
        assert self._body("<b>x<i>y</b><p>z</p>") == (
            "<body><b>x<i>y</i></b><p><i>z</i></p></body>"
        )

    def test_em_strong(self):
        assert self._body("<em>a<strong>b</em>c</strong>") == (
            "<body><em>a<strong>b</strong></em><strong>c</strong></body>"
        )


class TestFosterParenting:
    """Simplified HTML5 foster parenting: non-table content in table
    context is inserted before the open table."""

    def _body(self, html):
        from go_readability_spark.readability.parser import (
            parse_html,
            serialize_to_html,
        )

        return serialize_to_html(
            parse_html(f"<html><body>{html}</body></html>", "").body
        )

    def test_stray_text_in_table(self):
        assert self._body("<table>stray<tr><td>cell</td></tr></table>") == (
            "<body>stray<table><tbody><tr><td>cell</td></tr></tbody></table></body>"
        )

    def test_block_element_in_table(self):
        assert self._body(
            "<table><div>block</div><tr><td>c</td></tr></table>"
        ) == "<body><div>block</div><table><tbody><tr><td>c</td></tr></tbody></table></body>"

    def test_text_in_tbody_and_tr(self):
        assert self._body(
            "<table><tbody>text<tr><td>c</td></tr></tbody></table>"
        ) == "<body>text<table><tbody><tr><td>c</td></tr></tbody></table></body>"
        assert self._body("<table><tr>rowtext<td>c</td></tr></table>") == (
            "<body>rowtext<table><tbody><tr><td>c</td></tr></tbody>"
            "</table></body>"
        )

    def test_cell_content_not_fostered(self):
        assert self._body("<table><tr><td>fine</td></tr></table>") == (
            "<body><table><tbody><tr><td>fine</td></tr></tbody></table></body>"
        )

    def test_nested_table_fosters_into_cell(self):
        assert self._body(
            "<table><tr><td><table>inner<tr><td>x</td></tr></table></td></tr></table>"
        ) == (
            "<body><table><tbody><tr><td>inner<table><tbody><tr><td>x"
            "</td></tr></tbody></table></td></tr></tbody></table></body>"
        )


class TestReviewRegressions:
    """Regressions from the round-1 code review of the parser."""

    def _body(self, html):
        from go_readability_spark.readability.parser import (
            parse_html,
            serialize_to_html,
        )

        return serialize_to_html(parse_html(html, "").body)

    def test_after_head_content_enters_body(self):
        got = self._body(
            "<html><head><title>t</title></head>"
            "<div id=main><p>Hello world</p></div></html>"
        )
        assert got == '<body><div id="main"><p>Hello world</p></div></body>'

    def test_formatting_does_not_leak_across_cells(self):
        got = self._body(
            "<html><body><table><tr><td><b>x</td><td>y</td></tr></table>"
            "</body></html>"
        )
        assert got == (
            "<body><table><tbody><tr><td><b>x</b></td><td>y</td></tr>"
            "</tbody></table></body>"
        )

    def test_successive_paragraphs_both_fostered(self):
        got = self._body("<html><body><table><p>one<p>two</table></body></html>")
        assert got == "<body><p>one</p><p>two</p><table></table></body>"

    def test_table_in_table_becomes_sibling(self):
        got = self._body(
            "<html><body><div><table><tr><table><tr><td>i</td></tr></table>"
            "</tr></table></div></body></html>"
        )
        assert got == (
            "<body><div><table><tbody><tr></tr></tbody></table>"
            "<table><tbody><tr><td>i</td></tr></tbody></table></div></body>"
        )

    def test_second_body_merges_attributes(self):
        got = self._body("<body class=a><body id=b><p>x</p>")
        assert got == '<body class="a" id="b"><p>x</p></body>'


class TestOptionsNotMutated:
    def test_extract_does_not_mutate_caller_options(self):
        from go_readability_spark.readability import (
            ReadabilityOptions,
            extract,
        )

        opts = ReadabilityOptions(forced_page_type="")
        extract("<p>x</p>", opts)
        assert opts.forced_page_type == ""
        assert opts.char_threshold == 500


class TestAdoptionAgencySpec:
    """The FULL WHATWG adoption-agency algorithm + foster parenting
    (round 5 — replaces the round-2 lazy-reconstruction approximation).
    Expected trees are the spec's own worked examples (13.2.10.1-2) and
    the behavior of spec-complete parsers (the reference's
    golang.org/x/net/html, ref internal/parser/parser.go:17-18)."""

    def _body(self, html):
        doc = parse_html(html)
        return "".join(serialize_to_html(c) for c in doc.body.children)

    def test_spec_example_b_p(self):
        # WHATWG 13.2.10.2 "Misnested tags: <b><p></b></p>" — the "3"
        # ends up inside <p>, NOT inside the reconstructed <b> (the
        # outer loop's second pass pops the clone)
        assert self._body("<b>1<p>2</b>3</p>") == "<b>1</b><p><b>2</b>3</p>"

    def test_spec_example_b_i(self):
        # WHATWG 13.2.10.1 "Misnested tags: <b><i></b></i>"
        assert self._body("<p>1<b>2<i>3</b>4</i>5</p>") == (
            "<p>1<b>2<i>3</i></b><i>4</i>5</p>"
        )

    def test_formatting_into_block(self):
        assert self._body("<div><b>x<p>y</b>z</div>") == (
            "<div><b>x</b><p><b>y</b>z</p></div>"
        )

    def test_two_formatting_levels_into_block(self):
        assert self._body("<b><i>1<p>2</b>3") == (
            "<b><i>1</i></b><i><p><b>2</b>3</p></i>"
        )

    def test_a_start_closes_active_a(self):
        assert self._body("<a>1<a>2</a>3</a>") == "<a>1</a><a>2</a>3"

    def test_a_across_paragraph(self):
        assert self._body("<a>1<p>2</a>3</p>") == "<a>1</a><p><a>2</a>3</p>"

    def test_reconstruction_across_paragraphs(self):
        # an unclosed <b> reconstructs in every later paragraph
        assert self._body("<p><b>one</p><p>two</p>") == (
            "<p><b>one</b></p><p><b>two</b></p>"
        )

    def test_noahs_ark_bounds_duplicates(self):
        # at most 3 identical entries reconstruct — not 5
        got = self._body("<p><b><b><b><b><b>x</p><p>y</p>")
        assert got.endswith("<p><b><b><b>y</b></b></b></p>")

    def test_formatting_scope_marker_at_cell(self):
        # formatting never leaks out of a table cell (AFE marker)
        assert self._body("<table><tr><td><b>x</td><td>y</td></tr></table>") == (
            "<table><tbody><tr><td><b>x</b></td><td>y</td></tr></tbody></table>"
        )

    def test_foster_parented_formatting(self):
        # <b> opened in table context is fostered before the table and
        # reconstructed after it closes
        assert self._body("<table><b>x</table>after") == (
            "<b>x</b><table></table><b>after</b>"
        )

    def test_foster_parented_text(self):
        assert self._body("<table>text<td>cell</table>") == (
            "text<table><tbody><tr><td>cell</td></tr></tbody></table>"
        )

    def test_clear_back_to_table_context(self):
        # fostered formatting is popped before the next row inserts —
        # table structure never nests inside fostered content
        assert self._body("<table><em><tr><td>x</td></tr></table>") == (
            "<em></em><table><tbody><tr><td>x</td></tr></tbody></table>"
        )

    def test_stray_cell_in_body_ignored(self):
        # spec "in body": td/tr/tbody/... with no open table are ignored
        assert self._body("<td>bare</td>text") == "baretext"
        assert self._body("<tr><td>a</td></tr>x") == "ax"

    def test_cell_closed_across_block_by_next_row(self):
        assert self._body("<table><tr><td>a<div>x<tr><td>b</table>") == (
            "<table><tbody><tr><td>a<div>x</div></td></tr>"
            "<tr><td>b</td></tr></tbody></table>"
        )

    def test_end_p_without_open_p_inserts_empty(self):
        assert self._body("x</p>y") == "x<p></p>y"

    def test_end_br_acts_as_start(self):
        assert self._body("a</br>b") == "a<br/>b"

    def test_heading_end_matches_any_heading(self):
        assert self._body("<h2>title</h3>after") == "<h2>title</h2>after"

    def test_any_other_end_tag_stops_at_special(self):
        # a stray </span> must not reach across an open block
        assert self._body("<span><div>x</span>y</div>") == (
            "<span><div>xy</div></span>"
        )

    def test_block_end_tag_bounded_by_cell_scope(self):
        # a stray </div> inside a cell must not destroy the table
        assert self._body("<div><table><tr><td>c</div>d</td></tr></table>") == (
            "<div><table><tbody><tr><td>cd</td></tr></tbody></table></div>"
        )

    def test_dd_end_uses_default_scope(self):
        # WHATWG: only </li> searches list-item scope; </dd>/</dt> use
        # default scope, so an intervening <ul> does not shield the dd
        assert self._body("<dl><dd>a<ul><li>b</dd>c</dl>") == (
            "<dl><dd>a<ul><li>b</li></ul></dd>c</dl>"
        )

    def test_foreign_content_honors_self_closing(self):
        # inside <svg>/<math>, the self-closing flag is honored (spec
        # foreign content; x/net/html same) — siblings, not nesting
        assert self._body("<svg><path/><circle/></svg>after") == (
            "<svg><path></path><circle></circle></svg>after"
        )
        assert self._body("<p><svg/>x</p>") == "<p><svg></svg>x</p>"
        # HTML elements still ignore the flag
        assert self._body("<div/>x</div>") == "<div>x</div>"

    def test_html_integration_point_resumes_html_rules(self):
        # inside <foreignObject>/<mtext> the HTML rules resume: a
        # self-closed non-void HTML element stays OPEN again
        assert self._body(
            "<svg><foreignobject><div/>text</foreignobject></svg>"
        ) == "<svg><foreignobject><div>text</div></foreignobject></svg>"
        assert self._body("<math><mtext><span/>x</mtext></math>") == (
            "<math><mtext><span>x</span></mtext></math>"
        )
        # nested: svg inside the integration point is foreign again
        assert self._body(
            "<svg><desc><svg><path/><path/></svg>y</desc></svg>"
        ) == "<svg><desc><svg><path></path><path></path></svg>y</desc></svg>"

    def test_integration_points_are_namespace_specific(self):
        # x/net/html htmlIntegrationPoint / mathMLTextIntegrationPoint:
        # <title> is an integration point only as an SVG element, <mi>
        # only as a MathML one; elsewhere the self-closing flag holds
        assert self._body("<svg><title><foo/>x</title></svg>") == (
            "<svg><title><foo>x</foo></title></svg>"
        )
        assert self._body("<math><title><foo/>x</title></math>") == (
            "<math><title><foo></foo>x</title></math>"
        )
        assert self._body("<svg><mi><foo/>x</mi></svg>") == (
            "<svg><mi><foo></foo>x</mi></svg>"
        )
        # an HTML element inside an integration point is HTML, whatever
        # its tag
        assert self._body(
            "<svg><foreignobject><title><foo/>x</title></foreignobject></svg>"
        ) == "<svg><foreignobject><title><foo>x</foo></title></foreignobject></svg>"

    def test_annotation_xml_needs_html_encoding(self):
        assert self._body(
            "<math><annotation-xml><foo/>x</annotation-xml></math>"
        ) == "<math><annotation-xml><foo></foo>x</annotation-xml></math>"
        for enc in ("text/html", "Application/XHTML+XML"):
            assert self._body(
                f'<math><annotation-xml encoding="{enc}"><foo/>x'
                "</annotation-xml></math>"
            ) == (
                f'<math><annotation-xml encoding="{enc}"><foo>x</foo>'
                "</annotation-xml></math>"
            )
        assert self._body(
            '<math><annotation-xml encoding="image/svg+xml"><foo/>x'
            "</annotation-xml></math>"
        ) == (
            '<math><annotation-xml encoding="image/svg+xml"><foo></foo>x'
            "</annotation-xml></math>"
        )


class TestListItemStops:
    """The <li>/<dt>/<dd> start-tag rule is WHATWG "in body" (x/net/html's
    li loop): the search for the item to close stops at any special
    element but address, div and p, so the new item nests inside it."""

    def _body(self, html):
        doc = parse_html(html)
        return "".join(serialize_to_html(c) for c in doc.body.children)

    def test_center_keeps_the_item_open(self):
        assert self._body("<ul><li>a<center>b<li>c</ul>") == (
            "<ul><li>a<center>b<li>c</li></center></li></ul>"
        )

    def test_button_keeps_the_item_open(self):
        assert self._body("<ul><li>a<button>b<li>c</ul>") == (
            "<ul><li>a<button>b<li>c</li></button></li></ul>"
        )

    def test_li_keeps_the_definition_term_open(self):
        assert self._body("<dl><dt>a<li>b<dt>c</dl>") == (
            "<dl><dt>a<li>b<dt>c</dt></li></dt></dl>"
        )

    def test_div_and_address_do_not_stop_the_close(self):
        assert self._body("<ul><li>a<div>b<li>c</ul>") == (
            "<ul><li>a<div>b</div></li><li>c</li></ul>"
        )
        assert self._body("<ul><li>a<address>b<li>c</ul>") == (
            "<ul><li>a<address>b</address></li><li>c</li></ul>"
        )
        assert self._body("<dl><dt>a<div>b<dd>c</dl>") == (
            "<dl><dt>a<div>b</div></dt><dd>c</dd></dl>"
        )
