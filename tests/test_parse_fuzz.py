"""Parse-robustness fuzz gate (tools/parse_fuzz.py, small fixed-seed run).

Pins the adversarial-HTML campaign results so parser changes can't
silently regress: zero crashes, zero span-sequence violations, and the
serialize→reparse fixpoint holding for ≥96% of worst-case misnested
soup (the residual tail is the formatting-reconstruction × foster-
parenting interplay documented in PARSE_PARITY.md — full WHATWG
dispatcher territory, deliberately out of subset scope)."""

from __future__ import annotations

import random
from pathlib import Path

from go_readability_spark.corpus import generate_corpus
from go_readability_spark.readability.parser import (
    parse_html,
    serialize_document_to_html,
    serialize_to_html,
)

from go_readability_spark.spans import spans_to_html
from tools.parse_fuzz import (
    classify_fixpoint_divergence,
    gen_doc,
    span_sequence,
    tree_digest,
)

N_DOCS = 400
SEED = 1234
MAX_FIXPOINT_VIOLATION_RATE = 0.04
KNOWN_CLASSES = {"li-reclose", "cell-reclose", "text-reorder", "attr-retokenize"}

# tools.parse_fuzz.tree_digest over _tree_docs(): pins the trees
# themselves, so a tree-builder refactor that claims to change no tree
# is checked tree for tree, not by fixpoint classes and counts
TREE_SEEDS = (42, 1234)
TREE_DOCS = 2000
TREE_SHA256 = "79c34bc76346b55ea7e857db5ee046b4b5f68e3401e38646a5312823bf098fd2"
FIXTURE = Path(__file__).parent / "fixtures" / "001" / "source.html"


def _tree_docs() -> list[str]:
    docs = []
    for seed in TREE_SEEDS:
        rng = random.Random(seed)
        docs += [gen_doc(rng) for _ in range(TREE_DOCS)]
    docs += [spans_to_html(spans) for _, spans in generate_corpus(300)]
    docs.append(FIXTURE.read_text(encoding="utf-8"))
    return docs


def test_tree_digest_pin():
    assert tree_digest(_tree_docs()) == TREE_SHA256


def test_fuzz_campaign_invariants():
    rng = random.Random(SEED)
    fixpoint_violations = 0
    for _ in range(N_DOCS):
        html = gen_doc(rng)
        s1 = serialize_document_to_html(parse_html(html))  # never raises
        s2 = serialize_document_to_html(parse_html(s1))
        if s1 != s2:
            fixpoint_violations += 1
            # every divergence must be a CATALOGUED class…
            assert classify_fixpoint_divergence(s1, s2) in KNOWN_CLASSES, s1
            # …and must converge within ≤ 2 further normalization
            # rounds (depth ≤ 3; 99.7% stabilize at depth 2, nested
            # double-foster constructs at 3 — see PARSE_PARITY.md).
            # Never oscillation, never unbounded drift.
            s3 = serialize_document_to_html(parse_html(s2))
            if s3 != s2:
                assert serialize_document_to_html(parse_html(s3)) == s3, s1
        seq = span_sequence(html)  # never raises
        orders = [t[0] for t in seq]
        assert orders == list(range(len(orders)))
        assert all(t[1] in ("text", "media") for t in seq)
    assert fixpoint_violations <= N_DOCS * MAX_FIXPOINT_VIOLATION_RATE


def test_foster_parenting_fixpoint_catalogue():
    """Characterization pins for the residual fixpoint tail — ONE root
    cause, three surface classes (PARSE_PARITY.md catalogue).

    Construct: ``<X><table><Y>`` where Y carries an implied-end rule
    that would close X, and table is open. Per WHATWG in-body rules the
    <li>/<td> loop BREAKS at a special-category element (table), so X
    stays open; Y is then inserted via foster parenting BEFORE the
    table, i.e. inside X. Serialization therefore emits Y between X and
    the table — and a reparse, seeing no table in between any more,
    applies the implied close the table blocked the first time. The
    full WHATWG algorithm (and hence the reference's
    golang.org/x/net/html, internal/parser/parser.go:16-90) produces
    the SAME parse-1 tree and the same reparse divergence: HTML5 itself
    is not serialize→reparse idempotent for foster-parented content.
    Parity > spec: do NOT "fix" parse 1; these pins guard its shape.
    """
    cases = [
        # (input, parse-1 body, reparse body, class)
        (
            "<li><table><li>",
            "<li><li></li><table></table></li>",
            "<li></li><li></li><table></table>",
            "li-reclose",
        ),
        # the round-4 stray-cell divergences are GONE in round 5: a
        # stray <td> with no open table is ignored (spec "in body"),
        # fostered content is popped by "clear the stack back to a
        # table context" before the next cell inserts — both are now
        # serialize-stable
        (
            "<td><table><u><td>",
            "<u></u><table><tbody><tr><td></td></tr></tbody></table>",
            None,
            None,
        ),
        (
            "<th><table><aside><td>",
            "<aside></aside><table><tbody><tr><td></td></tr></tbody></table>",
            None,
            None,
        ),
        (
            "<table><tr>x<td>a",
            "x<table><tbody><tr><td>a</td></tr></tbody></table>",
            None,  # foster-parented TEXT lands before the table: stable
            None,
        ),
    ]
    for src, body1, body2, cls in cases:
        s1 = serialize_document_to_html(parse_html(src))
        assert f"<body>{body1}</body>" in s1, (src, s1)
        s2 = serialize_document_to_html(parse_html(s1))
        if body2 is None:
            assert s1 == s2, (src, s1, s2)
            continue
        assert f"<body>{body2}</body>" in s2, (src, s2)
        assert classify_fixpoint_divergence(s1, s2) == cls, (src, s1, s2)
        # depth-2 convergence: the normalized form is a true fixpoint
        assert serialize_document_to_html(parse_html(s2)) == s2, src


def test_tr_start_closes_open_row():
    """Found by fuzz round 2: a <tr> while an unclosed cell is open must
    close the whole row (HTML5 implied ends), not just the cell."""
    cases = {
        "<table><tr><td>a<tr><td>b</table>":
            "<table><tbody><tr><td>a</td></tr>"
            "<tr><td>b</td></tr></tbody></table>",
        "<table><tr><td>a</td><td>b<tr><td>c</table>":
            "<table><tbody><tr><td>a</td><td>b</td></tr>"
            "<tr><td>c</td></tr></tbody></table>",
        "<table><tbody><tr><td>a<tbody><tr><td>b</table>":
            "<table><tbody><tr><td>a</td></tr></tbody>"
            "<tbody><tr><td>b</td></tr></tbody></table>",
    }
    for src, want_body in cases.items():
        got = serialize_document_to_html(parse_html(src))
        assert f"<body>{want_body}</body>" in got, src


def test_table_start_closes_open_table_but_not_in_cell():
    """<table> in row/table context acts as </table> first; a table
    inside a CELL stays nested (td bounds the scope search)."""
    got = serialize_document_to_html(
        parse_html("<table><tr><td>a</td><table><tr><td>b</table>")
    )
    assert (
        "<table><tbody><tr><td>a</td></tr></tbody></table>"
        "<table><tbody><tr><td>b</td></tr></tbody></table>" in got
    )
    nested = serialize_document_to_html(
        parse_html("<table><tr><td><table><tr><td>x</table></td></tr></table>")
    )
    assert (
        "<td><table><tbody><tr><td>x</td></tr></tbody></table></td>"
        in nested
    )


def test_li_does_not_close_across_special_boundary():
    """A new <li> must not close a list item through an intervening
    special element (here <section>) — HTML5 generate-implied-ends."""
    got = serialize_document_to_html(
        parse_html("<ul><li>a<section><li>b</section></li></ul>")
    )
    assert "<li>a<section><li>b</li></section></li>" in got


def test_script_text_escaped_like_reference():
    """The REFERENCE serializer escapes script text like any text node
    (parser.go:134-136) even though script content parses as raw text —
    we match that byte-for-byte (parity over spec), which makes
    serialize→reparse of entity-bearing script content deliberately
    non-idempotent. Pinned so nobody 'fixes' it away from parity."""
    doc = parse_html("<script>var a = '<p>';</script>")
    out = serialize_to_html(doc.document_element)
    assert "var a = &#39;&lt;p&gt;&#39;;" in out


def test_classifier_rejects_uncatalogued_divergence():
    """'text-reorder' is not a catch-all: a divergence with no implied
    re-close and no table at the site must classify as 'unknown' so the
    campaign gate can actually fail on a new divergence shape."""
    from tools.parse_fuzz import classify_fixpoint_divergence

    s1 = "<p>hello brave world</p>"
    s2 = "<p>hello wrold brave</p>"          # no table anywhere
    assert classify_fixpoint_divergence(s1, s2) == "unknown"
    # a long end-tag run (formerly >300-char window) must not crash and
    # must still find the re-closed <li> at its end
    run = "".join(f"</{t}>" for t in ["b", "i", "em", "strong"] * 30)
    s1b = "<li>x<ul>y"
    s2b = f"<li>x{run}</li><ul>y"
    assert classify_fixpoint_divergence(s1b, s2b) == "li-reclose"
