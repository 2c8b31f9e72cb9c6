"""The parser's own tokenizer against html.parser, its oracle.

``readability.parser._tokenize`` must call the tree builder's four
handlers exactly as CPython 3.11.7's
``HTMLParser(convert_charrefs=True).feed(html); close()`` did when the
builder subclassed it, data chunking included: the builder's
whitespace, foster-parenting and ``<pre>``-newline rules look at each
chunk. The recorder and the oracle stream live in ``tools/parse_fuzz.py``
(its fourth per-document invariant runs the same comparison over a whole
campaign).

The live comparison needs the interpreter whose html.parser defined the
behaviour: later CPython releases changed its comment and script
handling. The sha256 pin of the same streams, computed with 3.11.7's
html.parser, holds the tokenizer to that behaviour on any interpreter.
The one intended difference, ``<![`` sections html.parser raises on, is
tested on its own below.
"""

from __future__ import annotations

import hashlib
import json
import random
import sys
from pathlib import Path

import pytest

from go_readability_spark.corpus import generate_corpus, generate_doc
from go_readability_spark.operators.extract import extract_batch_rows
from go_readability_spark.readability.parser import (
    parse_html,
    serialize_document_to_html,
)
from go_readability_spark.spans import spans_to_html
from tools.parse_fuzz import gen_doc, stdlib_token_stream, token_stream

FUZZ_SEEDS = (42, 1234)  # tools/parse_fuzz.py's default, tests/test_parse_fuzz.py's
FUZZ_DOCS = 400
FIXTURE = Path(__file__).parent / "fixtures" / "001" / "source.html"

QUIRKS = [
    # charrefs decoded per text chunk and in attribute values, not in
    # raw text or in a start tag that turns into text
    "a &amp; b &lt;c&gt; &#65;&#x42; &bogus; &amp",
    "<p title='x&lt;y' data-a=\"&amp;amp\" b=c&d>t</p>",
    "a&#1",
    "x &amp",
    # a "<" that starts no markup is its own chunk
    "a < b <3 <é <",
    "a<",
    # attrfind_tolerant: "<" inside a name, "=+" runs, bare values,
    # valueless attributes, odd separators
    "<article <select>x</select>",
    "<a b==c d = 'e' f=g/>x</a>",
    "<a href=x/>y",
    "<input disabled checked=checked value=''>",
    "<a/b>c</a>",
    "<P CLASS=X ID='Y'>z</P>",
    "<br/><br /><img src=a alt='b'/>",
    "<a b='1'c=\"2\"d=3>e</a>",
    "<a\x0bb=1>x</a><a\xa0b>y</a>",
    "<div\n  class=\"x\"\n  id=y\n>z</div>",
    "<a b=\"x>y\" c='>'>q</a>",
    "<x-media ref='media://img/1' alt='m'/>t",
    # a start tag not closed by ">" or "/>" becomes (undecoded) text
    "<a\x00>b",
    "<a b='x' 'y>z",
    "<a &amp; b='&amp;' \x00>t",
    # end of input inside a construct (html.parser's close() path)
    "text<div class='a",
    "text<div class='a' <b>c",
    "a</x",
    "a</x <b",
    "a<!-- b",
    "a<!-- b > c",
    "a<!",
    "a<?pi",
    "a<![",
    "a<![CDATA[x",
    "a<!doctype",
    # end tags
    "a</>b",
    "a</ 3>b",
    "<p>a</p junk>b</p\tx=y>c",
    "<b>a</b >b</ b>c</B>",
    "a</a<b>c",
    # raw text: script/style up to a case-insensitive close, no charref
    # decoding, unterminated drops the rest
    "<script>if (a<b && c>d) x = '&amp;';</SCRIPT >after",
    "<style>p { content: '</p>' }</style  >x",
    "<script>never closed <p>lost</p>",
    "<script>a</ſcript>b</script>c",
    "<script/>x<style/>y",
    "<script type=text/javascript>1</script><script\tsrc=x>2</script>",
    # comments, doctype, <?...>, marked sections are dropped
    "<!DOCTYPE html><!-- c --><?xml v?><!x>a<!>b<!--->c<!-- -- >d",
    "<![CDATA[a>b]]>after",
    "<![if IE]>x<![endif]>y",
    # NUL bytes and other control characters
    "a\x00b<p>\x00</p>\x00",
    "<p\x00>x</p\x00>",
    # <pre> newline handling sees the first chunk
    "<pre>\nline</pre><pre>&#10;x</pre><textarea>\n\nx</textarea>",
    "<table>x<tr><td>a</td></tr> \n</table>",
]

# sha256 over the json of every document's stream, in the order of
# _pinned_docs(), computed with CPython 3.11.7's html.parser
STREAM_SHA256 = "b376e7b066864d48777a3c923f4ac993a40118ca9732eb3ecd4b93d30a7506a9"


def _pinned_docs() -> list[str]:
    docs = []
    for seed in FUZZ_SEEDS:
        rng = random.Random(seed)
        docs += [gen_doc(rng) for _ in range(FUZZ_DOCS)]
    docs += [spans_to_html(spans) for _, spans in generate_corpus(200)]
    docs.append(spans_to_html(generate_doc("syn-giant-000001")))
    docs.append(FIXTURE.read_text(encoding="utf-8"))
    return docs + QUIRKS


def _digest(streams) -> str:
    h = hashlib.sha256()
    for events in streams:
        h.update(json.dumps(events).encode("ascii"))
        h.update(b"\n")
    return h.hexdigest()


@pytest.fixture(scope="module")
def docs():
    return _pinned_docs()


def test_streams_match_pin(docs):
    assert _digest(token_stream(d) for d in docs) == STREAM_SHA256


@pytest.mark.skipif(
    sys.version_info[:3] != (3, 11, 7),
    reason="the oracle is CPython 3.11.7's html.parser; the pin covers others",
)
class TestAgainstHtmlParser:
    def test_quirks(self):
        for doc in QUIRKS:
            assert token_stream(doc) == stdlib_token_stream(doc), repr(doc)

    def test_documents(self, docs):
        for doc in docs:
            assert token_stream(doc) == stdlib_token_stream(doc), doc[:200]

    def test_random_markup_soup(self):
        """Short strings over markup fragments, where every tolerant
        branch and the fast/tolerant boundary meet."""
        atoms = [
            "<", ">", "/", "!", "-", "?", "[", "]", "=", "'", '"', " ", "\n",
            "\t", "\x0b", "\xa0", "\x00", "a", "p", "div", "script", "x",
            "&amp;", "&", "&#1", "<a", "</a>", "</", "<!--", "-->", "<!",
            "<?", "/>", "href", "`", "<script>", "</script>", "<P CLASS=X>",
            "</ſcript>", "<br/>", ":", "x-media",
        ]
        rng = random.Random(3)
        for _ in range(3000):
            doc = "".join(rng.choices(atoms, k=rng.randint(1, 24)))
            try:
                expected = stdlib_token_stream(doc)
            except AssertionError:
                continue  # "<![": the intended difference, tested below
            assert token_stream(doc) == expected, repr(doc)


@pytest.mark.parametrize("doc", ["<p>a<![foo[x]]>b", "<p>a<![ x]>b"])
def test_unknown_marked_section_is_a_bogus_comment(doc):
    """html.parser raises AssertionError on these, which made the whole
    document an error row; they are bogus comments up to the next ">",
    as in x/net/html."""
    assert token_stream(doc) == [
        ("start", "p", [], None),
        ("data", None, None, "a"),
        ("data", None, None, "b"),
    ]
    assert serialize_document_to_html(parse_html(doc)).endswith(
        "<body><p>ab</p></body></html>"
    )
    [row] = extract_batch_rows(
        ["d"], [[{"kind": "text", "text": doc, "media_ref": "", "offset": 0}]], [0]
    )
    assert row["error"] is None
