"""HTML parsing into the virtual DOM.

The reference parses with golang.org/x/net/html (a WHATWG HTML5 parser) and
converts to its VDOM (/root/reference/internal/parser/parser.go:16-126):
tags lowercased (:98), comments/doctype dropped (:124), a body synthesized
when absent (:70-82), and the <html> element's own attributes dropped
(:47 creates a fresh "html" element).

html5lib is not available in this environment, so this module implements an
HTML5-*subset* tree builder on its own tokenizer (``_tokenize``). The
tokenizer is one master regex run as a ``match`` loop: its alternatives
take text, a well-formed start tag and a simple end tag, and one
tolerant branch in the same loop takes every other ``<``. It emits
exactly the callback stream CPython 3.11.7's
``html.parser.HTMLParser(convert_charrefs=True)`` gave the builder
(tests/test_tokenizer.py holds it to that stream and to a sha256 pin of
it), so the trees are the ones the stdlib-backed builder built, on any
interpreter. The html.parser quirks it reproduces:

- charrefs are decoded per text chunk and in attribute values; the data
  chunks are html.parser's (text up to the next ``<``), since the
  builder's whitespace, foster-parenting and ``<pre>`` rules look at
  each chunk
- a ``<`` that starts no markup is a ``"<"`` chunk of its own
- attribute scanning follows ``attrfind_tolerant``: a name may contain
  ``<`` (the catalogued ``attr-retokenize`` fuzz class), ``=`` may
  repeat, bare values run to whitespace or ``>``, a valueless attribute
  is ``None`` (``""`` in the tree)
- a start tag not closed by ``>`` or ``/>`` becomes undecoded text, and
  at end of input an unterminated ``<tag``, ``</x`` or ``<!--`` becomes
  text up to the next ``>`` or ``<`` (html.parser's ``close()``)
- ``</>`` is dropped, ``</ 3>`` is a bogus comment, ``</name junk>``
  ends ``name``
- script/style content is raw text up to its end tag (any case,
  whitespace allowed around the name); an unterminated one drops the
  rest of the input
- comments, doctype, ``<?...>`` and marked sections are dropped;
  ``<![CDATA[...]]>`` and ``<![if ...]>`` through their close, any other
  ``<![`` (on which html.parser raises) as a bogus comment up to the next
  ``>``, as in x/net/html

The tree builder covers the constructions the extraction algorithm is
sensitive to:

- void elements never take children
- ``<p>`` is implicitly closed by block-level start tags, ``<option>`` by
  ``<option>``/``<optgroup>``; ``<li>``/``<dt>``/``<dd>`` close an open
  item by the spec's "in body" rule (the search stops at any special
  element but address, div and p); rows, cells and table sections are
  closed by the "clear the stack back to a table context" rule
- head/body synthesis with head-only elements kept in <head>
- one newline immediately after ``<pre>``/``<textarea>``/``<listing>``
  start tags is dropped (HTML5 tokenizer rule honoured by x/net/html)
- ``<x-media .../>`` — OUR span-codec placeholder, not an HTML tag — is
  treated as void so interleaved media refs never swallow siblings
- the WHATWG **adoption-agency algorithm** for misnested formatting tags
  (list of active formatting elements with markers, Noah's-Ark clause,
  reconstruction, the full outer/inner loop) — ``<b>1<p>2</b>3</p>``
  produces the spec's example tree
- **table foster parenting**: non-table content opened in table context
  (start tags, reconstructed formatting, character data) is inserted
  before the nearest open table per the spec's "appropriate place"
- spec end-tag scoping: "any other end tag" stops at special elements,
  block end tags are scope-bounded (a stray ``</div>`` inside a table
  cell no longer destroys the table), ``</p>`` with no open p inserts
  an empty one, ``</br>`` acts as ``<br>``, ``</hN>`` closes any open
  heading

- **tbody/tr synthesis**: rows opened directly under <table> get a
  tbody; cells opened under <table>/a section get tbody and/or tr
  synthesized (the "in table"/"in table body" reprocess rules)

Not implemented (golden corpora avoid them; fixture-001 does not use
them): the "in template" insertion modes (template children parse
inline under the template element — the same placement x/net/html
produces, and the AFE marker keeps formatting from leaking — but
standalone table parts inside a template are dropped by the stray-
structure rule instead of being collected), and SVG/MathML namespaces
(foreign tags parse lowercased as plain elements — matching the
reference VDOM's lowercasing — with the self-closing flag and HTML
integration points honored).
"""

from __future__ import annotations

import re
from html import unescape

from .vdom import (
    VDocument, VElement, VText, child_nodes, detach, fold, last_index,
)

__all__ = [
    "parse_html",
    "serialize_to_html",
    "serialize_document_to_html",
    "serialize_to_writer",
    "serialize_document_to_writer",
]

VOID_ELEMENTS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
    "x-media",  # our media placeholder (span codec), void by definition
})

HEAD_ONLY = frozenset({
    "base", "basefont", "bgsound", "link", "meta", "title", "noframes",
    "style", "script", "template",
})

# Start tags that implicitly close an open <p> (HTML5 "close a p element")
P_CLOSERS = frozenset({
    "address", "article", "aside", "blockquote", "details", "dialog", "dir",
    "div", "dl", "fieldset", "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6", "header", "hgroup", "hr", "main",
    "menu", "nav", "ol", "p", "pre", "section", "table", "ul", "dd", "dt",
    "li", "xmp", "listing",
})

# tag -> the open elements its start tag implicitly closes: the innermost
# match, searched out from the current node, is popped with everything
# above it, and a stop element (_implicit_close) ends the search first.
# Table rows, cells and sections have no entry: the "clear the stack back
# to a table context" rule (_TABLE_STRUCTURE_CLEAR) pops those.
SIBLING_CLOSERS: dict[str, frozenset[str]] = {
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "option": frozenset({"option"}),
    "optgroup": frozenset({"option", "optgroup"}),
    # HTML5 "in table" mode: a <table> start tag acts as </table> first.
    # The td/th/caption scope boundaries keep legitimate nested tables
    # (inside a cell) open — only a table started in row/table context
    # (e.g. directly inside <tr>) closes the outer one.
    "table": frozenset({"table"}),
}

# Elements that bound the implicit-close search (approximate HTML5 scopes)
SCOPE_BOUNDARIES = frozenset({
    "html", "body", "table", "td", "th", "caption", "template", "applet",
    "object", "marquee", "select",
})

PRE_LIKE = frozenset({"pre", "textarea", "listing"})

# HTML5 "active formatting elements" (WHATWG 13.2.4.3) — the exact spec
# set; their end tags run the adoption-agency algorithm
FORMATTING_ELEMENTS = frozenset({
    "a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
    "strike", "strong", "tt", "u",
})

# WHATWG "special" category (HTML namespace; foreign content omitted —
# no SVG/MathML support). Used for the adoption agency's furthest-block
# search and the "any other end tag" stop rule.
SPECIAL_ELEMENTS = frozenset({
    "address", "applet", "area", "article", "aside", "base", "basefont",
    "bgsound", "blockquote", "body", "br", "button", "caption", "center",
    "col", "colgroup", "dd", "details", "dir", "div", "dl", "dt", "embed",
    "fieldset", "figcaption", "figure", "footer", "form", "frame",
    "frameset", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header",
    "hgroup", "hr", "html", "iframe", "img", "input", "keygen", "li",
    "link", "listing", "main", "marquee", "menu", "meta", "nav", "noembed",
    "noframes", "noscript", "object", "ol", "p", "param", "plaintext",
    "pre", "script", "search", "section", "select", "source", "style",
    "summary", "table", "tbody", "td", "template", "textarea", "tfoot",
    "th", "thead", "title", "tr", "track", "ul", "wbr", "xmp",
})

# WHATWG default scope ("has an element in scope" boundary set)
DEFAULT_SCOPE = frozenset({
    "applet", "caption", "html", "table", "td", "th", "marquee", "object",
    "template",
})
_LIST_ITEM_SCOPE = DEFAULT_SCOPE | frozenset({"ol", "ul"})
_BUTTON_SCOPE = DEFAULT_SCOPE | frozenset({"button"})
_TABLE_SCOPE = frozenset({"html", "table", "template"})
# WHATWG "in body" <li>/<dd>/<dt> loop (x/net/html's li case): the search
# for the item to close stops at any special element but address, div
# and p — so a new <li> nests inside an open <section>, <ul> or <button>
_LIST_ITEMS = frozenset({"li", "dt", "dd"})
_LIST_ITEM_STOPS = SPECIAL_ELEMENTS - {"address", "div", "p"}
_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_TABLE_END_TAGS = frozenset({
    "table", "td", "th", "tr", "tbody", "thead", "tfoot", "caption",
    "col", "colgroup",
})

# tag -> (match set, boundary set) for scope-bounded end-tag searches,
# precomputed off the hot path (formatting tags are excluded: they run
# the adoption agency; anything absent uses "any other end tag")
_END_TAG_RULES: dict[str, tuple[frozenset[str], frozenset[str]]] = {}
for _t in _HEADINGS:
    _END_TAG_RULES[_t] = (_HEADINGS, DEFAULT_SCOPE)
for _t in _TABLE_END_TAGS:
    _END_TAG_RULES[_t] = (frozenset({_t}), _TABLE_SCOPE)
_END_TAG_RULES["p"] = (frozenset({"p"}), _BUTTON_SCOPE)
# only </li> searches in LIST ITEM scope (WHATWG "in body"); </dd> and
# </dt> take the default-scope rule from the SPECIAL_ELEMENTS fallback
# below — an intervening <ul>/<ol> does not shield an open <dd> from
# its end tag (x/net/html popUntil(defaultScope))
_END_TAG_RULES["li"] = (frozenset({"li"}), _LIST_ITEM_SCOPE)
for _t in SPECIAL_ELEMENTS:
    if _t not in _END_TAG_RULES:
        _END_TAG_RULES[_t] = (frozenset({_t}), DEFAULT_SCOPE)
del _t

# Elements whose insertion pushes a MARKER onto the active-formatting
# list; popping any of them clears the list back to (and including) the
# last marker — formatting never leaks out of a cell/caption/template.
MARKER_TAGS = frozenset({
    "td", "th", "caption", "applet", "object", "marquee", "template",
})

# HTML integration points (WHATWG tree construction; x/net/html's
# htmlIntegrationPoint and mathMLTextIntegrationPoint): inside these,
# token processing resumes the HTML rules even under an open <svg>/
# <math>. Each counts only in its own namespace — an SVG <title> is one,
# a MathML <title> is not — and a MathML annotation-xml only with an
# HTML encoding attribute.
_SVG_INTEGRATION_POINTS = frozenset({"foreignobject", "desc", "title"})
_MATHML_INTEGRATION_POINTS = frozenset({"mi", "mo", "mn", "ms", "mtext"})
_HTML_ENCODINGS = frozenset({"text/html", "application/xhtml+xml"})

# Start tags that do NOT reconstruct active formatting elements before
# insertion ("in body" spec: block/structure tags close <p> and insert
# directly; everything else — formatting, phrasing, voids like <br>,
# unknown elements — reconstructs first).
_NO_RECONSTRUCT = P_CLOSERS | frozenset({
    "tr", "td", "th", "thead", "tbody", "tfoot", "caption", "col",
    "colgroup", "frame", "frameset", "head", "body", "html",
})

# "Clear the stack back to a table/table-body/row context" stop sets
# (WHATWG "in table"/"in table body"/"in row" modes): when one of these
# structure tags arrives while a table is open, anything dangling above
# the context — e.g. a formatting element that was foster-parented
# before the table — is popped first, so table structure never nests
# inside fostered content. Applied only when a table is in table scope;
# with no open table the token is IGNORED (spec "in body" rule for
# stray caption/col/tbody/td/tr/... tokens).
_TABLE_STRUCTURE_CLEAR: dict[str, frozenset[str]] = {
    "tr": frozenset({"tbody", "thead", "tfoot", "table", "html"}),
    "td": frozenset({"tr", "tbody", "thead", "tfoot", "table", "html"}),
    "th": frozenset({"tr", "tbody", "thead", "tfoot", "table", "html"}),
    "tbody": frozenset({"table", "html"}),
    "thead": frozenset({"table", "html"}),
    "tfoot": frozenset({"table", "html"}),
    "caption": frozenset({"table", "html"}),
    "col": frozenset({"table", "html"}),
    "colgroup": frozenset({"table", "html"}),
}

# Simplified foster parenting: while one of these is the current node,
# content other than table structure is inserted BEFORE the open table
_TABLE_CONTEXT = frozenset({"table", "thead", "tbody", "tfoot", "tr"})
_TABLE_ALLOWED = frozenset({
    "caption", "colgroup", "col", "thead", "tbody", "tfoot", "tr", "td",
    "th", "script", "style", "template", "form",
})


class _TreeBuilder:
    def __init__(self) -> None:
        self.root = VElement("html")  # <html> attrs dropped (parser.go:47)
        self.head: VElement | None = None
        self.body: VElement | None = None
        self.stack: list[VElement] = [self.root]
        self.mode = "before_head"
        # WHATWG "list of active formatting elements": VElement entries
        # interleaved with None markers (pushed when a cell/caption/
        # applet-family element opens). Drives reconstruction and the
        # adoption-agency algorithm. Entries compare by IDENTITY
        # (VElement defines no __eq__), which is what every `in`/`is`
        # below relies on.
        self.afe: list[VElement | None] = []

    # -- helpers -------------------------------------------------------
    def _current(self) -> VElement:
        return self.stack[-1]

    def _ensure_head(self) -> None:
        if self.head is None:
            self.head = VElement("head")
            self.root.append_child(self.head)

    def _ensure_body(self) -> None:
        self._ensure_head()
        if self.body is None:
            self.body = VElement("body")
            self.root.append_child(self.body)
        if self.mode != "in_body":
            # drop any open head-structure from the stack
            self.stack = [self.root, self.body]
            self.mode = "in_body"

    @staticmethod
    def _make_element(tag: str, attrs) -> VElement:
        el = VElement(tag)
        for name, value in attrs:
            # duplicate attributes: first one wins (HTML5 tokenizer rule)
            if name not in el.attributes:
                el.attributes[name] = value if value is not None else ""
        return el

    @staticmethod
    def _clone(el: VElement) -> VElement:
        c = VElement(el.tag_name)
        c.attributes.update(el.attributes)
        return c

    def _append_node(self, node: VElement, target: VElement | None = None) -> None:
        """Insert at the spec's "appropriate place for inserting a node":
        inside ``target`` (default: current node), except that non-table
        content landing in table context is FOSTER-PARENTED before the
        nearest open table."""
        tgt = self.stack[-1] if target is None else target
        if (
            tgt.tag_name in _TABLE_CONTEXT
            and node.tag_name not in _TABLE_ALLOWED
            and node.tag_name != "table"
        ):
            point = self._foster_point()
            if point is not None:
                parent, idx = point
                node.parent = parent
                parent.children.insert(idx, node)
                return
        tgt.append_child(node)

    def _insert_pushed(self, tag: str) -> None:
        """Synthesize an attribute-less element at the current node."""
        el = VElement(tag)
        self.stack[-1].append_child(el)
        self.stack.append(el)

    def _pop_upto(self, i: int) -> None:
        """``del stack[i:]`` with marker bookkeeping: popping a cell/
        caption/applet-family element clears the active-formatting list
        back to its marker (formatting never leaks out of those)."""
        stack = self.stack
        for el in stack[i:]:
            if el.tag_name in MARKER_TAGS:
                afe = self.afe
                while afe:
                    if afe.pop() is None:
                        break
        del stack[i:]

    def _has_in_scope(self, tag: str) -> bool:
        for i in range(len(self.stack) - 1, 0, -1):
            t = self.stack[i].tag_name
            if t == tag:
                return True
            if t in DEFAULT_SCOPE:
                return False
        return False

    # -- active formatting elements (WHATWG 13.2.4.3) -------------------
    def _reconstruct_afe(self) -> None:
        """Reconstruct the active formatting elements: clone every entry
        after the last marker that is no longer on the open stack, in
        list order, making the last clone the current node."""
        afe = self.afe
        if not afe:
            return
        stack = self.stack
        entry = afe[-1]
        # `in` is identity-based membership here (VElement has no
        # __eq__), evaluated as a C-level scan
        if entry is None or entry in stack:
            return
        i = len(afe) - 1
        while i > 0:
            prev = afe[i - 1]
            if prev is None or prev in stack:
                break
            i -= 1
        for j in range(i, len(afe)):
            clone = self._clone(afe[j])
            self._append_node(clone)
            self.stack.append(clone)
            afe[j] = clone

    def _push_formatting(self, el: VElement) -> None:
        """Append to the active-formatting list with the Noah's Ark
        clause: at most three entries with identical tag + attributes
        since the last marker (the earliest is evicted)."""
        afe = self.afe
        count = 0
        for j in range(len(afe) - 1, -1, -1):
            e = afe[j]
            if e is None:
                break
            if e.tag_name == el.tag_name and e.attributes == el.attributes:
                count += 1
                if count == 3:
                    del afe[j]
                    break
        afe.append(el)

    def _adoption_agency(self, subject: str) -> None:
        """The WHATWG adoption-agency algorithm (13.2.6.4.7 "in body",
        any end tag whose tag name is a formatting element). Direct
        transcription of the spec's outer/inner loops onto this
        builder's (stack, afe) — the reference gets this via
        x/net/html's parser (ref internal/parser/parser.go:17-18)."""
        stack, afe = self.stack, self.afe
        if len(stack) <= 1:
            return
        cur = stack[-1]
        if cur.tag_name == subject:
            # balanced-tag fast paths (the overwhelmingly common case):
            # the current node is the subject. If it IS the last AFE
            # entry, the general algorithm resolves to exactly
            # pop-both (fmt = afe[-1] = cur, on stack, in scope, no
            # special element below it → no furthest block); if it is
            # in no AFE entry at all, the spec's step 2 pops it.
            if afe and afe[-1] is cur:
                stack.pop()
                afe.pop()
                return
            if not any(cur is e for e in afe):
                stack.pop()
                return
        for _ in range(8):  # outer loop
            # formatting element: last matching entry after the last marker
            fmt = None
            fmt_afe = -1
            for j in range(len(afe) - 1, -1, -1):
                e = afe[j]
                if e is None:
                    break
                if e.tag_name == subject:
                    fmt, fmt_afe = e, j
                    break
            if fmt is None:
                self._any_other_end_tag(subject)
                return
            fmt_stack = last_index(stack, fmt)
            if fmt_stack < 0:  # in list but not on stack: drop entry
                del afe[fmt_afe]
                return
            in_scope = False
            for i in range(len(stack) - 1, 0, -1):
                el = stack[i]
                if el is fmt:
                    in_scope = True
                    break
                if el.tag_name in DEFAULT_SCOPE:
                    break
            if not in_scope:
                return  # parse error; token ignored
            # furthest block: first special element deeper than fmt
            fb = None
            fb_stack = -1
            for i in range(fmt_stack + 1, len(stack)):
                if stack[i].tag_name in SPECIAL_ELEMENTS:
                    fb, fb_stack = stack[i], i
                    break
            if fb is None:
                # nothing special above fmt (so no marker tags either:
                # all MARKER_TAGS are special) — plain pop through fmt
                del stack[fmt_stack:]
                del afe[fmt_afe]
                return
            common = stack[fmt_stack - 1]
            bookmark = fmt_afe
            node_idx = fb_stack
            last_node = fb
            inner = 0
            while True:  # inner loop
                inner += 1
                node_idx -= 1
                node = stack[node_idx]
                if node is fmt:
                    break
                node_afe = last_index(afe, node)
                if inner > 3 and node_afe != -1:
                    del afe[node_afe]
                    if node_afe < bookmark:
                        bookmark -= 1
                    node_afe = -1
                if node_afe == -1:
                    # between fmt and fb there are no special elements,
                    # hence no markers — single-entry removal is safe
                    del stack[node_idx]
                    continue
                clone = self._clone(node)
                afe[node_afe] = clone
                stack[node_idx] = clone
                node = clone
                if last_node is fb:
                    bookmark = node_afe + 1
                detach(last_node)
                node.append_child(last_node)
                last_node = node
            detach(last_node)
            self._append_node(last_node, target=common)
            clone = self._clone(fmt)
            for ch in fb.children:
                ch.parent = clone
            clone.children = fb.children
            fb.children = []
            fb.append_child(clone)
            fa = last_index(afe, fmt)
            if fa != -1:
                del afe[fa]
                if fa < bookmark:
                    bookmark -= 1
            bookmark = max(0, min(bookmark, len(afe)))
            afe.insert(bookmark, clone)
            fi = last_index(stack, fmt)
            if fi != -1:
                del stack[fi]
            fb_stack = last_index(stack, fb)
            if fb_stack != -1:
                stack.insert(fb_stack + 1, clone)
            # outer loop re-runs: with no special element left above the
            # clone it takes the no-furthest-block branch next pass,
            # which is what puts following content into the block (the
            # spec's own <b>1<p>2</b>3 example ends with "3" inside <p>)

    def _any_other_end_tag(self, tag: str) -> None:
        """Spec "any other end tag": pop to the matching element, but a
        special element encountered first means the token is ignored
        (an unmatched ``</span>`` no longer reaches across blocks)."""
        stack = self.stack
        for i in range(len(stack) - 1, 0, -1):
            t = stack[i].tag_name
            if t == tag:
                self._pop_upto(i)
                return
            if t in SPECIAL_ELEMENTS:
                return

    def _implicit_close(self, tag: str) -> None:
        """Pop elements that the HTML5 algorithm would close before ``tag``."""
        if tag in P_CLOSERS:
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag_name
                if t == "p":
                    self._pop_upto(i)
                    break
                if t in SCOPE_BOUNDARIES:
                    break
        closers = SIBLING_CLOSERS.get(tag)
        if closers:
            stops = _LIST_ITEM_STOPS if tag in _LIST_ITEMS else SCOPE_BOUNDARIES
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag_name
                if t in closers:
                    self._pop_upto(i)
                    break
                if t in stops:
                    break

    # -- tokenizer callbacks -------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "html":
            return  # root exists; x/net/html attrs are dropped anyway
        if tag == "head":
            if self.mode == "before_head":
                self._ensure_head()
                self.stack = [self.root, self.head]
                self.mode = "in_head"
            return
        if tag == "body":
            self._ensure_body()
            if self.body is not None:
                # per-attribute merge: a repeated <body> tag contributes
                # each attribute the body doesn't already have
                # (x/net/html body-in-body rule)
                for name, value in attrs:
                    if name not in self.body.attributes:
                        self.body.attributes[name] = (
                            value if value is not None else ""
                        )
            return

        if self.mode == "before_head":
            if tag in HEAD_ONLY:
                self._ensure_head()
                self.stack = [self.root, self.head]
                self.mode = "in_head"
            else:
                self._ensure_body()
        elif self.mode == "in_head":
            if tag not in HEAD_ONLY and self._current() is self.head:
                self._ensure_body()
        elif self.mode == "after_head":
            # content after an explicit </head> with no <body> tag must
            # still synthesize and enter body (x/net/html :70-82)
            if tag not in HEAD_ONLY:
                self._ensure_body()

        if tag in FORMATTING_ELEMENTS:
            if tag == "a":
                # spec <a> rule: a second <a> while one is still active
                # force-closes the first via the adoption agency
                afe = self.afe
                for j in range(len(afe) - 1, -1, -1):
                    e = afe[j]
                    if e is None:
                        break
                    if e.tag_name == "a":
                        self._adoption_agency("a")
                        for seq in (afe, self.stack):
                            k = last_index(seq, e)
                            if k != -1:
                                del seq[k]
                        break
            self._reconstruct_afe()
            if tag == "nobr" and self._has_in_scope("nobr"):
                self._adoption_agency("nobr")
                self._reconstruct_afe()
            el = self._make_element(tag, attrs)
            self._append_node(el)
            self.stack.append(el)
            self._push_formatting(el)
            return

        # implicit closes run BEFORE reconstruction and the foster-aware
        # insert so that a tag which closes a fostered element (e.g. the
        # second <p> of <table><p>one<p>two) re-enters table context and
        # fosters too
        self._implicit_close(tag)

        clear = _TABLE_STRUCTURE_CLEAR.get(tag)
        if clear is not None:
            stack = self.stack
            table_open = False
            for i in range(len(stack) - 1, 0, -1):
                t = stack[i].tag_name
                if t == "table":
                    table_open = True
                    break
                if t == "html":
                    break
            if not table_open:
                return  # spec "in body": stray table-structure tag ignored
            while len(stack) > 1 and stack[-1].tag_name not in clear:
                self._pop_upto(len(stack) - 1)
            # tbody/tr synthesis (WHATWG "in table"/"in table body"
            # reprocess rules, what x/net/html emits): a row opened
            # directly under <table> gets a tbody; a cell opened under
            # <table> or a section gets tbody and/or tr synthesized
            cur = stack[-1].tag_name
            if tag == "tr" and cur == "table":
                self._insert_pushed("tbody")
            elif tag in ("td", "th"):
                if cur == "table":
                    self._insert_pushed("tbody")
                    cur = "tbody"
                if cur in ("tbody", "thead", "tfoot"):
                    self._insert_pushed("tr")

        if self.afe and tag not in _NO_RECONSTRUCT:
            self._reconstruct_afe()

        el = self._make_element(tag, attrs)
        self._append_node(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)
        if tag in MARKER_TAGS:
            self.afe.append(None)

    def handle_startendtag(self, tag: str, attrs) -> None:
        # "<div/>" on a non-void HTML element: x/net/html ignores the
        # self-closing flag and keeps the element open — same code path
        # as a plain start tag. FOREIGN content honors the flag (spec
        # "in foreign content"; x/net/html does the same): "<path/>"
        # inside an open <svg>/<math> — and a self-closed <svg/> or
        # <math/> itself — must not swallow following siblings. This
        # tree has no namespace support (tags stay lowercased, exactly
        # like the reference's VDOM conversion, ref parser.go:98), so
        # the flag is the one foreign-content behavior that changes the
        # extracted tree shape.
        if tag in ("svg", "math") or (
            tag not in VOID_ELEMENTS and self._in_foreign_content()
        ):
            self.handle_starttag(tag, attrs)
            if self.stack and self.stack[-1].tag_name == tag:
                self._pop_upto(len(self.stack) - 1)
            return
        self.handle_starttag(tag, attrs)

    def _in_foreign_content(self) -> bool:
        """True when the current node is inside foreign (SVG/MathML)
        content proper. The tree has no namespaces, so they are replayed
        down the open stack: <svg>/<math> opened under HTML starts its
        namespace, and its descendants inherit it until an HTML
        integration point (foreignObject/desc/title under svg, the
        MathML text elements and an HTML-encoded annotation-xml under
        math) resumes HTML rules — so a <div/> inside
        <svg><foreignObject> ignores its self-closing flag again,
        matching x/net/html."""
        ns, integration = "html", False
        for el in self.stack[1:]:
            t = el.tag_name
            if ns == "html" or integration:
                ns = t if t in ("svg", "math") else "html"
            if ns == "svg":
                integration = t in _SVG_INTEGRATION_POINTS
            elif ns == "math":
                integration = t in _MATHML_INTEGRATION_POINTS or (
                    t == "annotation-xml"
                    and el.attributes.get("encoding", "").lower()
                    in _HTML_ENCODINGS
                )
            else:
                integration = False
        return ns != "html" and not integration

    def _foster_point(self):
        """(parent, index) immediately before the nearest open table, or
        None when no table is open (then content inserts normally)."""
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag_name == "table":
                table = self.stack[i]
                parent = table.parent if table.parent is not None else self.stack[i - 1]
                for idx, child in enumerate(parent.children):
                    if child is table:
                        return parent, idx
                return parent, len(parent.children)
        return None

    def handle_endtag(self, tag: str) -> None:
        if tag in ("html", "body", "head"):
            if tag == "head" and self.mode == "in_head":
                self.stack = [self.root]
                self.mode = "after_head"
            return
        if tag == "br":
            # spec: </br> acts as <br> (x/net/html does the same)
            self.handle_starttag("br", [])
            return
        stack = self.stack
        if tag in FORMATTING_ELEMENTS:
            self._adoption_agency(tag)
            return
        # fast path: balanced end tag closes the current node; marker
        # bookkeeping only matters when it is a cell/caption-family tag
        if len(stack) > 1 and stack[-1].tag_name == tag:
            if tag in MARKER_TAGS:
                self._pop_upto(len(stack) - 1)
            else:
                stack.pop()
            return
        # scope-bounded search (per-tag boundary set, WHATWG scopes):
        # a block end tag must not reach across a table/cell boundary
        rule = _END_TAG_RULES.get(tag)
        if rule is None:
            self._any_other_end_tag(tag)
            return
        match, boundary = rule
        for i in range(len(stack) - 1, 0, -1):
            t = stack[i].tag_name
            if t in match:
                self._pop_upto(i)
                return
            if t in boundary:
                break
        if tag == "p":
            # spec: </p> with no p in button scope inserts an empty <p>
            self._ensure_body()
            self._append_node(VElement("p"))
        # otherwise: unmatched end tag ignored

    def handle_data(self, data: str) -> None:
        if not data:
            return
        if self.mode in ("before_head", "after_head"):
            if data.strip() == "":
                return  # whitespace between structure tags is dropped
            self._ensure_body()
        elif self.mode == "in_head" and self._current() is self.head:
            if data.strip() == "":
                # whitespace inside <head> between elements: keep in head
                # (x/net/html inserts it); it never affects body text.
                self.head.append_child(VText(data))
                return
            self._ensure_body()

        # character tokens reconstruct active formatting (whitespace-only
        # runs inside table context don't — the spec's "in table text"
        # inserts those into the table element without reconstruction)
        if self.afe and (
            self._current().tag_name not in _TABLE_CONTEXT or data.strip()
        ):
            self._reconstruct_afe()

        # foster parenting for character data in table context
        if self._current().tag_name in _TABLE_CONTEXT and data.strip():
            point = self._foster_point()
            if point is not None:
                parent, idx = point
                prev = parent.children[idx - 1] if idx > 0 else None
                if isinstance(prev, VText):
                    prev.text_content += data
                else:
                    node = VText(data)
                    node.parent = parent
                    parent.children.insert(idx, node)
                return

        cur = self._current()
        if (
            cur.tag_name in PRE_LIKE
            and not cur.children
            and data.startswith("\n")
        ):
            data = data[1:]
            if not data:
                return
        # merge adjacent text nodes (x/net/html produces one text node per
        # contiguous run; the tokenizer may split on entity boundaries)
        if cur.children and isinstance(cur.children[-1], VText):
            cur.children[-1].text_content += data
        else:
            cur.append_child(VText(data))


# -- tokenizer ----------------------------------------------------------
# The master regex: text, a well-formed start tag, a simple end tag. Each
# alternative is a sub-language on which html.parser's scanners (quoted
# below) provably give the same token: tag and attribute names stop where
# html.parser's would, whitespace inside a tag is the ASCII set its
# tag-name class stops at (a \x0b or \xa0 there belongs to the name), and
# a bare value stops only at whitespace or ">" as its bare value does.
# Anything else at a "<" goes to the tolerant branch.
_END_TAG = r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"  # html.parser's endtagfind
_MASTER = re.compile(
    r"([^<]+)"
    r"|<([a-zA-Z][-a-zA-Z0-9]*)"
    r"((?:[ \t\n\r\f]+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:[ \t\n\r\f]*=[ \t\n\r\f]*(?:\"[^\"]*\"|'[^']*'|[^\s>\"'=<`]+))?)*)"
    r"[ \t\n\r\f]*(/?)>"
    r"|" + _END_TAG
)
# one attribute of _MASTER's third group, name and value captured; the
# two must agree, as findall re-splits that group with this
_ATTR = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:[ \t\n\r\f]*=[ \t\n\r\f]*(\"[^\"]*\"|'[^']*'|[^\s>\"'=<`]+))?"
)

# html.parser's own scanners (CPython 3.11 html/parser.py, _markupbase.py)
# for the tolerant branch, where the input is anything at all
_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_LOCATE_START_TAG_END = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", re.VERBOSE)
_INCOMPLETE_AT = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/"
)
_COMMENT_CLOSE = re.compile(r"--\s*>")
_DECL_NAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_SECTION_CLOSE = dict.fromkeys(
    ("temp", "cdata", "ignore", "include", "rcdata"), re.compile(r"]\s*]\s*>")
)
_MARKED_SECTION_CLOSE.update(
    dict.fromkeys(("if", "else", "endif"), re.compile(r"]\s*>"))  # MS Office
)

# raw-text elements: content runs to the first case-insensitive match
_RAW_TEXT_END = {
    tag: re.compile(r"</\s*%s\s*>" % tag, re.I) for tag in ("script", "style")
}
_END_TAG_AT = re.compile(_END_TAG)


def _tokenize(html: str, sink) -> None:
    """Feed ``html`` to ``sink``'s ``handle_starttag`` /
    ``handle_startendtag`` / ``handle_endtag`` / ``handle_data`` exactly
    as ``HTMLParser(convert_charrefs=True).feed(html); close()`` calls
    them on CPython 3.11.7, data chunking included (see the module
    docstring for the quirks this reproduces).

    One loop of ``_MASTER.match`` at ``pos``: text, well-formed start
    tags and simple end tags come from the match; every other ``<``
    goes through ``_tolerant``, which parses that one construct with
    html.parser's rules. After a ``<script>``/``<style>`` start tag the
    loop jumps past the raw text (an unterminated one drops the rest
    of the input)."""
    starttag = sink.handle_starttag
    startendtag = sink.handle_startendtag
    endtag = sink.handle_endtag
    data = sink.handle_data
    match = _MASTER.match
    findattrs = _ATTR.findall
    raw_text_end = _RAW_TEXT_END
    pos, n = 0, len(html)
    while pos < n:
        m = match(html, pos)
        if m is None:
            pos, tag = _tolerant(html, pos, sink)
            if tag is None:
                continue
        else:
            pos = m.end()
            text, tag, attrs_src, slash, end = m.groups()
            if text is not None:
                data(unescape(text) if "&" in text else text)
                continue
            if end is not None:
                endtag(end.lower())
                continue
            tag = tag.lower()
            attrs = []
            if attrs_src:
                for name, value in findattrs(attrs_src):
                    if not value:
                        value = None
                    else:
                        if value[0] in "\"'":
                            value = value[1:-1]
                        if "&" in value:
                            value = unescape(value)
                    attrs.append((name.lower(), value))
            if slash:
                startendtag(tag, attrs)
                continue
            starttag(tag, attrs)
        end_re = raw_text_end.get(tag)
        if end_re is not None:
            pos = _raw_text(html, pos, end_re, sink)


def _raw_text(html: str, pos: int, end_re, sink) -> int:
    """Emit a script/style element's content as raw text (no charref
    decoding) and its end tag; return where normal tokenizing resumes."""
    while True:
        m = end_re.search(html, pos)
        if m is None:
            return len(html)  # unterminated: the rest is dropped
        j = m.start()
        if j > pos:
            sink.handle_data(html[pos:j])
        pos = m.end()
        end = _END_TAG_AT.match(html, j)
        if end is not None:
            sink.handle_endtag(end.group(1).lower())
            return pos
        # the case-insensitive match folded a non-ASCII letter (ſ, K, ı)
        # into the name: html.parser passes that end tag on as text and
        # stays in raw-text mode
        sink.handle_data(html[j:pos])


def _tolerant(html: str, i: int, sink):
    """The tolerant branch: one construct at the ``<`` at ``i`` that the
    master regex did not match, parsed with html.parser's rules. Returns
    (next position, tag) where tag is set only when a start tag was
    emitted through ``handle_starttag`` (the caller then checks for raw
    text)."""
    tag = None
    c = html[i + 1:i + 2]
    if c.isascii() and c.isalpha():
        k, tag = _tolerant_start_tag(html, i, sink)
    elif c == "/":
        k = html.find(">", i + 1)
        if k >= 0:
            name = _TAGFIND.match(html, i + 2)
            if name is not None:
                # "</name junk>": the name, everything up to ">" dropped
                sink.handle_endtag(name.group(1).lower())
            # else "</>" is dropped and "</ 3>" is a bogus comment;
            # all three end at the first ">"
            k += 1
    elif html.startswith("<!--", i):
        close = _COMMENT_CLOSE.search(html, i + 4)
        k = close.end() if close is not None else -1
    elif c == "!" or c == "?":
        k = _declaration(html, i)
    else:
        # a "<" that starts no markup is its own text chunk
        sink.handle_data("<")
        return i + 1, None
    if k < 0:
        # input ends inside the construct: html.parser's close() emits
        # it as text up to the next ">" (or "<")
        k = html.find(">", i + 1)
        if k < 0:
            k = html.find("<", i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        text = html[i:k]
        sink.handle_data(unescape(text) if "&" in text else text)
    return k, tag


def _tolerant_start_tag(html: str, i: int, sink):
    """html.parser's check_for_whole_start_tag + parse_starttag."""
    m = _LOCATE_START_TAG_END.match(html, i)
    j = m.end()
    c = html[j:j + 1]
    if c == ">":
        endpos = j + 1
    elif c == "/":
        endpos = j + 2 if html.startswith("/>", j) else -1
    elif not c or c in _INCOMPLETE_AT:
        endpos = -1
    else:
        endpos = j
    if endpos < 0:
        return -1, None
    name = _TAGFIND.match(html, i + 1)
    tag = name.group(1).lower()
    k = name.end()
    attrs = []
    while k < endpos:
        m = _ATTRFIND.match(html, k)
        if m is None:
            break
        attrname, rest, value = m.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == "'" == value[-1:] or value[:1] == '"' == value[-1:]:
            value = value[1:-1]
        if value:
            value = unescape(value)
        attrs.append((attrname.lower(), value))
        k = m.end()
    end = html[k:endpos].strip()
    if end not in (">", "/>"):
        # not closed by ">" or "/>": the source text, undecoded, is data
        sink.handle_data(html[i:endpos])
        return endpos, None
    if end.endswith("/>"):
        sink.handle_startendtag(tag, attrs)
        return endpos, None
    sink.handle_starttag(tag, attrs)
    return endpos, tag


def _declaration(html: str, i: int) -> int:
    """``<?...>`` or ``<!`` other than a comment: dropped. Returns the
    end, or -1 when unterminated."""
    if html.startswith("<![", i):
        name = _DECL_NAME.match(html, i + 3)
        close_re = name is not None and _MARKED_SECTION_CLOSE.get(
            name.group().strip().lower()
        )
        if close_re:
            close = close_re.search(html, i + 3)
            return close.end() if close is not None else -1
        # any other "<![" (html.parser raises there) is a bogus comment,
        # as in x/net/html
    # a doctype, <?...> and a bogus comment all end at the first ">"
    gt = html.find(">", i + 2)
    return gt + 1 if gt >= 0 else -1


def parse_html(html_content: str, base_uri: str = "") -> VDocument:
    """Parse an HTML string into a VDocument (parser.go:16-90).

    Like the reference, a body element is always present on return (:70-82),
    and the returned document element is always a fresh ``<html>``.
    """
    builder = _TreeBuilder()
    _tokenize(html_content, builder)
    builder._ensure_body()
    doc = VDocument(builder.root, builder.body)
    doc.base_uri = base_uri
    doc.document_uri = base_uri
    return doc


def _escape_text(text: str) -> str:
    """html.EscapeString equivalent (escapes &, ', <, >, ")."""
    return (
        text.replace("&", "&amp;")
        .replace("'", "&#39;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&#34;")
    )


def serialize_to_html(node) -> str:
    """Serialize a node with sorted attributes (parser.go:129-201)."""
    if node is None:
        return ""
    return fold(node, child_nodes, _serialize)


def _serialize(node, children) -> str:
    if isinstance(node, VText):
        return _escape_text(node.text_content)
    if not isinstance(node, VElement):
        return ""

    parts = ["<", node.tag_name]
    for key in sorted(node.attributes):
        parts.append(f' {key}="{_escape_text(node.attributes[key])}"')
    if node.tag_name in VOID_ELEMENTS and not node.children:
        parts.append("/>")
        return "".join(parts)
    parts.append(">")
    parts.extend(children)
    parts.append(f"</{node.tag_name}>")
    return "".join(parts)


def serialize_document_to_html(doc: VDocument) -> str:
    """parser.go:204-213."""
    if doc is None or doc.document_element is None:
        return ""
    return "<!DOCTYPE html>\n" + serialize_to_html(doc.document_element)


def serialize_to_writer(node, writer) -> None:
    """Write a node's HTML to a text file-like object (the io.Writer
    sink, parser.go:216-219)."""
    writer.write(serialize_to_html(node))


def serialize_document_to_writer(doc: VDocument, writer) -> None:
    """Write a document's HTML to a text file-like object
    (parser.go:222-225)."""
    writer.write(serialize_document_to_html(doc))
