"""DOM traversal and text-measurement scalars.

Ports /root/reference/internal/dom/dom_utils.go:14-204. These are the
"string functions" of the extraction engine; every scoring threshold depends
on their exact semantics:

- ``get_inner_text`` joins child texts with a single space and trims
  (dom_utils.go:127-158) — NOT plain textContent concatenation.
- all lengths are UTF-8 *byte* lengths (Go ``len()``).
- link density discounts ``href="#..."`` anchors by 0.3 with ``int()``
  truncation of the product (dom_utils.go:162-181).

``DocIndex`` is the one tree walk behind all of them. One iterative
pre-order pass gives every element its pre-order position and subtree end
(text nodes take positions too, so ``end - pos`` is ``count_nodes``), and
every tag, plus ``"*"`` for all elements, a list of (position, element) in
document order. A tag lookup under any element is then a bisect-bounded
slice of that list, and inner text and link density are memoized on the
index. The positions and the memos describe the tree as it was when the
index was built, so an index is valid only after the tree's last
mutation: ``preprocess_document`` builds one for its snapshots before it
detaches anything, and ``extract_content`` builds one after
preprocessing and hands it to the scoring, classify, metadata and
structural passes, which only write ``readability`` scores. A lookup
under an element outside the indexed tree (a body that preprocessing
detached as an ad) indexes that element's tree on first use. The public
element-level helpers below build a throwaway index over their argument.
"""

from __future__ import annotations

from bisect import bisect_left
from typing import Optional

from .regexps import byte_len, collapse_whitespace
from .vdom import VElement, VNode, VText

__all__ = [
    "DocIndex",
    "get_elements_by_tag_name",
    "is_probably_visible",
    "get_node_ancestors",
    "has_ancestor_tag",
    "get_inner_text",
    "get_link_density",
    "get_text_density",
]


class DocIndex:
    """Pre-order positions, per-tag element lists and text memos of the
    tree under ``root``; see the module docstring for when it is valid."""

    __slots__ = (
        "_order", "_ends", "_tags", "_size", "_text", "_normalized",
        "_density",
    )

    def __init__(self, root: VNode) -> None:
        # an element's place k in the "*" list; its subtree ends at
        # position _ends[k] (ints, so the build allocates no container
        # per element for the garbage collector to count)
        self._order: dict[VElement, int] = {}
        self._ends: list[int] = []
        self._tags: dict[str, tuple[list[int], list[VElement]]] = {
            "*": ([], [])
        }
        self._size = 0
        self._text: dict[VNode, str] = {}
        self._normalized: dict[VNode, str] = {}
        self._density: dict[VElement, float] = {}
        self._add(root)

    def _add(self, root: VNode) -> None:
        """Index the tree under ``root``, numbered after the trees indexed
        so far, so every tag's positions stay sorted."""
        order = self._order
        ends = self._ends
        tags = self._tags
        get = tags.get
        every_pos, every = tags["*"]
        stack: list = [root]
        pop = stack.pop
        push = stack.append
        extend = stack.extend
        n = self._size
        k = len(every)
        while stack:
            node = pop()
            if node.__class__ is int:
                # the place of an element whose subtree ends here
                ends[node] = n
                continue
            if isinstance(node, VElement):
                order[node] = k
                every_pos.append(n)
                every.append(node)
                ends.append(0)
                entry = get(node.tag_name)
                if entry is None:
                    entry = tags[node.tag_name] = ([], [])
                entry[0].append(n)
                entry[1].append(node)
                push(k)
                k += 1
                cs = node.children
                if cs:
                    extend(cs[::-1])
            n += 1
        self._size = n

    def span(self, root: VElement) -> tuple[int, int]:
        """``(pos, end)`` of ``root``; the tree of a root outside the
        indexed ones is indexed first."""
        k = self._order.get(root)
        if k is None:
            self._add(root)
            k = self._order[root]
        return self._tags["*"][0][k], self._ends[k]

    def elements(self, root: VElement, tag: str) -> list[VElement]:
        """Elements named ``tag`` (lowercase, or ``"*"``) in the subtree of
        ``root``, ``root`` included, in document order: the pre-order
        tag scan of dom_utils.go:14-48."""
        pos, end = self.span(root)
        entry = self._tags.get(tag)
        if entry is None:
            return []
        positions, elements = entry
        lo = bisect_left(positions, pos)
        return elements[lo:bisect_left(positions, end, lo)]

    def count(self, root: VElement) -> int:
        """Element and text nodes in the subtree of ``root``, ``root``
        included (``count_nodes``, format.go:296-315)."""
        pos, end = self.span(root)
        return end - pos

    def inner_text(self, node: VNode, normalize_spaces: bool = False) -> str:
        """Space-joined, trimmed descendant text (dom_utils.go:127-158).

        For elements: children are concatenated with a single ``" "``
        inserted before every child after the first *whenever accumulated
        text is non-empty* — even if that child then contributes nothing
        (faithful to the Go loop structure at dom_utils.go:134-148). Child
        elements take their own inner text with normalize=False and are
        therefore trimmed at every level; the ``\\s{2,}``→" " collapse
        (ASCII \\s, RE2 parity) applies only at this level when
        ``normalize_spaces`` is True.
        """
        if normalize_spaces:
            text = self._normalized.get(node)
            if text is None:
                text = self._normalized[node] = collapse_whitespace(
                    self.inner_text(node)
                )
            return text
        memo = self._text
        text = memo.get(node)
        if text is not None:
            return text
        if isinstance(node, VText):
            text = memo[node] = node.text_content.strip()
            return text
        # post-order over the element descendants not memoized yet: an
        # element is joined once all its child elements are. A child of
        # the leaf shapes below is joined in place, off the stack.
        stack = [node]
        while stack:
            element = stack[-1]
            children = element.children
            if not children:
                text = ""
            elif len(children) == 1 and isinstance(children[0], VText):
                # leaf-ish fast path (p/a/h1 with one merged text node is
                # the most common element shape): no parts list, no join
                text = children[0].text_content
            else:
                parts: list[str] = []
                empty = True
                pending = False
                for i, child in enumerate(children):
                    if i > 0 and not empty:
                        parts.append(" ")
                    if isinstance(child, VText):
                        parts.append(child.text_content)
                        if child.text_content:
                            empty = False
                        continue
                    child_text = memo.get(child)
                    if child_text is None:
                        kids = child.children
                        if not kids:
                            child_text = memo[child] = ""
                        elif len(kids) == 1 and isinstance(kids[0], VText):
                            child_text = kids[0].text_content.strip()
                            memo[child] = child_text
                        else:
                            stack.append(child)
                            pending = True
                            continue
                    if child_text != "":
                        parts.append(child_text)
                        empty = False
                if pending:
                    # joined again once the pushed children are
                    continue
                text = "".join(parts)
            stack.pop()
            memo[element] = text.strip()
        return memo[node]

    def link_density(self, element: VElement) -> float:
        """Ratio of (discounted) link-text bytes to total text bytes
        (dom_utils.go:162-181)."""
        density = self._density.get(element)
        if density is not None:
            return density
        density = 0.0
        text_length = byte_len(self.inner_text(element, True))
        if text_length:
            link_length = 0
            for link in self.elements(element, "a"):
                href = link.get_attribute("href")
                coefficient = 0.3 if href.startswith("#") else 1.0
                # int() truncation of the float product, as in Go
                # (dom_utils.go:177)
                link_length += int(
                    byte_len(self.inner_text(link, True)) * coefficient
                )
            density = link_length / text_length
        self._density[element] = density
        return density

    def text_density(self, element: VElement) -> float:
        """Text bytes per child *element* (min 1) (dom_utils.go:185-204)."""
        text_length = byte_len(self.inner_text(element, True))
        if text_length == 0:
            return 0.0
        child_element_count = sum(
            1 for c in element.children if isinstance(c, VElement)
        )
        return text_length / max(child_element_count, 1)


def get_elements_by_tag_name(element: VElement, tag_name: str) -> list[VElement]:
    """Pre-order tag scan; ``*`` matches all (dom_utils.go:14-48)."""
    return DocIndex(element).elements(element, tag_name.lower())


def is_probably_visible(node: VElement) -> bool:
    """dom_utils.go:51-60."""
    style = node.get_attribute("style")
    return (
        "display: none" not in style
        and "visibility: hidden" not in style
        and not node.has_attribute("hidden")
        and node.get_attribute("aria-hidden") != "true"
    )


def get_node_ancestors(node: VElement, max_depth: int = 0) -> list[VElement]:
    """Parent chain, closest first; max_depth<=0 means unlimited
    (dom_utils.go:64-76)."""
    ancestors: list[VElement] = []
    current = node.parent
    depth = 0
    while current is not None and (max_depth <= 0 or depth < max_depth):
        ancestors.append(current)
        current = current.parent
        depth += 1
    return ancestors


def has_ancestor_tag(node: VNode, tag_name: str, max_depth: int = 0) -> bool:
    """dom_utils.go:96-123."""
    tag_name = tag_name.lower()
    current: Optional[VElement] = node.parent
    depth = 0
    while current is not None:
        if max_depth > 0 and depth >= max_depth:
            return False
        if current.tag_name == tag_name:
            return True
        current = current.parent
        depth += 1
    return False


def get_inner_text(node: VNode, normalize_spaces: bool = False) -> str:
    """``DocIndex.inner_text`` on a throwaway index."""
    return DocIndex(node).inner_text(node, normalize_spaces)


def get_link_density(element: VElement) -> float:
    """``DocIndex.link_density`` on a throwaway index."""
    return DocIndex(element).link_density(element)


def get_text_density(element: VElement) -> float:
    """``DocIndex.text_density`` on a throwaway index."""
    return DocIndex(element).text_density(element)
