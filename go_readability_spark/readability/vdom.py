"""Virtual DOM node types.

Reimplements the reference's in-memory tree model
(/root/reference/internal/dom/vnode.go:15-139) as slotted Python classes.
These objects exist only inside executor-side Python UDFs; they are never
materialized as Spark rows.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Optional, TypeVar, Union

__all__ = [
    "VText", "VElement", "VDocument", "VNode", "detach", "last_index",
    "child_nodes", "fold",
]

T = TypeVar("T")
R = TypeVar("R")


class VText:
    """Text node (vnode.go:66-69)."""

    __slots__ = ("text_content", "parent", "readability")

    def __init__(self, text_content: str = "") -> None:
        self.text_content = text_content
        self.parent: Optional[VElement] = None
        self.readability: Optional[float] = None  # ContentScore; unused on text

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"VText({self.text_content!r})"


class VElement:
    """Element node (vnode.go:82-87).

    ``readability`` holds the mutable ContentScore (vnode.go:15-17); ``None``
    means the node has not been initialized as a candidate.
    """

    __slots__ = ("tag_name", "attributes", "children", "parent", "readability")

    def __init__(self, tag_name: str) -> None:
        self.tag_name = tag_name.lower()
        self.attributes: dict[str, str] = {}
        self.children: list[VNode] = []
        self.parent: Optional[VElement] = None
        self.readability: Optional[float] = None

    # -- attribute helpers (vnode.go:105-133) --
    @property
    def id(self) -> str:
        return self.attributes.get("id", "")

    @property
    def class_name(self) -> str:
        return self.attributes.get("class", "")

    def get_attribute(self, name: str) -> str:
        return self.attributes.get(name, "")

    def has_attribute(self, name: str) -> bool:
        return name in self.attributes

    def set_attribute(self, name: str, value: str) -> None:
        self.attributes[name] = value

    def append_child(self, child: "VNode") -> None:
        child.parent = self
        self.children.append(child)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"VElement(<{self.tag_name}> children={len(self.children)})"


VNode = Union[VText, VElement]


class VDocument:
    """Parsed document (vnode.go:134-139)."""

    __slots__ = ("document_element", "body", "base_uri", "document_uri")

    def __init__(self, document_element: VElement, body: VElement) -> None:
        self.document_element = document_element
        self.body = body
        self.base_uri = ""
        self.document_uri = ""


def last_index(seq: list, item: object) -> int:
    """Index of the last entry of ``seq`` that IS ``item``, or -1.

    Nodes define no ``__eq__``; the search is by identity and runs from
    the end, where the parser's stacks keep their recent entries."""
    for i in range(len(seq) - 1, -1, -1):
        if seq[i] is item:
            return i
    return -1


def detach(node: VNode) -> None:
    """Remove ``node`` from its parent's children. ``node.parent`` is
    left as it was: the tree builder re-attaches the node at once, and
    preprocessing drops it with its subtree."""
    parent = node.parent
    if parent is not None:
        i = last_index(parent.children, node)
        if i >= 0:
            del parent.children[i]


def child_nodes(node: VNode) -> list[VNode]:
    """An element's children; a text node has none."""
    return node.children if isinstance(node, VElement) else []


def fold(
    root: T,
    children: Callable[[T], Sequence[T]],
    combine: Callable[[T, Sequence[R]], R],
) -> R:
    """Post-order fold of the tree under ``root``, with an explicit stack
    instead of one Python frame per level: ``combine(item, results)``
    gets the results of ``children(item)``, in order, and returns the
    result of ``item``. Items need not be nodes, so a walker can carry
    its per-level state (a parent tag, a depth) in them."""
    # the open ancestors of the current item: (item, its children not
    # yet taken, the results of those taken)
    frames: list = []
    item, pending, done = root, iter(children(root)), []
    while True:
        for kid in pending:
            kids = children(kid)
            if kids:
                frames.append((item, pending, done))
                item, pending, done = kid, iter(kids), []
                break
            done.append(combine(kid, ()))
        else:
            result = combine(item, done)
            if not frames:
                return result
            item, pending, done = frames.pop()
            done.append(result)


def create_element(tag_name: str) -> VElement:
    """dom_utils.go:79-81 — tag lowercased by VElement ctor."""
    return VElement(tag_name)


def create_text_node(content: str) -> VText:
    """dom_utils.go:84-86."""
    return VText(content)
