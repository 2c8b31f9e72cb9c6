"""ARIA accessibility tree (fallback document representation).

Reimplements /root/reference/aria.go:104-957: role resolution (explicit
attr → implicit tag map → a[href]/input-type specials), accessible-name
calculation (aria-label → img alt → title → name-from-content with
50-byte truncation → short p/div text), node building with
checked/selected/expanded/disabled/required/value states, tree
compression (prune insignificant, merge single-child/generic chains,
group article/region/listitem/img siblings, flatten same-type nesting),
and the debug pretty-printer.

NOTE: ``ExtractContent`` never actually builds this tree — core.go:120-126
leaves ariaTree nil — so this module is API-surface parity, reachable via
``build_aria_tree`` directly (and ReadabilityOptions.generate_aria_tree).

Determinism divergence (documented): the reference appends grouped
siblings by iterating a Go map (aria.go:669 ``for nodeType, nodes := range
groupByType``), whose order is randomized per run. We iterate the fixed
order (article, region, listitem, img) — deterministic, one of the
orderings the reference itself can produce.

Byte-length discipline: truncation thresholds use UTF-8 byte lengths and
byte slicing like Go (aria.go:220-223, :230), SURVEY.md §1.2(1).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Optional

from .dom import DocIndex, is_probably_visible
from .vdom import VDocument, VElement, VText, fold

__all__ = [
    "AriaNode",
    "AriaTree",
    "get_aria_role",
    "get_accessible_name",
    "get_aria_node_type",
    "build_aria_node",
    "compress_aria_tree",
    "build_aria_tree",
    "count_aria_nodes",
    "aria_tree_to_string",
]

# implicit roles by tag (aria.go:116-141)
_IMPLICIT_ROLES = {
    "a": "generic",
    "article": "article",
    "aside": "complementary",
    "button": "button",
    "footer": "contentinfo",
    "form": "form",
    "h1": "heading", "h2": "heading", "h3": "heading",
    "h4": "heading", "h5": "heading", "h6": "heading",
    "header": "banner",
    "img": "img",
    "li": "listitem",
    "main": "main",
    "nav": "navigation",
    "ol": "list",
    "option": "option",
    "progress": "progressbar",
    "section": "region",
    "select": "combobox",
    "table": "table",
    "textarea": "textbox",
    "ul": "list",
}

# roles mapped to node types (aria.go:249-290); everything else → generic
_ROLE_TYPES = frozenset(
    "banner complementary contentinfo form main navigation region search "
    "article button cell checkbox columnheader combobox dialog figure grid "
    "gridcell heading img link list listitem menuitem option progressbar "
    "radio radiogroup row rowgroup rowheader searchbox separator slider "
    "spinbutton switch tab table tablist tabpanel textbox".split()
)

_NAME_FROM_CONTENT = frozenset(
    ("a", "button", "h1", "h2", "h3", "h4", "h5", "h6", "label")
)

_SIGNIFICANT_TYPES = frozenset(
    ("main", "article", "region", "navigation", "banner", "contentinfo")
)
_SIGNIFICANT_TYPES_FULL = _SIGNIFICANT_TYPES | {"form", "search"}

_GROUPED_TYPES = ("article", "region", "listitem", "img")


@dataclass
class AriaNode:
    """aria.go:70-88."""

    type: str = "generic"
    name: str = ""
    role: str = ""
    level: int = 0
    checked: Optional[bool] = None
    selected: Optional[bool] = None
    expanded: Optional[bool] = None
    disabled: Optional[bool] = None
    required: Optional[bool] = None
    value_min: Optional[float] = None
    value_max: Optional[float] = None
    value_text: str = ""
    children: list["AriaNode"] = field(default_factory=list)
    original_element: Optional[VElement] = None

    def copy_shallow(self) -> "AriaNode":
        c = AriaNode(**{k: getattr(self, k) for k in (
            "type", "name", "role", "level", "checked", "selected",
            "expanded", "disabled", "required", "value_min", "value_max",
            "value_text", "original_element")})
        c.children = list(self.children)
        return c


@dataclass
class AriaTree:
    """aria.go:91-94."""

    root: Optional[AriaNode] = None
    node_count: int = 0


def get_aria_role(element: VElement) -> str:
    """aria.go:104-173."""
    explicit = element.get_attribute("role")
    if explicit != "":
        return explicit.lower()
    tag = element.tag_name
    if tag == "a" and element.get_attribute("href") != "":
        return "link"
    if tag == "input":
        input_type = element.get_attribute("type").lower() or "text"
        return {
            "checkbox": "checkbox",
            "radio": "radio",
            "button": "button",
            "search": "searchbox",
        }.get(input_type, "textbox")
    return _IMPLICIT_ROLES.get(tag, "generic")


def _byte_truncate(text: str) -> str:
    """Go ``text[:47] + "..."`` when len(text) > 50 — byte semantics
    (aria.go:220-223)."""
    raw = text.encode("utf-8")
    if len(raw) > 50:
        return raw[:47].decode("utf-8", "replace") + "..."
    return text


def get_accessible_name(element: VElement) -> str:
    """aria.go:185-236."""
    return _accessible_name(element, DocIndex(element))


def _accessible_name(element: VElement, index: DocIndex) -> str:
    """``get_accessible_name``, reading text from ``index``."""
    aria_label = element.get_attribute("aria-label")
    if aria_label != "":
        return aria_label
    if element.tag_name == "img":
        alt = element.get_attribute("alt")
        if alt != "":
            return alt
    title = element.get_attribute("title")
    if title != "":
        return title
    if element.tag_name in _NAME_FROM_CONTENT:
        text = index.inner_text(element, True)
        if text != "":
            return _byte_truncate(text)
    if element.tag_name in ("p", "div"):
        text = index.inner_text(element, True)
        if text != "" and len(text.encode("utf-8")) < 100:
            return text
    return ""


def get_aria_node_type(element: VElement) -> str:
    """aria.go:246-308."""
    role = get_aria_role(element)
    if role == "generic":
        for child in element.children:
            if isinstance(child, VText):
                return "text"
    if role in _ROLE_TYPES:
        return role
    return "generic"


def _parse_float(s: str) -> Optional[float]:
    try:
        return float(s)
    except ValueError:
        return None


def build_aria_node(element: VElement) -> AriaNode:
    """aria.go:319-440. One ``DocIndex`` serves the names of the whole
    tree, so nested elements do not each re-walk their subtree."""
    index = DocIndex(element)
    return fold(
        element,
        _visible_child_elements,
        lambda el, child_nodes: _aria_node(el, child_nodes, index),
    )


def _visible_child_elements(element: VElement) -> list[VElement]:
    return [
        child
        for child in element.children
        if isinstance(child, VElement) and is_probably_visible(child)
    ]


def _aria_node(
    element: VElement, child_nodes: Sequence[AriaNode], index: DocIndex
) -> AriaNode:
    """The node of ``element``, given the nodes of its visible child
    elements."""
    node_type = get_aria_node_type(element)
    node = AriaNode(
        type=node_type,
        role=get_aria_role(element),
        name=_accessible_name(element, index),
        original_element=element,
    )

    if node_type == "heading":
        tag = element.tag_name
        if len(tag) == 2 and tag[0] == "h" and tag[1].isdigit():
            level = int(tag[1])
            if 1 <= level <= 6:
                node.level = level

    if node_type in ("checkbox", "radio"):
        node.checked = (
            element.has_attribute("checked")
            or element.get_attribute("aria-checked") == "true"
        )
    if node_type in ("option", "tab"):
        node.selected = (
            element.has_attribute("selected")
            or element.get_attribute("aria-selected") == "true"
        )
    aria_expanded = element.get_attribute("aria-expanded")
    if aria_expanded != "":
        node.expanded = aria_expanded == "true"
    if (
        element.has_attribute("disabled")
        or element.get_attribute("aria-disabled") == "true"
    ):
        node.disabled = True
    if (
        element.has_attribute("required")
        or element.get_attribute("aria-required") == "true"
    ):
        node.required = True

    vmin = element.get_attribute("aria-valuemin")
    if vmin != "":
        node.value_min = _parse_float(vmin)
    elif element.get_attribute("min") != "":
        node.value_min = _parse_float(element.get_attribute("min"))
    vmax = element.get_attribute("aria-valuemax")
    if vmax != "":
        node.value_max = _parse_float(vmax)
    elif element.get_attribute("max") != "":
        node.value_max = _parse_float(element.get_attribute("max"))
    vtext = element.get_attribute("aria-valuetext")
    if vtext != "":
        node.value_text = vtext
    elif element.get_attribute("value") != "":
        node.value_text = element.get_attribute("value")

    for child_node in child_nodes:
        if (
            child_node.name != ""
            or child_node.type != "generic"
            or len(child_node.children) > 0
        ):
            node.children.append(child_node)

    return node


def _is_insignificant(node: AriaNode) -> bool:
    """aria.go:451-453."""
    return node.name == "" and node.type == "generic" and not node.children


def count_aria_nodes(node: Optional[AriaNode]) -> int:
    """aria.go:463-475."""
    count = 0
    stack = [node] if node is not None else []
    while stack:
        count += 1
        stack.extend(stack.pop().children)
    return count


def compress_aria_tree(node: Optional[AriaNode]) -> Optional[AriaNode]:
    """aria.go:486-770."""
    if node is None:
        return None
    return fold(node, lambda n: n.children, _compress)


def _compress(node: AriaNode, compressed: Sequence[AriaNode]) -> AriaNode:
    """The compression of ``node``, given its children's."""
    if not node.children:
        if node.type == "text" and node.name.strip() == "":
            return AriaNode(
                type="generic", role="generic",
                original_element=node.original_element,
            )
        return node

    processed = [
        c
        for c in compressed
        if not _is_insignificant(c)
        and (c.type != "text" or c.name.strip() != "")
    ]

    # text node with one significant child (aria.go:517-537)
    if node.type == "text" and len(processed) == 1:
        child = processed[0]
        if child.type in _SIGNIFICANT_TYPES:
            if node.name != "" and child.name == "":
                child.name = node.name
            return child

    # text node with only generic children: splice their children in
    # (aria.go:540-561)
    if node.type == "text" and processed:
        if all(c.type == "generic" for c in processed):
            new_children = [gc for c in processed for gc in c.children]
            if new_children:
                result = node.copy_shallow()
                result.children = new_children
                return result

    # single child merge (aria.go:564-583)
    if len(processed) == 1:
        child = processed[0]
        if (node.type == "generic" and node.name == "") or node.type == child.type:
            if node.name != "":
                child.name = (
                    node.name if child.name == "" else node.name + " " + child.name
                )
            return child

    is_significant = node.type in _SIGNIFICANT_TYPES_FULL

    # splice generic children under significant/all-generic parents
    # (aria.go:597-631)
    if processed:
        has_generic = any(c.type == "generic" for c in processed)
        all_generic = all(c.type == "generic" for c in processed)
        if has_generic and (is_significant or all_generic):
            new_children: list[AriaNode] = []
            for c in processed:
                if c.type == "generic":
                    new_children.extend(c.children)
                else:
                    new_children.append(c)
            if new_children:
                result = node.copy_shallow()
                result.children = new_children
                return result

    # group similar siblings (aria.go:634-683)
    merged: list[AriaNode] = []
    current_group: Optional[AriaNode] = None
    group_by_type: dict[str, list[AriaNode]] = {}
    for child in processed:
        if child.type in _GROUPED_TYPES:
            group_by_type.setdefault(child.type, []).append(child)
            continue
        if current_group is None or current_group.type != child.type:
            current_group = child.copy_shallow()
            merged.append(current_group)
            continue
        if child.name != "":
            current_group.name = (
                current_group.name + " " + child.name
                if current_group.name
                else child.name
            )
        if child.children:
            current_group.children = current_group.children + child.children

    # fixed iteration order where Go iterates a randomized map (see module
    # docstring)
    for node_type in _GROUPED_TYPES:
        nodes = group_by_type.get(node_type, [])
        if len(nodes) > 1:
            merged.append(
                AriaNode(
                    type=node_type,
                    role=node_type,
                    original_element=node.original_element,
                    children=nodes,
                )
            )
        elif len(nodes) == 1:
            merged.append(nodes[0])

    # flatten nested structures (aria.go:686-755)
    i = 0
    while i < len(merged):
        child = merged[i]
        if len(child.children) == 1:
            grandchild = child.children[0]
            if child.type == grandchild.type or (
                child.type == "text"
                and grandchild.type in ("main", "article", "region")
            ):
                if grandchild.name != "":
                    child.name = (
                        child.name + " " + grandchild.name
                        if child.name
                        else grandchild.name
                    )
                if grandchild.children:
                    child.children = grandchild.children
                    continue  # process this node again
                child.children = []
        if len(child.children) > 1:
            same_type = [c for c in child.children if c.type == child.type]
            others = [c for c in child.children if c.type != child.type]
            if same_type:
                new_children: list[AriaNode] = []
                for sc in same_type:
                    if sc.name != "":
                        child.name = (
                            child.name + " " + sc.name if child.name else sc.name
                        )
                    new_children.extend(sc.children)
                new_children.extend(others)
                child.children = new_children
                continue  # process this node again
        i += 1

    result = node.copy_shallow()
    result.children = merged if merged else []
    return result


def build_aria_tree(doc: VDocument) -> AriaTree:
    """aria.go:781-833."""
    root = build_aria_node(doc.body)
    compressed = compress_aria_tree(root)

    if compressed is not None and compressed.type == "text" and compressed.children:
        significant = next(
            (c for c in compressed.children if c.type in _SIGNIFICANT_TYPES),
            None,
        )
        if significant is not None:
            if compressed.name != "" and significant.name == "":
                significant.name = compressed.name
            compressed = significant
        elif len(compressed.children) == 1:
            child = compressed.children[0]
            if child.name != "":
                compressed.name = (
                    compressed.name + " " + child.name
                    if compressed.name
                    else child.name
                )
            compressed.children = child.children

    return AriaTree(root=compressed, node_count=count_aria_nodes(compressed))


def _format_float(v: float) -> str:
    """Go strconv.FormatFloat(v, 'g', -1, 64)."""
    s = repr(v)
    if s.endswith(".0"):
        s = s[:-2]
    return s


def _node_to_string(root: AriaNode, out: list[str]) -> None:
    """aria.go:871-957, pre-order with an explicit stack."""
    stack = [(root, 0)]
    while stack:
        node, indent = stack.pop()
        pad = "  " * indent
        line = f"{pad}{node.type}"
        if node.name != "":
            line += f": {node.name}"
        out.append(line + "\n")
        if node.level > 0:
            out.append(f"{pad}  level: {node.level}\n")
        for attr in ("checked", "selected", "expanded", "disabled", "required"):
            val = getattr(node, attr)
            if val is not None:
                out.append(f"{pad}  {attr}: {'true' if val else 'false'}\n")
        if node.value_min is not None or node.value_max is not None or node.value_text:
            out.append(f"{pad}  value:\n")
            if node.value_min is not None:
                out.append(f"{pad}    min: {_format_float(node.value_min)}\n")
            if node.value_max is not None:
                out.append(f"{pad}    max: {_format_float(node.value_max)}\n")
            if node.value_text:
                out.append(f"{pad}    text: {node.value_text}\n")
        if node.children:
            out.append(f"{pad}  children:\n")
            stack.extend(
                (child, indent + 2) for child in reversed(node.children)
            )


def aria_tree_to_string(tree: Optional[AriaTree]) -> str:
    """aria.go:845-852."""
    if tree is None or tree.root is None:
        return ""
    out: list[str] = []
    _node_to_string(tree.root, out)
    return "".join(out)
