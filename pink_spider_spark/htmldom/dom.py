"""DOM node type + tree helpers.

Each helper mirrors one function of the reference's dom module
(reference: src/dom.rs) with identical semantics; citations inline.

``trim`` semantics: Rust ``str::trim`` strips the Unicode ``White_Space``
set; Python ``str.strip()`` strips a near-identical set (it additionally
strips U+001C..U+001F file/group/record/unit separators).  The synthetic
corpus contains none of those control characters, so the two agree
byte-for-byte here.
"""

from __future__ import annotations

DOCUMENT = "document"
ELEMENT = "element"
TEXT = "text"
COMMENT = "comment"
DOCTYPE = "doctype"


class Node:
    __slots__ = ("kind", "tag", "attrs", "text", "children", "parent", "ns")

    def __init__(self, kind: str, tag: str | None = None, attrs: list | None = None,
                 text: str = "", ns: str | None = None):
        self.kind = kind
        self.tag = tag  # lowercase for HTML; spec-adjusted case for SVG/MathML
        self.attrs = attrs if attrs is not None else []  # list[(name, value)]
        self.text = text
        self.children: list[Node] = []
        self.parent: Node | None = None
        self.ns = ns  # None = HTML namespace; "svg" | "math" for foreign

    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    def insert_before(self, new: "Node", ref: "Node") -> None:
        idx = self.children.index(ref)
        new.parent = self
        self.children.insert(idx, new)

    def remove_from_parent(self) -> None:
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None

    def __repr__(self) -> str:  # debugging aid only
        if self.kind == ELEMENT:
            return f"<{self.tag} {len(self.children)}c>"
        if self.kind == TEXT:
            return f"#text({self.text[:20]!r})"
        return f"#{self.kind}"


def get_tag_name(node: Node) -> str | None:
    """reference: src/dom.rs:8-13 (names are already lowercase)."""
    return node.tag if node.kind == ELEMENT else None


def attr(attr_name: str, attrs: list) -> str | None:
    """First attribute with the given name (reference: src/dom.rs:22-29)."""
    for name, value in attrs:
        if name == attr_name:
            return value
    return None


def get_attr(name: str, node: Node) -> str | None:
    """reference: src/dom.rs:15-20."""
    if node.kind != ELEMENT:
        return None
    return attr(name, node.attrs)


def set_attr(attr_name: str, value: str, node: Node) -> None:
    """Replace an EXISTING attribute only (reference: src/dom.rs:31-50)."""
    if node.kind != ELEMENT:
        return
    for i, (name, _v) in enumerate(node.attrs):
        if name == attr_name:
            node.attrs[i] = (name, value)
            return


def remove_attr(attr_name: str, node: Node) -> None:
    """Remove the first attribute with this name (reference: src/dom.rs:52-59)."""
    for i, (name, _v) in enumerate(node.attrs):
        if name == attr_name:
            del node.attrs[i]
            return


def is_empty(node: Node) -> bool:
    """reference: src/dom.rs:61-88."""
    for child in node.children:
        if child.kind == TEXT:
            if len(child.text.strip()) > 0:
                return False
        elif child.kind == ELEMENT:
            if child.tag in ("li", "dt", "dd", "p", "div"):
                if not is_empty(child):
                    return False
            else:
                return False
    return (get_tag_name(node) or "") in ("li", "dt", "dd", "p", "div", "canvas")


def extract_text(node: Node, parts: list, deep: bool) -> None:
    """Concatenation of TRIMMED text descendants, no separator
    (reference: src/dom.rs:102-117)."""
    for child in node.children:
        if child.kind == TEXT:
            parts.append(child.text.strip())
        elif child.kind == ELEMENT and deep:
            extract_text(child, parts, deep)


def text_len_reaches(node: Node, limit: int) -> bool:
    """``text_len(node) >= limit``, where ``text_len`` sums trimmed char
    counts over all text descendants (reference: src/dom.rs:119-134; Rust
    chars().count() == Python len).  The scan stops once the bound is
    proven, so a threshold test on a whole-page container is O(limit),
    not O(page); trimmed lengths are non-negative, so it is exact."""
    return _text_len_upto(node, limit) >= limit


def _text_len_upto(node: Node, limit: int) -> int:
    n = 0
    for child in node.children:
        if child.kind == TEXT:
            n += len(child.text.strip())
        elif child.kind == ELEMENT:
            n += _text_len_upto(child, limit - n)
        if n >= limit:
            return n
    return n


def has_nodes(node: Node, tag_names) -> bool:
    """Any descendant whose tag is in tag_names (reference: src/dom.rs:152-168)."""
    for child in node.children:
        if (get_tag_name(child) or "") in tag_names:
            return True
        if child.kind == ELEMENT and has_nodes(child, tag_names):
            return True
    return False


def text_children_count(node: Node) -> int:
    """Direct text children with trimmed length >= 20
    (reference: src/dom.rs:170-185)."""
    count = 0
    for child in node.children:
        if child.kind == TEXT and len(child.text.strip()) >= 20:
            count += 1
    return count
