"""HTML serializer matching html5ever's serializer behaviour.

The reference serializes the cleaned top node with html5ever's default
options (reference: src/scraper.rs:116).  Behaviours reproduced:

- element scope serializes the node itself; a document node serializes
  children only
- attribute values escape ``&`` -> ``&amp;``, U+00A0 -> ``&nbsp;``,
  ``"`` -> ``&quot;``
- text escapes ``&`` -> ``&amp;``, U+00A0 -> ``&nbsp;``, ``<`` -> ``&lt;``,
  ``>`` -> ``&gt;``; HTML raw-text elements (style/script/xmp/iframe/
  noembed/noframes/plaintext/noscript) emit text children unescaped, an
  svg/math ``style`` or ``script`` escapes them
- HTML void elements have no end tag; an svg/math element with a void
  HTML name (``<link>``, ``<source>``) keeps its children and end tag
"""

from __future__ import annotations

from .dom import COMMENT, DOCTYPE, DOCUMENT, ELEMENT, TEXT, Node
from .parser import RAW_TEXT_ELEMENTS, VOID_ELEMENTS


def _escape_text(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace(" ", "&nbsp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def _escape_attr(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace(" ", "&nbsp;")
        .replace('"', "&quot;")
    )


def _serialize_into(node: Node, out: list, raw: bool) -> None:
    if node.kind == TEXT:
        out.append(node.text if raw else _escape_text(node.text))
    elif node.kind == COMMENT:
        out.append(f"<!--{node.text}-->")
    elif node.kind == DOCTYPE:
        # html5ever's serializer writes only the doctype NAME
        out.append(f"<!DOCTYPE {node.text}>")
    elif node.kind == ELEMENT:
        out.append("<")
        out.append(node.tag)
        for name, value in node.attrs:
            out.append(" ")
            out.append(name)
            out.append('="')
            out.append(_escape_attr(value))
            out.append('"')
        out.append(">")
        if node.tag in VOID_ELEMENTS and node.ns is None:
            return
        child_raw = node.tag in RAW_TEXT_ELEMENTS and node.ns is None
        for child in node.children:
            _serialize_into(child, out, child_raw)
        out.append(f"</{node.tag}>")
    elif node.kind == DOCUMENT:
        for child in node.children:
            _serialize_into(child, out, False)


def serialize(node: Node) -> str:
    """Serialize a node (document nodes: children only, like rcdom)."""
    out: list = []
    if node.kind == DOCUMENT:
        for child in node.children:
            _serialize_into(child, out, False)
    else:
        _serialize_into(node, out, False)
    return "".join(out)
