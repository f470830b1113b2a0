"""Stdlib-only HTML DOM used by the extractor.

The reference parses HTML with html5ever (WHATWG algorithm) into an RcDom
tree (reference: src/scraper.rs:76-79).  This container has no html5lib/lxml,
so we build a small tolerant DOM on ``html.parser.HTMLParser`` with the
html5ever behaviours the extraction pipeline observes:

- lowercase tag/attribute names, first-attribute-wins lookups
- character references decoded at parse time, re-escaped at serialize time
- an ``html`` > ``head`` + ``body`` scaffold is always present
- void elements never take children; raw-text elements keep text unescaped
"""

from .dom import (  # noqa: F401
    Node,
    attr,
    extract_text,
    get_attr,
    get_tag_name,
    has_nodes,
    is_empty,
    remove_attr,
    set_attr,
    text_children_count,
)
from .parser import parse_html  # noqa: F401
from .serializer import serialize  # noqa: F401
