"""WHATWG-fidelity HTML tree builder (tokenizer: stdlib ``html.parser``).

The reference parses with html5ever's WHATWG tree constructor
(reference: src/scraper.rs:76-79, ``parse_document`` with default opts =
scripting ENABLED).  Byte-identical extraction on real-world malformed
HTML therefore needs the actual tree-construction algorithm, not a
tolerant scaffold.  This module implements the WHATWG "tree construction"
stage (HTML Standard §13.2.6) over the stdlib tokenizer:

- insertion modes: initial, before html, before head, in head, after
  head, in body, in table, in table text, in caption, in column group,
  in table body, in row, in cell, in select, in select in table,
  after body, in frameset, after frameset, after after body
- the adoption agency algorithm (misnested formatting: ``<b><i>x</b>y``)
- active formatting elements with markers, Noah's-ark clause, and
  reconstruction across block boundaries
- foster parenting of content inside tables (``<table>text`` hoists the
  text before the table)
- implied end tags (p/li/dd/dt/option/...), scope checks (default,
  list-item, button, table, select scopes)
- rawtext/RCDATA elements with scripting enabled (``noscript`` is raw
  text, matching html5ever's default ``scripting_enabled=true``)
- quirks-mode detection from the doctype (a missing doctype disables the
  ``<table>``-closes-``<p>`` exception, like html5ever)
- foreign content (svg/math): case-adjusted tag/attribute names,
  self-closing honored, HTML breakout tags, integration points

Known simplifications (documented deviations, all invisible to the
extraction pipeline):
- ``<template>`` contents are parsed under the real "in template"
  insertion mode (stack of template insertion modes, §13.2.6.4.18 —
  table-structure tags reparent INTO the template instead of being
  foster-parented/dropped) and then DETACHED into ``node.text`` storage
  at end of parse, mirroring rcdom's separate ``template_contents``
  handle (the reference's DOM walk never sees template contents as
  children).
- script data escaped/double-escaped states (§13.2.5.22-29) are
  implemented over the stdlib tokenizer (``_advance_script_escape`` +
  the ``handle_endtag`` swallow): ``</script>`` inside a double-escaped
  region is script data and the element closes at the spec position.
  A swallowed close tag is re-emitted canonically (``</script >`` raw
  forms are not byte-preserved) — invisible to extraction, which never
  reads script data.  EOF in an incomplete construct is repaired to the
  spec tokenizer's output (see ``close``).

Speed: one tokenizer loop and an in-body fast path (output is
byte-identical to the plain algorithm; ``tests/test_parser_digest.py``
pins it):
- ``_TreeBuilder.goahead`` replaces the stdlib's loop.  A text run ends
  at the next ``<`` as in the stdlib.  At a ``<`` in the data state one
  compiled regex, ``_TAG``, takes an end tag or a start tag whose
  attributes are quoted, unquoted or valueless (names lowercased, the
  first duplicate wins, character references in values decoded as the
  stdlib does) and calls the callbacks directly.  The stdlib's own
  methods take everything else in the same loop: comments,
  declarations, ``<?``, a stray ``<``, a start tag ``_TAG`` does not
  match, rawtext/RCDATA/script content (cdata mode), and a construct cut
  off at the end of the input (``close`` repairs it).
- the callbacks skip the insertion-mode machine when the mode is "in
  body", the list of active formatting elements is empty, foster
  parenting and pending table text are off, no newline skip is pending
  (after ``<pre>``/``<listing>``/``<textarea>``) and the current node is
  an HTML element.  Then a ``BLOCK_START`` tag closes a ``<p>`` in button
  scope and is appended, an end tag naming the current node pops it
  (not body/br/form/html/template, which do more), and text outside
  rawtext merges into or follows the current node's last child.  Every
  other token runs the full algorithm, and ``finish`` walks the tree to
  detach template contents only if a ``<template>`` was inserted.
- ``parse_html`` holds the cyclic garbage collector off while the tree
  is built (and restores its previous state).
"""

from __future__ import annotations

import gc
import re
from html import unescape
from html.parser import HTMLParser

from .dom import COMMENT, DOCTYPE, DOCUMENT, ELEMENT, TEXT, Node

VOID_ELEMENTS = frozenset({
    "area", "base", "basefont", "bgsound", "br", "col", "embed", "frame",
    "hr", "img", "input", "keygen", "link", "meta", "param", "source",
    "track", "wbr",
})

# Serializer raw set == html5ever serializer with scripting enabled
# (style|script|xmp|iframe|noembed|noframes|plaintext + noscript).
RAW_TEXT_ELEMENTS = frozenset({
    "style", "script", "xmp", "iframe", "noembed", "noframes", "plaintext",
    "noscript",
})

# RCDATA: tokenized raw but character references ARE decoded.
RCDATA_ELEMENTS = frozenset({"title", "textarea"})

WS = "\t\n\x0c\r "
_WS_RE = re.compile(r"[^\t\n\x0c ]")  # first non-whitespace (input is \r-free)

# HTML Standard: the "special" category (adoption agency / any-other-end-tag).
SPECIAL = frozenset({
    "address", "applet", "area", "article", "aside", "base", "basefont",
    "bgsound", "blockquote", "body", "br", "button", "caption", "center",
    "col", "colgroup", "dd", "details", "dir", "div", "dl", "dt", "embed",
    "fieldset", "figcaption", "figure", "footer", "form", "frame", "frameset",
    "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hgroup", "hr",
    "html", "iframe", "img", "input", "keygen", "li", "link", "listing",
    "main", "marquee", "menu", "meta", "nav", "noembed", "noframes",
    "noscript", "object", "ol", "p", "param", "plaintext", "pre", "script",
    "section", "select", "source", "style", "summary", "table", "tbody",
    "td", "template", "textarea", "tfoot", "th", "thead", "title", "tr",
    "track", "ul", "wbr", "xmp",
})
SPECIAL_MATH = frozenset({"mi", "mo", "mn", "ms", "mtext", "annotation-xml"})
SPECIAL_SVG = frozenset({"foreignObject", "desc", "title"})

FORMATTING = frozenset({
    "a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
    "strike", "strong", "tt", "u",
})

_SCOPE_BASE = frozenset({
    "applet", "caption", "html", "table", "td", "th", "marquee", "object",
    "template",
})
_SCOPE_LIST = _SCOPE_BASE | {"ol", "ul"}
_SCOPE_BUTTON = _SCOPE_BASE | {"button"}
_SCOPE_TABLE = frozenset({"html", "table", "template"})

IMPLIED_END = frozenset({"dd", "dt", "li", "optgroup", "option", "p",
                         "rb", "rp", "rt", "rtc"})

HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# in-body start tags that only close a <p> in button scope and insert
BLOCK_START = frozenset({
    "address", "article", "aside", "blockquote", "center", "details",
    "dialog", "dir", "div", "dl", "fieldset", "figcaption", "figure",
    "footer", "header", "hgroup", "main", "menu", "nav", "ol", "p",
    "section", "summary", "ul",
})
# in-body end tags that do more than pop a matching current node
_END_NOT_POP = frozenset({"body", "br", "form", "html", "template"})
TABLE_SECTIONS = frozenset({"tbody", "tfoot", "thead"})
TABLE_CONTEXT = frozenset({"table", "tbody", "tfoot", "thead", "tr"})

# Foreign-content HTML breakout start tags (§13.2.6.5).
BREAKOUT = frozenset({
    "b", "big", "blockquote", "body", "br", "center", "code", "dd", "div",
    "dl", "dt", "em", "embed", "h1", "h2", "h3", "h4", "h5", "h6", "head",
    "hr", "i", "img", "li", "listing", "menu", "meta", "nobr", "ol", "p",
    "pre", "ruby", "s", "small", "span", "strong", "strike", "sub", "sup",
    "table", "tt", "u", "ul", "var",
})

SVG_TAG_ADJUST = {
    "altglyph": "altGlyph", "altglyphdef": "altGlyphDef",
    "altglyphitem": "altGlyphItem", "animatecolor": "animateColor",
    "animatemotion": "animateMotion", "animatetransform": "animateTransform",
    "clippath": "clipPath", "feblend": "feBlend",
    "fecolormatrix": "feColorMatrix", "fecomponenttransfer":
    "feComponentTransfer", "fecomposite": "feComposite",
    "feconvolvematrix": "feConvolveMatrix", "fediffuselighting":
    "feDiffuseLighting", "fedisplacementmap": "feDisplacementMap",
    "fedistantlight": "feDistantLight", "fedropshadow": "feDropShadow",
    "feflood": "feFlood", "fefunca": "feFuncA", "fefuncb": "feFuncB",
    "fefuncg": "feFuncG", "fefuncr": "feFuncR", "fegaussianblur":
    "feGaussianBlur", "feimage": "feImage", "femerge": "feMerge",
    "femergenode": "feMergeNode", "femorphology": "feMorphology",
    "feoffset": "feOffset", "fepointlight": "fePointLight",
    "fespecularlighting": "feSpecularLighting", "fespotlight": "feSpotLight",
    "fetile": "feTile", "feturbulence": "feTurbulence",
    "foreignobject": "foreignObject", "glyphref": "glyphRef",
    "lineargradient": "linearGradient", "radialgradient": "radialGradient",
    "textpath": "textPath",
}

SVG_ATTR_ADJUST = {
    "attributename": "attributeName", "attributetype": "attributeType",
    "basefrequency": "baseFrequency", "baseprofile": "baseProfile",
    "calcmode": "calcMode", "clippathunits": "clipPathUnits",
    "diffuseconstant": "diffuseConstant", "edgemode": "edgeMode",
    "filterunits": "filterUnits", "glyphref": "glyphRef",
    "gradienttransform": "gradientTransform", "gradientunits":
    "gradientUnits", "kernelmatrix": "kernelMatrix",
    "kernelunitlength": "kernelUnitLength", "keypoints": "keyPoints",
    "keysplines": "keySplines", "keytimes": "keyTimes",
    "lengthadjust": "lengthAdjust", "limitingconeangle": "limitingConeAngle",
    "markerheight": "markerHeight", "markerunits": "markerUnits",
    "markerwidth": "markerWidth", "maskcontentunits": "maskContentUnits",
    "maskunits": "maskUnits", "numoctaves": "numOctaves",
    "pathlength": "pathLength", "patterncontentunits": "patternContentUnits",
    "patterntransform": "patternTransform", "patternunits": "patternUnits",
    "pointsatx": "pointsAtX", "pointsaty": "pointsAtY",
    "pointsatz": "pointsAtZ", "preservealpha": "preserveAlpha",
    "preserveaspectratio": "preserveAspectRatio",
    "primitiveunits": "primitiveUnits", "refx": "refX", "refy": "refY",
    "repeatcount": "repeatCount", "repeatdur": "repeatDur",
    "requiredextensions": "requiredExtensions",
    "requiredfeatures": "requiredFeatures",
    "specularconstant": "specularConstant",
    "specularexponent": "specularExponent", "spreadmethod": "spreadMethod",
    "startoffset": "startOffset", "stddeviation": "stdDeviation",
    "stitchtiles": "stitchTiles", "surfacescale": "surfaceScale",
    "systemlanguage": "systemLanguage", "tablevalues": "tableValues",
    "targetx": "targetX", "targety": "targetY", "textlength": "textLength",
    "viewbox": "viewBox", "viewtarget": "viewTarget", "xchannelselector":
    "xChannelSelector", "ychannelselector": "yChannelSelector",
    "zoomandpan": "zoomAndPan",
}

# insertion modes
INITIAL, BEFORE_HTML, BEFORE_HEAD, IN_HEAD, AFTER_HEAD, IN_BODY, \
    IN_TABLE, IN_TABLE_TEXT, IN_CAPTION, IN_COLUMN_GROUP, IN_TABLE_BODY, \
    IN_ROW, IN_CELL, IN_SELECT, IN_SELECT_IN_TABLE, AFTER_BODY, \
    IN_FRAMESET, AFTER_FRAMESET, AFTER_AFTER_BODY, TEXT_MODE, \
    IN_TEMPLATE = range(21)

MARKER = object()  # active-formatting-elements marker


class _FmtEntry:
    __slots__ = ("el", "tag", "attrs")

    def __init__(self, el: Node, tag: str, attrs: list):
        self.el = el
        self.tag = tag
        self.attrs = attrs


def _dedupe_attrs(attrs) -> list:
    """First occurrence wins (WHATWG duplicate-attribute parse error)."""
    out, seen = [], set()
    for name, value in attrs:
        if name in seen:
            continue
        seen.add(name)
        out.append((name, value if value is not None else ""))
    return out


_NEVER = re.compile(r"(?!x)x")

# The scanner's tag at a "<" in the data state: a start tag whose
# attributes all take a common form (quoted, unquoted or no value), or
# an end tag (the stdlib's ``endtagfind``).  Whitespace before an
# attribute or the closing ">" must be HTML whitespace, a tag name stops
# at \s, and an attribute name may not start with "=": where the
# stdlib's ``\s`` and ``[^\t\n\r\f />\x00]`` classes would split the
# tag differently, the match fails and ``parse_starttag`` takes the tag.
_ATTR = (r"[ \t\n\r\f]++([^\s/>=][^\s/=>]*+)"
         r"(?:[ \t\n\r\f]*+=++[ \t\n\r\f]*+"
         r"""(?:"([^"]*+)"|'([^']*+)'|(?!['"])([^>\s]++)))?+""")
_ATTRS = re.compile(_ATTR)
# groups: tag name, attribute text, the last attribute's four groups,
# "/" of "/>", end tag name
_TAG = re.compile(
    r"<([a-zA-Z][^\s/>\x00]*+)((?:" + _ATTR + r")*+)[ \t\n\r\f]*+(/?)>"
    r"|</\s*+([a-zA-Z][-.a-zA-Z0-9:_]*+)\s*+>")
_STARTTAGOPEN = re.compile(r"<[a-zA-Z]")
_CHARREF_END = re.compile(r"[\s;]")


class _TreeBuilder(HTMLParser):
    """Tokenizer adapter + WHATWG tree constructor."""

    # rawtext + RCDATA elements ride the stdlib cdata machinery
    CDATA_CONTENT_ELEMENTS = (
        (RAW_TEXT_ELEMENTS | RCDATA_ELEMENTS) - {"plaintext"})

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.document = Node(DOCUMENT)
        self.stack: list[Node] = []
        self.afe: list = []  # active formatting: _FmtEntry | MARKER
        self.mode = INITIAL
        self.orig_mode = IN_BODY
        self.head: Node | None = None
        self.form: Node | None = None
        self.quirks = True  # flips off when a modern doctype arrives
        self.frameset_ok = True
        self.foster = False
        self.skip_newline = False
        self.pending_table_text: list[str] = []
        self.templates: list[Node] = []
        self.had_template = False  # finish() detaches template contents
        # §13.2.4.1 stack of template insertion modes (one entry per open
        # template; [-1] is "the current template insertion mode")
        self.template_modes: list[int] = []
        # script data escape tracking (§13.2.5.22-29): 0 = script data,
        # 1 = escaped (inside <!-- ... -->), 2 = double-escaped (a
        # <script> appeared inside the escape).  In state 2 a </script>
        # token is DATA, not a close — see handle_endtag.
        self._script_esc = 0
        self._script_tail = ""
        self._cdata_reenter = False

    def goahead(self, end):
        """The tokenizer loop, in place of ``HTMLParser.goahead``: CPython
        3.11's loop with ``convert_charrefs`` on, plus ``_TAG`` at each
        "<" in the data state (see the module docstring).  The ``&``
        branches of the stdlib loop are unreachable with
        ``convert_charrefs`` on and are left out."""
        rawdata = self.rawdata
        i, n = 0, len(rawdata)
        tag_at = _TAG.match
        while i < n:
            if self.cdata_elem is None:
                j = rawdata.find("<", i)
                if j < 0:
                    # a charref may be cut at the end of this chunk
                    amp = rawdata.rfind("&", max(i, n - 34))
                    if amp >= 0 and not _CHARREF_END.search(rawdata, amp):
                        break
                    j = n
                if i < j:
                    text = rawdata[i:j]
                    self.handle_data(unescape(text) if "&" in text else text)
                i = j
                if i == n:
                    break
                m = tag_at(rawdata, i)
                if m is not None:
                    tag, attr_text, _, _, _, _, slash, end_tag = m.groups()
                    i = m.end()
                    if end_tag is not None:
                        self.handle_endtag(end_tag.lower())
                        continue
                    tag = tag.lower()
                    attrs = _dedupe_attrs(
                        (name.lower(), unescape(dq or sq or bare))
                        for name, dq, sq, bare in _ATTRS.findall(attr_text)
                    ) if attr_text else []
                    if slash:
                        self.handle_startendtag(tag, attrs)
                    else:
                        self._start_tag(tag, attrs)
                        if tag in self.CDATA_CONTENT_ELEMENTS:
                            self.set_cdata_mode(tag)
                    continue
            else:
                m = self.interesting.search(rawdata, i)
                if m is None:
                    break
                j = m.start()
                if i < j:
                    self.handle_data(rawdata[i:j])
                i = j
            # rawdata[i] == "<"
            if _STARTTAGOPEN.match(rawdata, i):
                k = self.parse_starttag(i)
            elif rawdata.startswith("</", i):
                k = self.parse_endtag(i)
            elif rawdata.startswith("<!--", i):
                k = self.parse_comment(i)
            elif rawdata.startswith("<?", i):
                k = self.parse_pi(i)
            elif rawdata.startswith("<!", i):
                k = self.parse_html_declaration(i)
            elif i + 1 < n:
                self.handle_data("<")
                k = i + 1
            else:
                break
            if k < 0:
                if not end:
                    break
                k = rawdata.find(">", i + 1)
                if k < 0:
                    k = rawdata.find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                self.handle_data(rawdata[i:k] if self.cdata_elem
                                 else unescape(rawdata[i:k]))
            i = k
        if end and i < n and self.cdata_elem is None:
            self.handle_data(unescape(rawdata[i:n]))
            i = n
        self.rawdata = rawdata[i:]

    # ================================================== tree helpers
    def current(self) -> Node:
        return self.stack[-1]

    def _appropriate_place(self, override: Node | None = None):
        """Returns (parent, before_ref|None) — §13.2.6.1."""
        target = override if override is not None else self.current()
        if (self.foster and target.ns is None
                and target.tag in ("table", "tbody", "tfoot", "thead", "tr")):
            last_table = None
            for node in reversed(self.stack):
                if node.ns is None and node.tag == "table":
                    last_table = node
                    break
            if last_table is None:
                return self.stack[0], None
            if last_table.parent is not None:
                return last_table.parent, last_table
            prev = self.stack[self.stack.index(last_table) - 1]
            return prev, None
        return target, None

    def _insert_node(self, node: Node, override: Node | None = None) -> None:
        parent, ref = self._appropriate_place(override)
        if ref is None:
            parent.append(node)
        else:
            parent.insert_before(node, ref)

    def _insert_text(self, data: str, override: Node | None = None) -> None:
        if not data:
            return
        parent, ref = self._appropriate_place(override)
        if ref is None:
            prev = parent.children[-1] if parent.children else None
        else:
            i = parent.children.index(ref)
            prev = parent.children[i - 1] if i > 0 else None
        if prev is not None and prev.kind == TEXT:
            prev.text += data
            return
        node = Node(TEXT, text=data)
        if ref is None:
            parent.append(node)
        else:
            parent.insert_before(node, ref)

    def _insert_element(self, tag: str, attrs: list, ns: str | None = None,
                        push: bool = True) -> Node:
        node = Node(ELEMENT, tag, list(attrs), ns=ns)
        self._insert_node(node)
        if push:
            self.stack.append(node)
        return node

    def _insert_rawtext(self, tag: str, attrs: list) -> Node:
        """Insert a rawtext/RCDATA element and enter the spec's "text"
        insertion mode (tokenizer cdata switch is the stdlib's job)."""
        node = self._insert_element(tag, attrs)
        self.orig_mode = self.mode
        self.mode = TEXT_MODE
        if tag == "script":
            self._script_esc = 0
            self._script_tail = ""
        return node

    def _pop_until(self, *tags) -> None:
        while self.stack:
            node = self.stack.pop()
            if node.ns is None and node.tag in tags:
                return

    def _generate_implied(self, exclude: str | None = None,
                          thorough: bool = False) -> None:
        extra = {"caption", "colgroup", "dd", "dt", "li", "optgroup",
                 "option", "p", "rb", "rp", "rt", "rtc", "tbody", "td",
                 "tfoot", "th", "thead", "tr"} if thorough else IMPLIED_END
        while (self.stack and self.current().ns is None
               and self.current().tag in extra
               and self.current().tag != exclude):
            self.stack.pop()

    # scope checks -----------------------------------------------------
    def _in_scope(self, target, terminals=_SCOPE_BASE) -> bool:
        """target: tag name, set of tag names, or a specific Node."""
        names = ((target,) if isinstance(target, str)
                 else () if isinstance(target, Node) else target)
        for node in reversed(self.stack):
            if node is target:
                return True
            if node.ns is None:
                if node.tag in names:
                    return True
                if node.tag in terminals:
                    return False
            elif node.tag in (SPECIAL_MATH if node.ns == "math"
                              else SPECIAL_SVG):
                return False
        return False

    def _in_select_scope(self, tag: str) -> bool:
        for node in reversed(self.stack):
            if node.ns is None and node.tag == tag:
                return True
            if node.ns is not None or node.tag not in ("optgroup", "option"):
                return False
        return False

    def _is_special(self, node: Node) -> bool:
        if node.ns is None:
            return node.tag in SPECIAL
        if node.ns == "math":
            return node.tag in SPECIAL_MATH
        return node.tag in SPECIAL_SVG

    # active formatting ------------------------------------------------
    def _push_formatting(self, el: Node, tag: str, attrs: list) -> None:
        # Noah's ark: at most 3 identical (tag, attrs) entries since the
        # last marker; remove the EARLIEST on overflow
        count = 0
        earliest = None
        key = sorted(attrs)
        for entry in reversed(self.afe):
            if entry is MARKER:
                break
            if entry.tag == tag and sorted(entry.attrs) == key:
                count += 1
                earliest = entry
        if count >= 3 and earliest is not None:
            self.afe.remove(earliest)
        self.afe.append(_FmtEntry(el, tag, attrs))

    def _reconstruct_formatting(self) -> None:
        if not self.afe:
            return
        entry = self.afe[-1]
        if entry is MARKER or entry.el in self.stack:
            return
        i = len(self.afe) - 1
        while i > 0:
            prev = self.afe[i - 1]
            if prev is MARKER or prev.el in self.stack:
                break
            i -= 1
        for j in range(i, len(self.afe)):
            entry = self.afe[j]
            node = Node(ELEMENT, entry.tag, list(entry.attrs))
            self._insert_node(node)
            self.stack.append(node)
            self.afe[j] = _FmtEntry(node, entry.tag, entry.attrs)

    def _clear_formatting_to_marker(self) -> None:
        while self.afe:
            entry = self.afe.pop()
            if entry is MARKER:
                return

    # ================================================== token entry
    # (tokenizer callbacks dispatch into the mode machine)
    def _plain_body(self) -> Node | None:
        """The current node when the in-body fast path applies (see the
        module docstring), else None."""
        if (self.mode == IN_BODY and not self.afe and not self.foster
                and not self.pending_table_text and not self.skip_newline):
            cur = self.stack[-1]
            if cur.ns is None:
                return cur
        return None

    def handle_starttag(self, tag, attrs):
        self._start_tag(tag, _dedupe_attrs(attrs))

    def _start_tag(self, tag: str, attrs: list) -> None:
        """A start tag with deduplicated attributes (not self-closing)."""
        # the <pre>/<listing>/<textarea> LF skip applies only when the LF
        # is the very next token; any tag, comment or doctype ends it
        self.skip_newline = False
        if tag in BLOCK_START:
            cur = self._plain_body()
            if cur is not None:
                if self._in_scope("p", _SCOPE_BUTTON):
                    self._close_p()
                    cur = self.stack[-1]
                node = Node(ELEMENT, tag, attrs)
                cur.append(node)
                self.stack.append(node)
                return
        self._start(tag, attrs, self_closing=False)

    def handle_startendtag(self, tag, attrs):
        self.skip_newline = False
        self._start(tag, _dedupe_attrs(attrs), self_closing=True)
        # stdlib skips cdata mode for self-closing syntax; spec ignores
        # the slash on HTML rawtext elements, so re-enter it
        if tag in self.CDATA_CONTENT_ELEMENTS:
            self.set_cdata_mode(tag)

    def set_cdata_mode(self, elem):
        # the tokenizer leaves the data state only when tree construction
        # has just inserted the HTML rawtext/RCDATA element of that name:
        # an svg/math <title>, <style> or <script> holds markup, and an
        # ignored start tag leaves its content to be tokenized as usual
        # (the stdlib switches on the tag name alone)
        if (self.stack and self.stack[-1].tag == elem
                and self.stack[-1].ns is None):
            super().set_cdata_mode(elem)

    _SCRIPT_DELIMS = " \t\n\r\f/>"

    def _advance_script_escape(self, data: str) -> None:
        """Walk the script-data escape state machine (§13.2.5.22-29)
        over a script text chunk.  Approximations, both invisible to
        extraction (script data is never extracted): patterns are
        matched as substrings with the spec's delimiter lookahead on
        ``<script``, and a pattern split across feed() chunks is caught
        via a small carried tail."""
        text = (self._script_tail + data).lower()
        s = self._script_esc
        i = 0
        n = len(text)
        while i < n:
            if s == 0:
                j = text.find("<!--", i)
                if j < 0:
                    break
                s, i = 1, j + 4
            elif s == 1:
                j_end = text.find("-->", i)
                j_dbl = text.find("<script", i)
                while j_dbl >= 0 and j_dbl + 7 < n \
                        and text[j_dbl + 7] not in self._SCRIPT_DELIMS:
                    j_dbl = text.find("<script", j_dbl + 1)
                if j_end < 0 and j_dbl < 0:
                    break
                if j_dbl >= 0 and (j_end < 0 or j_dbl < j_end):
                    s, i = 2, j_dbl + 7
                else:
                    s, i = 0, j_end + 3
            else:  # double-escaped: only --> exits (to script data)
                j = text.find("-->", i)
                if j < 0:
                    break
                s, i = 0, j + 3
        self._script_esc = s
        self._script_tail = text[max(0, n - 7):]

    def clear_cdata_mode(self):
        # the stdlib clears cdata unconditionally right after a matching
        # end tag; when that end tag was swallowed as double-escaped
        # script DATA (handle_endtag below), re-arm the tokenizer instead
        if self._cdata_reenter:
            self._cdata_reenter = False
            self.set_cdata_mode("script")
        else:
            super().clear_cdata_mode()

    def handle_endtag(self, tag):
        self.skip_newline = False
        if (tag == "script" and self.cdata_elem == "script"
                and self.mode == TEXT_MODE and self._script_esc == 2):
            # §13.2.5.27: inside double-escaped script data a </script>
            # sequence is character data and drops back to the (single-)
            # escaped state; the element stays open.  Re-emitted in
            # canonical form — exact raw bytes of exotic forms like
            # "</script >" are not preserved, which extraction never sees.
            if self.stack:
                self._insert_text("</script>")
            self._script_esc = 1
            self._cdata_reenter = True
            return
        if tag not in _END_NOT_POP:
            cur = self._plain_body()
            if cur is not None and cur.tag == tag:
                self.stack.pop()
                return
        self._end(tag)

    def handle_data(self, data):
        if not data:
            return
        if self.cdata_elem is not None:
            # rawtext/RCDATA content (spec "text" insertion mode, entered
            # with the element; see set_cdata_mode): straight into the
            # element, no reconstruction, no mode dispatch
            if self.cdata_elem in RCDATA_ELEMENTS:
                data = unescape(data)
            if self.skip_newline:
                self.skip_newline = False
                if data.startswith("\n"):
                    data = data[1:]
                if not data:
                    return
            if self.stack:
                self._insert_text(data)
            if self.cdata_elem == "script":
                self._advance_script_escape(data)
            return
        cur = self._plain_body()
        if cur is None:
            self._chars(data)
            return
        kids = cur.children
        if kids and kids[-1].kind == TEXT:
            kids[-1].text += data
        else:
            cur.append(Node(TEXT, text=data))
        if self.frameset_ok and _WS_RE.search(data):
            self.frameset_ok = False

    def handle_comment(self, data):
        self.skip_newline = False
        self._flush_table_text()
        if self.mode in (INITIAL, BEFORE_HTML, AFTER_AFTER_BODY):
            self.document.append(Node(COMMENT, text=data))
        elif self.mode == AFTER_BODY:
            self.stack[0].append(Node(COMMENT, text=data))
        else:
            self._insert_node(Node(COMMENT, text=data))

    def handle_decl(self, decl):
        self.skip_newline = False
        if decl[:7].lower() == "doctype":
            self._doctype(decl[7:].strip())
        else:
            self.handle_comment(decl)  # bogus comment

    def handle_pi(self, data):
        self.handle_comment("?" + data)  # <?...> is a bogus comment

    def unknown_decl(self, data):
        # <![CDATA[foo]]> in HTML content is a bogus comment whose data is
        # everything between "<!" and ">": "[CDATA[foo]]" (the stdlib
        # strips "<![" and the closing "]]>")
        self.handle_comment("[" + data + "]]")

    def _doctype(self, rest: str) -> None:
        if self.mode != INITIAL:
            return  # ignored everywhere else
        m = re.match(r"([^\s>]*)", rest)
        name = (m.group(1) if m else "").lower()
        public_m = re.search(r'PUBLIC\s+["\']([^"\']*)', rest, re.I)
        system_m = re.search(r'SYSTEM\s+["\']([^"\']*)', rest, re.I)
        self.document.append(Node(DOCTYPE, text=name or "html"))
        self.quirks = not (
            name == "html"
            and public_m is None
            and (system_m is None
                 or system_m.group(1) == "about:legacy-compat"))
        self.mode = BEFORE_HTML

    # ================================================== char dispatch
    def _chars(self, data: str) -> None:
        while data:
            if self.mode in (INITIAL, BEFORE_HTML, BEFORE_HEAD):
                m = _WS_RE.search(data)
                if m is None:
                    return  # pure whitespace: ignored in these modes
                data = data[m.start():]
                if self.mode == INITIAL:
                    self.quirks = True  # no doctype
                    self.mode = BEFORE_HTML
                elif self.mode == BEFORE_HTML:
                    self._create_html()
                else:
                    self._create_head()
                continue
            if self.mode in (IN_HEAD, AFTER_HEAD, IN_COLUMN_GROUP,
                             IN_FRAMESET, AFTER_FRAMESET):
                m = _WS_RE.search(data)
                ws, rest = (data, "") if m is None else (
                    data[:m.start()], data[m.start():])
                if ws:
                    self._insert_text(ws)
                if not rest:
                    return
                data = rest
                if self.mode == IN_HEAD:
                    self.stack.pop()  # head
                    self.mode = AFTER_HEAD
                elif self.mode == AFTER_HEAD:
                    self._insert_element("body", [])
                    self.mode = IN_BODY
                elif self.mode == IN_COLUMN_GROUP:
                    if self.current().tag == "colgroup":
                        self.stack.pop()
                        self.mode = IN_TABLE
                    else:
                        return  # ignore
                else:
                    return  # frameset modes ignore non-ws
                continue
            if self.mode in (AFTER_BODY, AFTER_AFTER_BODY):
                m = _WS_RE.search(data)
                ws, rest = (data, "") if m is None else (
                    data[:m.start()], data[m.start():])
                if ws:  # whitespace processed per in-body rules
                    self._reconstruct_formatting()
                    self._insert_text(ws)
                if not rest:
                    return
                data = rest
                self.mode = IN_BODY
                continue
            if self.mode in (IN_TABLE, IN_TABLE_BODY, IN_ROW):
                if (self.current().ns is None
                        and self.current().tag in TABLE_CONTEXT):
                    self.pending_table_text.append(data)
                else:
                    self._in_body_chars(data)
                return
            # IN_BODY, IN_CAPTION, IN_CELL, IN_SELECT(+table), IN_TABLE_TEXT
            self._in_body_chars(data)
            return

    def _in_body_chars(self, data: str) -> None:
        if self.skip_newline:
            self.skip_newline = False
            if data.startswith("\n"):
                data = data[1:]
            if not data:
                return
        self._reconstruct_formatting()
        self._insert_text(data)
        if _WS_RE.search(data):
            self.frameset_ok = False

    def _flush_table_text(self) -> None:
        if not self.pending_table_text:
            return
        data = "".join(self.pending_table_text)
        self.pending_table_text = []
        if _WS_RE.search(data):
            # non-whitespace: foster-parent via in-body anything-else
            self.foster = True
            self._in_body_chars(data)
            self.foster = False
        else:
            self._insert_text(data)

    # ================================================== scaffold
    def _create_html(self, attrs: list | None = None) -> None:
        node = Node(ELEMENT, "html", list(attrs or []))
        self.document.append(node)
        self.stack.append(node)
        self.mode = BEFORE_HEAD

    def _create_head(self, attrs: list | None = None) -> None:
        self.head = self._insert_element("head", list(attrs or []))
        self.mode = IN_HEAD

    def _reset_mode(self) -> None:
        for i in range(len(self.stack) - 1, -1, -1):
            node = self.stack[i]
            last = i == 0
            tag = node.tag if node.ns is None else None
            if tag == "template":
                # §13.2.3.1 step "template": the current template
                # insertion mode
                self.mode = self.template_modes[-1] \
                    if self.template_modes else IN_BODY
                return
            if tag == "select":
                mode = IN_SELECT
                for j in range(i - 1, 0, -1):
                    anc = self.stack[j]
                    if anc.ns is None and anc.tag == "template":
                        break  # template shields select from the table
                    if anc.ns is None and anc.tag == "table":
                        mode = IN_SELECT_IN_TABLE
                        break
                self.mode = mode
                return
            if tag in ("td", "th") and not last:
                self.mode = IN_CELL
                return
            if tag == "tr":
                self.mode = IN_ROW
                return
            if tag in TABLE_SECTIONS:
                self.mode = IN_TABLE_BODY
                return
            if tag == "caption":
                self.mode = IN_CAPTION
                return
            if tag == "colgroup":
                self.mode = IN_COLUMN_GROUP
                return
            if tag == "table":
                self.mode = IN_TABLE
                return
            if tag == "head" and not last:
                self.mode = IN_HEAD
                return
            if tag == "body":
                self.mode = IN_BODY
                return
            if tag == "frameset":
                self.mode = IN_FRAMESET
                return
            if tag == "html":
                self.mode = BEFORE_HEAD if self.head is None else AFTER_HEAD
                return
            if last:
                self.mode = IN_BODY
                return

    # ================================================== start tags
    def _start(self, tag: str, attrs: list, self_closing: bool) -> None:
        self._self_closing = self_closing
        # foreign-content dispatcher (§13.2.6)
        if self.stack and self.current().ns is not None:
            if self._foreign_start(tag, attrs, self_closing):
                return
        self._flush_table_text()
        mode = self.mode
        if mode == INITIAL:
            self.quirks = True
            self.mode = BEFORE_HTML
            mode = BEFORE_HTML
        if mode == BEFORE_HTML:
            if tag == "html":
                self._create_html(attrs)
                return
            self._create_html()
            mode = self.mode  # BEFORE_HEAD
        if mode == BEFORE_HEAD:
            if tag == "html":
                self._merge_attrs(self.stack[0], attrs)
                return
            if tag == "head":
                self._create_head(attrs)
                return
            self._create_head()
            mode = self.mode  # IN_HEAD
        if mode == IN_HEAD:
            if self._start_in_head(tag, attrs):
                return
            self.stack.pop()  # head
            self.mode = AFTER_HEAD
            mode = AFTER_HEAD
        if mode == AFTER_HEAD:
            if tag == "html":
                self._merge_attrs(self.stack[0], attrs)
                return
            if tag == "body":
                self._insert_element("body", attrs)
                self.frameset_ok = False
                self.mode = IN_BODY
                return
            if tag == "frameset":
                self._insert_element("frameset", attrs)
                self.mode = IN_FRAMESET
                return
            if tag in ("base", "basefont", "bgsound", "link", "meta",
                       "noframes", "script", "style", "template", "title"):
                # parse error: reprocess via in-head with head re-pushed
                self.stack.append(self.head)
                self._start_in_head(tag, attrs)
                self.stack.remove(self.head)
                return
            if tag == "head":
                return  # ignore
            self._insert_element("body", [])
            self.mode = IN_BODY
            mode = IN_BODY
        if mode == IN_CELL:
            if tag in ("caption", "col", "colgroup", "tbody", "td", "tfoot",
                       "th", "thead", "tr"):
                if self._in_scope(("td", "th"), _SCOPE_TABLE):
                    self._close_cell()
                    self._start(tag, attrs, self._self_closing)
                return
            self._start_in_body(tag, attrs)
            return
        if mode == IN_CAPTION:
            if tag in ("caption", "col", "colgroup", "tbody", "td", "tfoot",
                       "th", "thead", "tr"):
                if self._in_scope("caption", _SCOPE_TABLE):
                    self._generate_implied()
                    self._pop_until("caption")
                    self._clear_formatting_to_marker()
                    self.mode = IN_TABLE
                    self._start(tag, attrs, self._self_closing)
                return
            self._start_in_body(tag, attrs)
            return
        if mode == IN_TEMPLATE:
            self._start_in_template(tag, attrs)
            return
        if mode == IN_BODY:
            self._start_in_body(tag, attrs)
            return
        if mode == IN_TABLE:
            self._start_in_table(tag, attrs)
            return
        if mode == IN_TABLE_BODY:
            self._start_in_table_body(tag, attrs)
            return
        if mode == IN_ROW:
            self._start_in_row(tag, attrs)
            return
        if mode == IN_COLUMN_GROUP:
            self._start_in_column_group(tag, attrs)
            return
        if mode in (IN_SELECT, IN_SELECT_IN_TABLE):
            self._start_in_select(tag, attrs)
            return
        if mode in (AFTER_BODY, AFTER_AFTER_BODY):
            if tag == "html":
                self._merge_attrs(self.stack[0], attrs)
                return
            self.mode = IN_BODY
            self._start_in_body(tag, attrs)
            return
        if mode == IN_FRAMESET:
            if tag == "html":
                self._merge_attrs(self.stack[0], attrs)
            elif tag == "frameset":
                self._insert_element("frameset", attrs)
            elif tag == "frame":
                self._insert_element("frame", attrs, push=False)
            elif tag == "noframes":
                self._insert_rawtext("noframes", attrs)
            return
        if mode == AFTER_FRAMESET:
            if tag == "noframes":
                self._insert_rawtext("noframes", attrs)
            return

    @staticmethod
    def _merge_attrs(node: Node, attrs: list) -> None:
        have = {n for n, _ in node.attrs}
        for n, v in attrs:
            if n not in have:
                node.attrs.append((n, v))

    def _start_in_head(self, tag: str, attrs: list) -> bool:
        """Returns True if the token was consumed by in-head rules."""
        if tag in ("base", "basefont", "bgsound", "link", "meta"):
            self._insert_element(tag, attrs, push=False)
            return True
        if tag in ("title", "noscript", "noframes", "style", "script"):
            # RCDATA (title) / rawtext (rest; scripting enabled makes
            # noscript rawtext)
            self._insert_rawtext(tag, attrs)
            return True
        if tag == "template":
            node = self._insert_element(tag, attrs)
            self.templates.append(node)
            self.had_template = True
            self.afe.append(MARKER)
            self.frameset_ok = False
            # §13.2.6.4.4: switch to "in template" and push it onto the
            # stack of template insertion modes
            self.mode = IN_TEMPLATE
            self.template_modes.append(IN_TEMPLATE)
            return True
        if tag == "head":
            return True  # ignore
        return False

    def _close_p(self) -> None:
        self._generate_implied(exclude="p")
        self._pop_until("p")

    def _start_in_body(self, tag: str, attrs: list) -> None:
        if tag == "html":
            self._merge_attrs(self.stack[0], attrs)
            return
        if tag in ("base", "basefont", "bgsound", "link", "meta",
                   "noframes", "script", "style", "template", "title",
                   "noscript"):
            self._start_in_head(tag, attrs)
            return
        if tag == "body":
            if len(self.stack) > 1 and self.stack[1].tag == "body":
                self.frameset_ok = False
                self._merge_attrs(self.stack[1], attrs)
            return
        if tag == "frameset":
            if not self.frameset_ok or len(self.stack) < 2 \
                    or self.stack[1].tag != "body":
                return
            body = self.stack[1]
            body.remove_from_parent()
            del self.stack[1:]
            self._insert_element("frameset", attrs)
            self.mode = IN_FRAMESET
            return
        if tag in BLOCK_START:
            if self._in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_element(tag, attrs)
            return
        if tag in HEADINGS:
            if self._in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            if self.current().ns is None and self.current().tag in HEADINGS:
                self.stack.pop()
            self._insert_element(tag, attrs)
            return
        if tag in ("pre", "listing"):
            if self._in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_element(tag, attrs)
            self.skip_newline = True
            self.frameset_ok = False
            return
        if tag == "form":
            if self.form is not None and not self.templates:
                return
            if self._in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            node = self._insert_element(tag, attrs)
            if not self.templates:
                self.form = node
            return
        if tag == "li":
            self.frameset_ok = False
            for node in reversed(self.stack):
                if node.ns is None and node.tag == "li":
                    self._generate_implied(exclude="li")
                    self._pop_until("li")
                    break
                if self._is_special(node) and (
                        node.ns is not None
                        or node.tag not in ("address", "div", "p")):
                    break
            if self._in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_element(tag, attrs)
            return
        if tag in ("dd", "dt"):
            self.frameset_ok = False
            for node in reversed(self.stack):
                if node.ns is None and node.tag in ("dd", "dt"):
                    self._generate_implied(exclude=node.tag)
                    self._pop_until("dd", "dt")
                    break
                if self._is_special(node) and (
                        node.ns is not None
                        or node.tag not in ("address", "div", "p")):
                    break
            if self._in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_element(tag, attrs)
            return
        if tag == "plaintext":
            if self._in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_rawtext(tag, attrs)
            self.set_cdata_mode(tag)
            self.interesting = _NEVER  # PLAINTEXT never ends
            return
        if tag == "button":
            if self._in_scope("button"):
                self._generate_implied()
                self._pop_until("button")
            self._reconstruct_formatting()
            self._insert_element(tag, attrs)
            self.frameset_ok = False
            return
        if tag == "a":
            for entry in reversed(self.afe):
                if entry is MARKER:
                    break
                if entry.tag == "a":
                    self._adoption_agency("a")
                    if entry in self.afe:
                        self.afe.remove(entry)
                    if entry.el in self.stack:
                        self.stack.remove(entry.el)
                    break
            self._reconstruct_formatting()
            el = self._insert_element(tag, attrs)
            self._push_formatting(el, tag, attrs)
            return
        if tag in ("b", "big", "code", "em", "font", "i", "s", "small",
                   "strike", "strong", "tt", "u"):
            self._reconstruct_formatting()
            el = self._insert_element(tag, attrs)
            self._push_formatting(el, tag, attrs)
            return
        if tag == "nobr":
            self._reconstruct_formatting()
            if self._in_scope("nobr"):
                self._adoption_agency("nobr")
                self._reconstruct_formatting()
            el = self._insert_element(tag, attrs)
            self._push_formatting(el, tag, attrs)
            return
        if tag in ("applet", "marquee", "object"):
            self._reconstruct_formatting()
            self._insert_element(tag, attrs)
            self.afe.append(MARKER)
            self.frameset_ok = False
            return
        if tag == "table":
            if not self.quirks and self._in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_element(tag, attrs)
            self.frameset_ok = False
            self.mode = IN_TABLE
            return
        if tag in ("area", "br", "embed", "img", "keygen", "wbr"):
            self._reconstruct_formatting()
            self._insert_element(tag, attrs, push=False)
            self.frameset_ok = False
            return
        if tag == "input":
            self._reconstruct_formatting()
            self._insert_element(tag, attrs, push=False)
            type_ = next((v for n, v in attrs if n == "type"), "")
            if type_.lower() != "hidden":
                self.frameset_ok = False
            return
        if tag in ("param", "source", "track"):
            self._insert_element(tag, attrs, push=False)
            return
        if tag == "hr":
            if self._in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._insert_element(tag, attrs, push=False)
            self.frameset_ok = False
            return
        if tag == "image":
            self._start_in_body("img", attrs)  # spec easter egg
            return
        if tag == "textarea":
            self._insert_rawtext(tag, attrs)
            self.skip_newline = True
            self.frameset_ok = False
            return
        if tag == "xmp":
            if self._in_scope("p", _SCOPE_BUTTON):
                self._close_p()
            self._reconstruct_formatting()
            self.frameset_ok = False
            self._insert_rawtext(tag, attrs)
            return
        if tag == "iframe":
            self.frameset_ok = False
            self._insert_rawtext(tag, attrs)
            return
        if tag == "noembed":
            self._insert_rawtext(tag, attrs)
            return
        if tag == "select":
            self._reconstruct_formatting()
            self._insert_element(tag, attrs)
            self.frameset_ok = False
            if self.mode in (IN_TABLE, IN_CAPTION, IN_TABLE_BODY,
                             IN_ROW, IN_CELL):
                self.mode = IN_SELECT_IN_TABLE
            else:
                self.mode = IN_SELECT
            return
        if tag in ("optgroup", "option"):
            if self.current().ns is None and self.current().tag == "option":
                self.stack.pop()
            self._reconstruct_formatting()
            self._insert_element(tag, attrs)
            return
        if tag in ("rb", "rtc"):
            if self._in_scope("ruby"):
                self._generate_implied()
            self._insert_element(tag, attrs)
            return
        if tag in ("rp", "rt"):
            if self._in_scope("ruby"):
                self._generate_implied(exclude="rtc")
            self._insert_element(tag, attrs)
            return
        if tag == "math":
            self._reconstruct_formatting()
            self._insert_foreign(tag, attrs, "math", self._self_closing)
            return
        if tag == "svg":
            self._reconstruct_formatting()
            self._insert_foreign(tag, attrs, "svg", self._self_closing)
            return
        if tag in ("caption", "col", "colgroup", "frame", "head", "tbody",
                   "td", "tfoot", "th", "thead", "tr"):
            return  # ignore
        # anything else
        self._reconstruct_formatting()
        self._insert_element(tag, attrs)

    # --- table family -------------------------------------------------
    def _clear_to_table_context(self) -> None:
        while self.stack and not (
                self.current().ns is None
                and self.current().tag in ("table", "template", "html")):
            self.stack.pop()

    def _clear_to_table_body_context(self) -> None:
        while self.stack and not (
                self.current().ns is None
                and self.current().tag in ("tbody", "tfoot", "thead",
                                           "template", "html")):
            self.stack.pop()

    def _clear_to_row_context(self) -> None:
        while self.stack and not (
                self.current().ns is None
                and self.current().tag in ("tr", "template", "html")):
            self.stack.pop()

    def _start_in_template(self, tag: str, attrs: list) -> None:
        """§13.2.6.4.18 "in template": head-content tags use in-head
        rules; table-structure tags swap the current template insertion
        mode to the matching table mode and reprocess; anything else
        swaps to "in body" and reprocesses."""
        if tag in ("base", "basefont", "bgsound", "link", "meta",
                   "noframes", "script", "style", "template", "title"):
            self._start_in_head(tag, attrs)
            return
        if tag in ("caption", "colgroup", "tbody", "tfoot", "thead"):
            nxt = IN_TABLE
        elif tag == "col":
            nxt = IN_COLUMN_GROUP
        elif tag == "tr":
            nxt = IN_TABLE_BODY
        elif tag in ("td", "th"):
            nxt = IN_ROW
        else:
            nxt = IN_BODY
        if self.template_modes:
            self.template_modes[-1] = nxt
        self.mode = nxt
        self._start(tag, attrs, self._self_closing)

    def _start_in_table(self, tag: str, attrs: list) -> None:
        if tag == "caption":
            self._clear_to_table_context()
            self.afe.append(MARKER)
            self._insert_element(tag, attrs)
            self.mode = IN_CAPTION
            return
        if tag == "colgroup":
            self._clear_to_table_context()
            self._insert_element(tag, attrs)
            self.mode = IN_COLUMN_GROUP
            return
        if tag == "col":
            self._clear_to_table_context()
            self._insert_element("colgroup", [])
            self.mode = IN_COLUMN_GROUP
            self._start_in_column_group(tag, attrs)
            return
        if tag in TABLE_SECTIONS:
            self._clear_to_table_context()
            self._insert_element(tag, attrs)
            self.mode = IN_TABLE_BODY
            return
        if tag in ("td", "th", "tr"):
            self._clear_to_table_context()
            self._insert_element("tbody", [])
            self.mode = IN_TABLE_BODY
            self._start_in_table_body(tag, attrs)
            return
        if tag == "table":
            if self._in_scope("table", _SCOPE_TABLE):
                self._pop_until("table")
                self._reset_mode()
                self._start(tag, attrs, False)
            return
        if tag in ("style", "script", "template"):
            self._start_in_head(tag, attrs)
            return
        if tag == "input":
            type_ = next((v for n, v in attrs if n == "type"), "")
            if type_.lower() == "hidden":
                self._insert_element(tag, attrs, push=False)
                return
        elif tag == "form":
            if self.form is None and not self.templates:
                self.form = self._insert_element(tag, attrs)
                self.stack.pop()
            return
        # anything else: foster-parented in-body processing
        self.foster = True
        self._start_in_body(tag, attrs)
        self.foster = False

    def _start_in_table_body(self, tag: str, attrs: list) -> None:
        if tag == "tr":
            self._clear_to_table_body_context()
            self._insert_element(tag, attrs)
            self.mode = IN_ROW
            return
        if tag in ("th", "td"):
            self._clear_to_table_body_context()
            self._insert_element("tr", [])
            self.mode = IN_ROW
            self._start_in_row(tag, attrs)
            return
        if tag in ("caption", "col", "colgroup") or tag in TABLE_SECTIONS:
            if self._in_scope(TABLE_SECTIONS, _SCOPE_TABLE):
                self._clear_to_table_body_context()
                self.stack.pop()
                self.mode = IN_TABLE
                self._start_in_table(tag, attrs)
            return
        self._start_in_table(tag, attrs)

    def _start_in_row(self, tag: str, attrs: list) -> None:
        if tag in ("th", "td"):
            self._clear_to_row_context()
            self._insert_element(tag, attrs)
            self.mode = IN_CELL
            self.afe.append(MARKER)
            return
        if tag in ("caption", "col", "colgroup", "tr") \
                or tag in TABLE_SECTIONS:
            if self._in_scope("tr", _SCOPE_TABLE):
                self._clear_to_row_context()
                self.stack.pop()  # tr
                self.mode = IN_TABLE_BODY
                self._start_in_table_body(tag, attrs)
            return
        self._start_in_table(tag, attrs)

    def _close_cell(self) -> None:
        self._generate_implied()
        self._pop_until("td", "th")
        self._clear_formatting_to_marker()
        self.mode = IN_ROW

    def _start_in_column_group(self, tag: str, attrs: list) -> None:
        if tag == "html":
            self._merge_attrs(self.stack[0], attrs)
            return
        if tag == "col":
            self._insert_element(tag, attrs, push=False)
            return
        if tag == "template":
            self._start_in_head(tag, attrs)
            return
        if self.current().ns is None and self.current().tag == "colgroup":
            self.stack.pop()
            self.mode = IN_TABLE
            self._start(tag, attrs, False)

    def _start_in_select(self, tag: str, attrs: list) -> None:
        if tag == "html":
            self._merge_attrs(self.stack[0], attrs)
            return
        if tag == "option":
            if self.current().tag == "option":
                self.stack.pop()
            self._insert_element(tag, attrs)
            return
        if tag == "optgroup":
            if self.current().tag == "option":
                self.stack.pop()
            if self.current().tag == "optgroup":
                self.stack.pop()
            self._insert_element(tag, attrs)
            return
        if tag == "select":
            if self._in_select_scope("select"):
                self._pop_until("select")
                self._reset_mode()
            return
        if tag in ("input", "keygen", "textarea"):
            if self._in_select_scope("select"):
                self._pop_until("select")
                self._reset_mode()
                self._start(tag, attrs, False)
            return
        if tag in ("script", "template"):
            self._start_in_head(tag, attrs)
            return
        if self.mode == IN_SELECT_IN_TABLE and tag in (
                "caption", "table", "tbody", "tfoot", "thead",
                "tr", "td", "th"):
            self._pop_until("select")
            self._reset_mode()
            self._start(tag, attrs, False)
            return
        # anything else: ignored

    # ================================================== end tags
    def _end(self, tag: str) -> None:
        if self.stack and self.current().ns is not None:
            if self._foreign_end(tag):
                return
        self._flush_table_text()
        mode = self.mode
        if mode == TEXT_MODE:
            # the matching rawtext/RCDATA end tag (stdlib cdata machinery
            # guarantees only the matching one reaches us)
            self.stack.pop()
            self.mode = self.orig_mode
            return
        if mode in (INITIAL, BEFORE_HTML, BEFORE_HEAD):
            if tag not in ("head", "body", "html", "br"):
                return  # ignore
            # act as anything-else: build scaffold then reprocess
            if mode == INITIAL:
                self.quirks = True
                self.mode = BEFORE_HTML
            if self.mode == BEFORE_HTML:
                self._create_html()
            if self.mode == BEFORE_HEAD:
                self._create_head()
            mode = self.mode
        if mode == IN_HEAD:
            if tag == "head":
                self.stack.pop()
                self.mode = AFTER_HEAD
                return
            if tag == "template":
                self._end_template()
                return
            if tag not in ("body", "html", "br"):
                return  # ignore
            self.stack.pop()
            self.mode = AFTER_HEAD
            mode = AFTER_HEAD
        if mode == AFTER_HEAD:
            if tag == "template":
                return
            if tag not in ("body", "html", "br"):
                return
            self._insert_element("body", [])
            self.mode = IN_BODY
            mode = IN_BODY
        if mode == IN_TEMPLATE:
            if tag == "template":
                self._end_template()
            return  # any other end tag: ignore (§13.2.6.4.18)
        if mode == IN_BODY:
            self._end_in_body(tag)
            return
        if mode == IN_TABLE:
            self._end_in_table(tag)
            return
        if mode == IN_TABLE_BODY:
            if tag in TABLE_SECTIONS:
                if self._in_scope(tag, _SCOPE_TABLE):
                    self._clear_to_table_body_context()
                    self.stack.pop()
                    self.mode = IN_TABLE
                return
            if tag == "table":
                if self._in_scope(TABLE_SECTIONS, _SCOPE_TABLE):
                    self._clear_to_table_body_context()
                    self.stack.pop()
                    self.mode = IN_TABLE
                    self._end_in_table(tag)
                return
            if tag in ("body", "caption", "col", "colgroup", "html",
                       "td", "th", "tr"):
                return
            self._end_in_table(tag)
            return
        if mode == IN_ROW:
            if tag == "tr":
                if self._in_scope("tr", _SCOPE_TABLE):
                    self._clear_to_row_context()
                    self.stack.pop()
                    self.mode = IN_TABLE_BODY
                return
            if tag == "table":
                if self._in_scope("tr", _SCOPE_TABLE):
                    self._clear_to_row_context()
                    self.stack.pop()
                    self.mode = IN_TABLE_BODY
                    self._end(tag)
                return
            if tag in TABLE_SECTIONS:
                if self._in_scope(tag, _SCOPE_TABLE) \
                        and self._in_scope("tr", _SCOPE_TABLE):
                    self._clear_to_row_context()
                    self.stack.pop()
                    self.mode = IN_TABLE_BODY
                    self._end(tag)
                return
            if tag in ("body", "caption", "col", "colgroup", "html",
                       "td", "th"):
                return
            self._end_in_table(tag)
            return
        if mode == IN_CELL:
            if tag in ("td", "th"):
                if self._in_scope(tag, _SCOPE_TABLE):
                    self._generate_implied()
                    self._pop_until(tag)
                    self._clear_formatting_to_marker()
                    self.mode = IN_ROW
                return
            if tag in ("body", "caption", "col", "colgroup", "html"):
                return
            if tag in ("table", "tbody", "tfoot", "thead", "tr"):
                if self._in_scope(tag, _SCOPE_TABLE):
                    self._close_cell()
                    self._end(tag)
                return
            self._end_in_body(tag)
            return
        if mode == IN_CAPTION:
            if tag == "caption":
                if self._in_scope("caption", _SCOPE_TABLE):
                    self._generate_implied()
                    self._pop_until("caption")
                    self._clear_formatting_to_marker()
                    self.mode = IN_TABLE
                return
            if tag == "table":
                if self._in_scope("caption", _SCOPE_TABLE):
                    self._generate_implied()
                    self._pop_until("caption")
                    self._clear_formatting_to_marker()
                    self.mode = IN_TABLE
                    self._end(tag)
                return
            if tag in ("body", "col", "colgroup", "html", "tbody", "td",
                       "tfoot", "th", "thead", "tr"):
                return
            self._end_in_body(tag)
            return
        if mode == IN_COLUMN_GROUP:
            if tag == "colgroup":
                if self.current().ns is None \
                        and self.current().tag == "colgroup":
                    self.stack.pop()
                    self.mode = IN_TABLE
                return
            if tag == "col":
                return
            if tag == "template":
                self._end_template()
                return
            if self.current().ns is None and self.current().tag == "colgroup":
                self.stack.pop()
                self.mode = IN_TABLE
                self._end(tag)
            return
        if mode in (IN_SELECT, IN_SELECT_IN_TABLE):
            if tag == "optgroup":
                if (self.current().tag == "option" and len(self.stack) > 1
                        and self.stack[-2].tag == "optgroup"):
                    self.stack.pop()
                if self.current().tag == "optgroup":
                    self.stack.pop()
                return
            if tag == "option":
                if self.current().tag == "option":
                    self.stack.pop()
                return
            if tag == "select":
                if self._in_select_scope("select"):
                    self._pop_until("select")
                    self._reset_mode()
                return
            if tag == "template":
                self._end_template()
                return
            if mode == IN_SELECT_IN_TABLE and tag in (
                    "caption", "table", "tbody", "tfoot", "thead",
                    "tr", "td", "th"):
                if self._in_scope(tag, _SCOPE_TABLE):
                    self._pop_until("select")
                    self._reset_mode()
                    self._end(tag)
            return
        if mode == AFTER_BODY:
            if tag == "html":
                self.mode = AFTER_AFTER_BODY
                return
            self.mode = IN_BODY
            self._end(tag)
            return
        if mode == AFTER_AFTER_BODY:
            self.mode = IN_BODY
            self._end(tag)
            return
        if mode == IN_FRAMESET:
            if tag == "frameset":
                if not (len(self.stack) == 1
                        and self.current().tag == "html"):
                    self.stack.pop()
                    if self.current().tag != "frameset":
                        self.mode = AFTER_FRAMESET
            return
        if mode == AFTER_FRAMESET:
            if tag == "html":
                self.mode = AFTER_AFTER_BODY
            return

    def _end_in_table(self, tag: str) -> None:
        if tag == "table":
            if self._in_scope("table", _SCOPE_TABLE):
                self._pop_until("table")
                self._reset_mode()
            return
        if tag in ("body", "caption", "col", "colgroup", "html",
                   "tbody", "td", "tfoot", "th", "thead", "tr"):
            return  # ignore
        if tag == "template":
            self._end_template()
            return
        self.foster = True
        self._end_in_body(tag)
        self.foster = False

    def _end_template(self) -> None:
        if not self.templates:
            return
        self._generate_implied(thorough=True)
        self._pop_until("template")
        self._clear_formatting_to_marker()
        self.templates.pop()
        if self.template_modes:
            self.template_modes.pop()
        self._reset_mode()

    def _end_in_body(self, tag: str) -> None:
        if tag == "template":
            self._end_template()
            return
        if tag == "body":
            if self._in_scope("body"):
                self.mode = AFTER_BODY
            return
        if tag == "html":
            if self._in_scope("body"):
                self.mode = AFTER_BODY
                self._end(tag)
            return
        if tag in ("address", "article", "aside", "blockquote", "button",
                   "center", "details", "dialog", "dir", "div", "dl",
                   "fieldset", "figcaption", "figure", "footer", "header",
                   "hgroup", "listing", "main", "menu", "nav", "ol", "pre",
                   "section", "summary", "ul"):
            if self._in_scope(tag):
                self._generate_implied()
                self._pop_until(tag)
            return
        if tag == "form":
            if not self.templates:
                node, self.form = self.form, None
                if node is None or not self._in_scope(node):
                    return
                self._generate_implied()
                if node in self.stack:
                    self.stack.remove(node)
            else:
                if not self._in_scope("form"):
                    return
                self._generate_implied()
                self._pop_until("form")
            return
        if tag == "p":
            if not self._in_scope("p", _SCOPE_BUTTON):
                self._insert_element("p", [])  # stray </p> → empty <p>
            self._close_p()
            return
        if tag == "li":
            if self._in_scope("li", _SCOPE_LIST):
                self._generate_implied(exclude="li")
                self._pop_until("li")
            return
        if tag in ("dd", "dt"):
            if self._in_scope(tag):
                self._generate_implied(exclude=tag)
                self._pop_until(tag)
            return
        if tag in HEADINGS:
            if self._in_scope(HEADINGS):
                self._generate_implied()
                self._pop_until(*HEADINGS)
            return
        if tag in FORMATTING:
            self._adoption_agency(tag)
            return
        if tag in ("applet", "marquee", "object"):
            if self._in_scope(tag):
                self._generate_implied()
                self._pop_until(tag)
                self._clear_formatting_to_marker()
            return
        if tag == "br":
            self._start_in_body("br", [])  # </br> acts as <br>
            return
        # any other end tag
        for i in range(len(self.stack) - 1, -1, -1):
            node = self.stack[i]
            if node.ns is None and node.tag == tag:
                self._generate_implied(exclude=tag)
                del self.stack[i:]
                return
            if self._is_special(node):
                return  # ignore

    # ================================================== adoption agency
    def _adoption_agency(self, tag: str) -> None:
        """§13.2.6.4.7 "adoption agency algorithm" — misnested formatting
        elements (``<b><i>x</b>y`` → ``<b><i>x</i></b><i>y</i>``)."""
        cur = self.current() if self.stack else None
        if (cur is not None and cur.ns is None and cur.tag == tag
                and all(e is MARKER or e.el is not cur for e in self.afe)):
            self.stack.pop()
            return
        for _outer in range(8):
            fmt_entry = None
            for entry in reversed(self.afe):
                if entry is MARKER:
                    break
                if entry.tag == tag:
                    fmt_entry = entry
                    break
            if fmt_entry is None:
                self._any_other_end_tag(tag)
                return
            fe = fmt_entry.el
            if fe not in self.stack:
                self.afe.remove(fmt_entry)
                return
            if not self._in_scope(fe):
                return
            fe_idx = self.stack.index(fe)
            furthest = None
            for i in range(fe_idx + 1, len(self.stack)):
                if self._is_special(self.stack[i]):
                    furthest = self.stack[i]
                    break
            if furthest is None:
                del self.stack[fe_idx:]
                self.afe.remove(fmt_entry)
                return
            common = self.stack[fe_idx - 1]
            bookmark = self.afe.index(fmt_entry)
            node = last_node = furthest
            node_idx = self.stack.index(node)
            inner = 0
            while True:
                inner += 1
                node_idx -= 1
                node = self.stack[node_idx]
                if node is fe:
                    break
                node_entry = next(
                    (e for e in self.afe
                     if e is not MARKER and e.el is node), None)
                if inner > 3 and node_entry is not None:
                    if self.afe.index(node_entry) < bookmark:
                        bookmark -= 1
                    self.afe.remove(node_entry)
                    node_entry = None
                if node_entry is None:
                    # not in the formatting list: drop from the stack;
                    # after removal the element above sits at node_idx-1,
                    # which the next iteration's decrement reaches
                    del self.stack[node_idx]
                    node_idx += 1  # compensate the upcoming decrement
                    node_idx -= 1
                    continue
                clone = Node(ELEMENT, node_entry.tag, list(node_entry.attrs))
                new_entry = _FmtEntry(clone, node_entry.tag, node_entry.attrs)
                self.afe[self.afe.index(node_entry)] = new_entry
                self.stack[node_idx] = clone
                node = clone
                if last_node is furthest:
                    bookmark = self.afe.index(new_entry) + 1
                last_node.remove_from_parent()
                node.append(last_node)
                last_node = node
            last_node.remove_from_parent()
            parent, ref = self._appropriate_place(override=common)
            if ref is None:
                parent.append(last_node)
            else:
                parent.insert_before(last_node, ref)
            clone = Node(ELEMENT, fmt_entry.tag, list(fmt_entry.attrs))
            for child in list(furthest.children):
                child.remove_from_parent()
                clone.append(child)
            furthest.append(clone)
            if self.afe.index(fmt_entry) < bookmark:
                bookmark -= 1
            self.afe.remove(fmt_entry)
            bookmark = min(bookmark, len(self.afe))
            self.afe.insert(
                bookmark, _FmtEntry(clone, fmt_entry.tag, fmt_entry.attrs))
            self.stack.remove(fe)
            self.stack.insert(self.stack.index(furthest) + 1, clone)

    def _any_other_end_tag(self, tag: str) -> None:
        for i in range(len(self.stack) - 1, -1, -1):
            node = self.stack[i]
            if node.ns is None and node.tag == tag:
                self._generate_implied(exclude=tag)
                del self.stack[i:]
                return
            if self._is_special(node):
                return

    # ================================================== foreign content
    _self_closing = False

    def _insert_foreign(self, tag: str, attrs: list, ns: str,
                        self_closing: bool) -> None:
        if ns == "svg":
            tag = SVG_TAG_ADJUST.get(tag, tag)
            attrs = [(SVG_ATTR_ADJUST.get(n, n), v) for n, v in attrs]
        node = Node(ELEMENT, tag, list(attrs), ns=ns)
        self._insert_node(node)
        if not self_closing:
            self.stack.append(node)

    def _is_html_ip(self, node: Node) -> bool:
        """HTML integration point."""
        if node.ns == "svg" and node.tag in ("foreignObject", "desc", "title"):
            return True
        if node.ns == "math" and node.tag == "annotation-xml":
            enc = next((v for n, v in node.attrs if n == "encoding"), "")
            return enc.lower() in ("text/html", "application/xhtml+xml")
        return False

    def _is_math_ip(self, node: Node) -> bool:
        return node.ns == "math" and node.tag in ("mi", "mo", "mn", "ms",
                                                  "mtext")

    def _foreign_start(self, tag, attrs, self_closing) -> bool:
        """Returns True if consumed by foreign-content rules."""
        cur = self.current()
        if self._is_html_ip(cur):
            return False  # HTML rules
        if self._is_math_ip(cur) and tag not in ("mglyph", "malignmark"):
            return False
        if cur.ns == "math" and cur.tag == "annotation-xml" and tag == "svg":
            self._insert_foreign(tag, attrs, "svg", self_closing)
            return True
        if tag in BREAKOUT or (
                tag == "font" and any(n in ("color", "face", "size")
                                      for n, _ in attrs)):
            while self.stack and not (
                    self.current().ns is None
                    or self._is_math_ip(self.current())
                    or self._is_html_ip(self.current())):
                self.stack.pop()
            return False  # reprocess via HTML rules (caller continues)
        ns = cur.ns
        self._insert_foreign(tag, attrs, ns, self_closing)
        return True

    def _foreign_end(self, tag: str) -> bool:
        cur = self.current()
        if cur.ns is None:
            return False
        for i in range(len(self.stack) - 1, 0, -1):
            node = self.stack[i]
            if node.ns is None:
                return False  # HTML rules take over
            if node.tag.lower() == tag:
                del self.stack[i:]
                return True
        return True  # ignored

    # ================================================== finish
    def close(self) -> None:
        """WHATWG EOF repair over the stdlib tokenizer's leftover buffer.
        At EOF the stdlib flushes an incomplete construct as raw TEXT
        (and silently drops unterminated rawtext/RCDATA content); the
        spec tokenizer instead emits an unterminated ``<!--``/``<!``/
        ``<?`` as a COMMENT token (§13.2.5.45/41), drops an unterminated
        tag (eof-in-tag), keeps lone ``<``/``</`` as text, and keeps
        rawtext content.  Truncated pages are routine in a crawl, so
        match html5ever here — without this, ``<!--<script>`` at EOF
        leaks literal markup into extracted text."""
        tail = self.rawdata
        if tail:
            if self.cdata_elem is not None:
                # unterminated rawtext/RCDATA: spec keeps the text (the
                # element itself is popped in finish())
                self.rawdata = ""
                self.handle_data(tail)
            elif tail.startswith("<"):
                self.rawdata = ""
                if tail.startswith("<!--"):
                    # eof-in-comment: data is everything after <!--, any
                    # half-consumed close dashes excluded
                    self.handle_comment(re.sub(r"--?$", "", tail[4:]))
                elif tail[:9].lower() == "<!doctype":
                    self.handle_decl(tail[2:])
                elif tail.startswith("<!"):
                    self.handle_comment(tail[2:])
                elif tail.startswith("<?"):
                    self.handle_comment("?" + tail[2:])
                elif tail in ("<", "</"):
                    self.handle_data(tail)
                elif tail.startswith("</") and not re.match(
                        r"[A-Za-z]", tail[2:3]):
                    self.handle_comment(tail[2:])
                # else: an unterminated tag — eof-in-tag drops it
        super().close()

    def finish(self) -> Node:
        self._flush_table_text()
        if self.mode == TEXT_MODE:  # EOF inside rawtext (incl. plaintext)
            self.stack.pop()
            self.mode = self.orig_mode
        if self.mode in (INITIAL, BEFORE_HTML):
            self._create_html()
        if self.mode == BEFORE_HEAD:
            self._create_head()
        if self.mode == IN_HEAD:
            self.stack.pop()
            self.mode = AFTER_HEAD
        if self.mode == AFTER_HEAD:
            self._insert_element("body", [])
        # detach template contents (rcdom stores them out-of-children)
        def strip_templates(node: Node) -> None:
            for child in list(node.children):
                if child.kind == ELEMENT:
                    if child.tag == "template" and child.ns is None:
                        child.children = []
                    else:
                        strip_templates(child)
        if self.had_template:
            strip_templates(self.document)
        return self.document


def parse_html(source) -> Node:
    """Parse HTML (str or utf-8 bytes) into a document Node tree with
    html5ever-equivalent (WHATWG) tree construction."""
    if isinstance(source, (bytes, bytearray)):
        source = bytes(source).decode("utf-8", errors="replace")
    # input stream preprocessing: newline normalization + BOM strip
    if source.startswith("\ufeff"):
        source = source[1:]
    if "\r" in source:
        source = source.replace("\r\n", "\n").replace("\r", "\n")
    # the cyclic GC would rescan the young, all-live tree over and over
    # while it grows (a third of the parse time); the tree becomes
    # garbage only after the caller is done with it
    gc_was_on = gc.isenabled()
    gc.disable()
    try:
        builder = _TreeBuilder()
        builder.feed(source)
        builder.close()
        return builder.finish()
    finally:
        if gc_was_on:
            gc.enable()
