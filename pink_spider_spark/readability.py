"""Readability-style content scoring/cleaning.

Faithful re-expression of the reference's readability module
(reference: src/readability.rs), operating on the stdlib DOM in
``pink_spider_spark.htmldom``.

Scores are Python numbers equal bit for bit to the reference's ``f32``
ones.  Content and initial scores are integers and the walk adds halves
of them, so every sum is a multiple of 1/2: exact in f32 below 2^23.
``_f32`` rounds only where a result can leave that range or a real
fraction appears: ``add_score``, huge content scores and link-length
sums, the link-density division, the ``score * (1 - link_density)``
product of top-candidate selection and the ``is_useless`` comparisons.
Rounding the double result of an f32 + - * / once to f32 is exact
(53 >= 2 * 24 + 2 significand bits).

Path ids: the reference keys candidates by filesystem-style path strings
("/", "/0", "/0/3") in a BTreeMap; iteration order is lexicographic on the
string ("/0/10" sorts before "/0/2"), which is observable in top-candidate
selection — reproduced here by sorting dict keys.
"""

from __future__ import annotations

import math
import re
from urllib.parse import urljoin

import numpy as np

from .htmldom import dom
from .htmldom.dom import COMMENT, DOCTYPE, DOCUMENT, ELEMENT, TEXT, Node

# reference: src/readability.rs:22-41 (verbatim pattern constants)
PUNCTUATIONS_REGEX = r"([、。，．！？]|\.[^A-Za-z0-9]|,[^0-9]|!|\?)"
UNLIKELY_CANDIDATES = (
    "combx|comment|community|disqus|extra|foot|header|menu"
    "|remark|rss|shoutbox|sidebar|sponsor|ad-break|agegate"
    "|pagination|pager|popup|tweet|twitter"
    "|ssba"
)
LIKELY_CANDIDATES = "and|article|body|column|main|shadow|content|hentry"
POSITIVE_CANDIDATES = (
    "article|body|content|entry|hentry|main|page"
    "|pagination|post|text|blog|story"
)
NEGATIVE_CANDIDATES = (
    "combx|comment|com|contact|foot|footer|footnote"
    "|masthead|media|meta|outbrain|promo|related"
    "|scroll|shoutbox|sidebar|sponsor|shopping"
    "|tags|tool|widget|form|textfield"
    "|uiScale|hidden"
)
BLOCK_CHILD_TAGS = frozenset(
    ["a", "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul"]
)

# the reference pattern's matches, led by one class so the regex engine
# skips to candidate marks: "." and "," take their next char as before
PUNCTUATIONS = re.compile(
    r"[、。，．！？!?.,](?:(?<=\.)[^A-Za-z0-9]|(?<=,)[^0-9]|(?<![.,]))")
LIKELY = re.compile(LIKELY_CANDIDATES)
UNLIKELY = re.compile(UNLIKELY_CANDIDATES)
POSITIVE = re.compile(POSITIVE_CANDIDATES)
NEGATIVE = re.compile(NEGATIVE_CANDIDATES)

# integers up to 2^24 and multiples of 1/2 below 2^23 are exact in f32
_F32_INT_MAX = 1 << 24
_F32_HALF_MAX = 1 << 23


def _f32(x) -> float:
    """``x`` rounded to the nearest f32, as a Python float."""
    return float(np.float32(x))


class Candidate:
    __slots__ = ("node", "score")

    def __init__(self, node: Node, score):
        self.node = node
        self.score = score


# ---------------------------------------------------------------- paths
def path_join(path: str, index: int) -> str:
    return f"/{index}" if path == "/" else f"{path}/{index}"


# ------------------------------------------------------------- scoring
def add_score(total, delta):
    """The reference's f32 ``total + delta`` for multiples of 1/2."""
    s = total + delta
    if -_F32_HALF_MAX < s < _F32_HALF_MAX:
        return s
    return _f32(s)


def fix_img_path(node: Node, base_url: str) -> bool:
    """reference: src/readability.rs:56-69.  Quirk preserved: only
    absolute https:// srcs are re-joined (a no-op for normalized URLs);
    relative srcs are never fixed.  Returns False only when no src."""
    src = dom.get_attr("src", node)
    if src is None:
        return False
    if not src.startswith("//") and not src.startswith("http://") and src.startswith("https://"):
        try:
            dom.set_attr("src", urljoin(base_url, src), node)
        except ValueError:
            pass
    return True


def _subtree_stats(node: Node):
    """``(text_len, link_lens, counts)`` in one pass: the subtree's
    trimmed text length (reference: src/dom.rs:119-134), the text length
    of each ``<a>`` descendant in pre-order, and the number of
    p/img/li/input/embed descendants (src/dom.rs:136-150)."""
    links: list[int] = []
    counts = dict.fromkeys(("p", "img", "li", "input", "embed"), 0)
    return _visit(node, links, counts), links, counts


def _visit(node: Node, links: list, counts: dict) -> int:
    total = 0
    for child in node.children:
        if child.kind == TEXT:
            total += len(child.text.strip())
        elif child.kind == ELEMENT:
            tag = child.tag
            if tag in counts:
                counts[tag] += 1
            if tag != "a":
                total += _visit(child, links, counts)
                continue
            i = len(links)
            links.append(0)
            links[i] = size = _visit(child, links, counts)
            total += size
    return total


def get_link_density(node: Node, stats=None) -> float:
    """reference: src/readability.rs:71-83 (f32 division).  ``stats`` is
    ``_subtree_stats(node)`` when the caller already has it."""
    text_length, links, _ = stats or _subtree_stats(node)
    if text_length == 0:
        return 0.0
    link_length = sum(links)
    if link_length > _F32_INT_MAX:
        # the reference's per-link f32 sum; nested <a> text counts once
        # per enclosing <a>, so this sum can exceed text_length
        link_length = 0.0
        for n in links:
            link_length = _f32(link_length + _f32(n))
    return _f32(link_length / _f32(text_length))


def is_candidate(node: Node) -> bool:
    """reference: src/readability.rs:85-103."""
    tag = dom.get_tag_name(node) or ""
    if tag not in ("p", "div", "article", "center", "section"):
        return False
    if not dom.text_len_reaches(node, 20):
        return False
    if tag == "p":
        return True
    if not dom.has_nodes(node, BLOCK_CHILD_TAGS):
        return True
    return dom.text_children_count(node) > 5


def init_content_score(node: Node) -> int:
    """reference: src/readability.rs:105-116."""
    score = {"article": 10, "div": 5, "blockquote": 3, "form": -3, "th": 5}
    return score.get(dom.get_tag_name(node) or "", 0) + get_class_weight(node)


def calc_content_score(node: Node):
    """reference: src/readability.rs:118-126."""
    parts: list = []
    dom.extract_text(node, parts, True)
    text = "".join(parts)
    punct = len(PUNCTUATIONS.findall(text))
    # the f32 floor(len / 100) is len // 100 below 300 and >= 3 above
    bonus = min(len(text) // 100, 3)
    score = 1 + punct + bonus
    if score > _F32_INT_MAX:
        score = _f32(_f32(1 + _f32(punct)) + bonus)
    return score


def get_class_weight(node: Node) -> int:
    """reference: src/readability.rs:128-146."""
    weight = 0
    if node.kind == ELEMENT:
        for name in ("id", "class"):
            val = dom.attr(name, node.attrs)
            if val is not None:
                if POSITIVE.search(val):
                    weight += 25
                if NEGATIVE.search(val):
                    weight -= 25
    return weight


# ---------------------------------------------------------- preprocess
def preprocess(node: Node) -> bool:
    """Drop script/style + unlikely-candidate elements; wrap <br><br>text
    runs in fresh <p> elements.  Returns True when the caller must remove
    this node (reference: src/readability.rs:148-214)."""
    if node.kind == ELEMENT:
        tag = node.tag or ""
        if tag in ("script", "style"):
            return True
        for name in ("id", "class"):
            val = dom.attr(name, node.attrs)
            if val is not None:
                if tag != "body" and UNLIKELY.search(val):
                    if not LIKELY.search(val):
                        return True

    useless_nodes: list[Node] = []
    paragraph_nodes: list[Node] = []
    br_count = 0
    for child in list(node.children):
        if preprocess(child):
            useless_nodes.append(child)
        if child.kind == ELEMENT:
            if child.tag == "br":
                br_count += 1
            else:
                br_count = 0
        elif child.kind == TEXT:
            if br_count >= 2 and len(child.text.strip()) > 0:
                paragraph_nodes.append(child)
                br_count = 0
    for n in useless_nodes:
        n.remove_from_parent()
    for n in paragraph_nodes:
        p = Node(ELEMENT, "p")
        parent = n.parent
        if parent is None:
            continue
        parent.insert_before(p, n)
        n.remove_from_parent()
        p.append(Node(TEXT, text=n.text))
    return False


# --------------------------------------------------------------- clean
def clean(path: str, node: Node, base_url: str, candidates: dict) -> bool:
    """Remove chrome/useless subtrees under the chosen top candidate;
    returns True when the caller must remove this node
    (reference: src/readability.rs:216-261)."""
    useless = False
    if node.kind in (DOCUMENT, DOCTYPE):
        pass
    elif node.kind == TEXT:
        if len(node.text.strip()) == 0:
            useless = True
    elif node.kind == COMMENT:
        useless = True
    elif node.kind == ELEMENT:
        tag = node.tag or ""
        if tag in ("script", "link", "style", "noscript", "meta",
                   "h1", "object", "header", "footer", "aside"):
            useless = True
        elif tag in ("form", "table", "ul", "div"):
            useless = is_useless(path, node, candidates)
        elif tag == "img":
            useless = not fix_img_path(node, base_url)
        dom.remove_attr("id", node)
        dom.remove_attr("class", node)
        dom.remove_attr("style", node)

    useless_nodes: list[Node] = []
    for i, child in enumerate(node.children):
        if clean(path_join(path, i), child, base_url, candidates):
            useless_nodes.append(child)
    for n in useless_nodes:
        n.remove_from_parent()
    if dom.is_empty(node):
        useless = True
    return useless


def is_useless(path: str, node: Node, candidates: dict) -> bool:
    """reference: src/readability.rs:263-311."""
    tag_name = dom.get_tag_name(node) or ""
    weight = get_class_weight(node)
    cand = candidates.get(path)
    score = cand.score if cand is not None else 0
    if _f32(weight + score) < 0:
        return True

    text_nodes_len = dom.text_children_count(node)
    content_length, _, counts = stats = _subtree_stats(node)
    img_count = counts["img"]
    embed_count = counts["embed"]
    para_count = text_nodes_len + counts["p"]

    if img_count > para_count + text_nodes_len:
        return True
    if counts["li"] - 100 > para_count and tag_name != "ul" and tag_name != "ol":
        return True
    if _f32(counts["input"]) > math.floor(_f32(_f32(para_count) / 3.0)):
        return True
    if content_length < 25 and (img_count == 0 or img_count > 2):
        return True
    if weight < 25 and get_link_density(node, stats) > _f32(0.2):
        return True
    if (embed_count == 1 and content_length < 35) or embed_count > 1:
        return True
    return False
