"""The readability scorer's Python-int arithmetic equals the reference's f32.

The oracle below is a numpy-float32 copy of the scorer as the reference
writes it (src/readability.rs, src/dom.rs): every operation rounded to
f32, link lengths gathered by a ``find_node`` scan plus one ``text_len``
per link.  The engine keeps scores as ints and halves and rounds only
where a value can leave the exact f32 range; these tests pin that the
two agree, including past 2^23 and 2^24.
"""

import re

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pink_spider_spark import readability
from pink_spider_spark.extract import _Walker
from pink_spider_spark.htmldom import dom, parse_html
from pink_spider_spark.htmldom.dom import ELEMENT, TEXT, Node
from pink_spider_spark.providers import EMPTY_CATALOG
from pink_spider_spark.readability import path_join
from tests.test_extract_fuzz import chunk

f32 = np.float32
REFERENCE_PUNCTUATIONS = re.compile(readability.PUNCTUATIONS_REGEX)


# ------------------------------------------------------------- oracle
def o_text_len(node):
    n = 0
    for child in node.children:
        if child.kind == TEXT:
            n += len(child.text.strip())
        elif child.kind == ELEMENT:
            n += o_text_len(child)
    return n


def o_find_node(node, tag_name, out):
    for child in node.children:
        if child.kind == ELEMENT:
            if child.tag == tag_name:
                out.append(child)
            o_find_node(child, tag_name, out)


def o_link_density(node):
    text_length = f32(o_text_len(node))
    if text_length == f32(0.0):
        return f32(0.0)
    links = []
    o_find_node(node, "a", links)
    link_length = f32(0.0)
    for link in links:
        link_length = f32(link_length + f32(o_text_len(link)))
    return f32(link_length / text_length)


def o_class_weight(node):
    weight = f32(0.0)
    if node.kind == ELEMENT:
        for name in ("id", "class"):
            val = dom.attr(name, node.attrs)
            if val is not None:
                if readability.POSITIVE.search(val):
                    weight = f32(weight + f32(25.0))
                if readability.NEGATIVE.search(val):
                    weight = f32(weight - f32(25.0))
    return weight


def o_init_score(node):
    score = {"article": 10.0, "div": 5.0, "blockquote": 3.0, "form": -3.0,
             "th": 5.0}.get(dom.get_tag_name(node) or "", 0.0)
    return f32(f32(score) + o_class_weight(node))


def o_content_score_of(punct, length):
    score = f32(1.0)
    score = f32(score + f32(punct))
    return f32(score + min(f32(np.floor(f32(length) / f32(100.0))), f32(3.0)))


def o_calc_content_score(node):
    parts = []
    dom.extract_text(node, parts, True)
    text = "".join(parts)
    return o_content_score_of(len(REFERENCE_PUNCTUATIONS.findall(text)),
                              len(text))


def o_candidates(document):
    """path -> [node, f32 score] of the reference's walk."""
    nodes, cands = {}, {}

    def parent_of(path):
        if path == "/":
            return None
        head = path.rpartition("/")[0]
        return head if head else "/"

    def bump(path, delta):
        if path is None:
            return
        if path not in cands:
            cands[path] = [nodes[path], o_init_score(nodes[path])]
        cands[path][1] = f32(cands[path][1] + delta)

    def walk(path, node):
        nodes[path] = node
        if readability.is_candidate(node):
            score = o_calc_content_score(node)
            pid = parent_of(path)
            bump(pid, score)
            if pid is not None:
                bump(parent_of(pid), f32(score / f32(2.0)))
        for i, child in enumerate(node.children):
            walk(path_join(path, i), child)

    walk("/", document)
    return cands


def o_is_useless(path, node, cands):
    tag_name = dom.get_tag_name(node) or ""
    weight = o_class_weight(node)
    score = cands[path][1] if path in cands else f32(0.0)
    if f32(weight + score) < f32(0.0):
        return True
    text_nodes_len = dom.text_children_count(node)
    found = {}
    for tag in ("p", "img", "li", "input", "embed"):
        found[tag] = []
        o_find_node(node, tag, found[tag])
    img_count = len(found["img"])
    embed_count = len(found["embed"])
    content_length = o_text_len(node)
    para_count = text_nodes_len + len(found["p"])
    if img_count > para_count + text_nodes_len:
        return True
    if len(found["li"]) - 100 > para_count and tag_name not in ("ul", "ol"):
        return True
    if f32(len(found["input"])) > f32(np.floor(f32(para_count) / f32(3.0))):
        return True
    if content_length < 25 and (img_count == 0 or img_count > 2):
        return True
    if weight < f32(25.0) and o_link_density(node) > f32(0.2):
        return True
    return (embed_count == 1 and content_length < 35) or embed_count > 1


def elements_with_paths(node, path="/"):
    if node.kind == ELEMENT:
        yield path, node
    for i, child in enumerate(node.children):
        yield from elements_with_paths(child, path_join(path, i))


# --------------------------------------------------------- punctuation
PUNCT_ALPHABET = list("、。，．！？.,!?aZ09 \n-")


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.text(), st.text(alphabet=PUNCT_ALPHABET)))
@example(".!")
@example(",,")
@example("..")
@example("...,.,!?,1.a.")
@example("あ、い。う，え．お！か？")
def test_punctuation_count_matches_reference_pattern(text):
    assert len(readability.PUNCTUATIONS.findall(text)) == \
        len(REFERENCE_PUNCTUATIONS.findall(text))


# ------------------------------------------------------- random pages
prose = st.builds(lambda s: f"<p>{s}</p>",
                  st.text(alphabet=PUNCT_ALPHABET + list("bcdefgh"),
                           max_size=400))
# nested <a> survive inside table cells: link text counted per ancestor
nested = st.just('<a href="/o">outer<table><tr><td><a href="/i">inner '
                 'link text</a></td></tr></table></a>')
page = st.lists(st.one_of(chunk, prose, nested), max_size=40)


@settings(max_examples=150, deadline=None)
@given(page)
def test_subtree_stats_match_reference_scans(parts):
    document = parse_html("".join(parts))
    readability.preprocess(document)
    for _, node in elements_with_paths(document):
        text_len, links, counts = readability._subtree_stats(node)
        assert text_len == o_text_len(node)
        found = []
        o_find_node(node, "a", found)
        assert links == [o_text_len(a) for a in found]
        for tag, n in counts.items():
            found = []
            o_find_node(node, tag, found)
            assert n == len(found)
        assert readability.get_link_density(node) == o_link_density(node)


@settings(max_examples=150, deadline=None)
@given(page)
def test_walk_scores_and_usefulness_match_reference(parts):
    document = parse_html("".join(parts))
    readability.preprocess(document)
    walker = _Walker("https://example.com/", EMPTY_CATALOG)
    walker.walk("/", document)
    oracle = o_candidates(document)
    assert sorted(walker.candidates) == sorted(oracle)
    for path, c in walker.candidates.items():
        node, score = oracle[path]
        assert c.node is node
        assert c.score == score
        ld = readability.get_link_density(node)
        assert ld == o_link_density(node)
        selected = readability._f32(c.score * readability._f32(1.0 - ld))
        assert selected == f32(score * f32(f32(1.0) - o_link_density(node)))
    for path, node in elements_with_paths(document):
        assert readability.is_useless(path, node, walker.candidates) == \
            o_is_useless(path, node, oracle)


# ------------------------------------------------- beyond 2^23 and 2^24
score_steps = st.lists(
    st.tuples(st.integers(1, 1 << 21), st.booleans()), max_size=60)


@settings(max_examples=300, deadline=None)
@given(st.sampled_from([-53, 0, (1 << 23) - 300, (1 << 24) - 300,
                        (1 << 25) - 4]),
       score_steps)
@example((1 << 23) - 1, [(1, True), (3, True), (1, False), (3, True)])
@example((1 << 24) - 1, [(1, False), (1, False), (3, True), (5, False)])
def test_score_accumulation_matches_per_step_f32(start, steps):
    total, ref = start, f32(start)
    for score, halve in steps:
        if halve:
            total = readability.add_score(total, score / 2)
            ref = f32(ref + f32(f32(score) / f32(2.0)))
        else:
            total = readability.add_score(total, score)
            ref = f32(ref + f32(score))
        assert total == ref


def test_accumulation_really_rounds_past_the_exact_range():
    # 2^23 + 1/2 and 2^24 + 1 are not f32 values: plain sums would differ
    assert readability.add_score(1 << 23, 0.5) == f32((1 << 23) + 0.5)
    assert readability.add_score(1 << 24, 1) == 1 << 24


class _ManyMatches:
    """Stands in for the punctuation pattern: ``n`` matches, no memory."""

    def __init__(self, n):
        self.n = n

    def findall(self, text):
        return range(self.n)


@pytest.mark.parametrize("punct", [(1 << 24) - 4, (1 << 24) - 3, 1 << 24,
                                   (1 << 24) + 1, (1 << 24) + 3,
                                   (1 << 25) + 1, 3 * (1 << 24) + 7])
@pytest.mark.parametrize("length", [0, 150, 350])
def test_huge_content_score_matches_f32(monkeypatch, punct, length):
    p = Node(ELEMENT, "p")
    p.append(Node(TEXT, text="x" * length))
    monkeypatch.setattr(readability, "PUNCTUATIONS", _ManyMatches(punct))
    assert readability.calc_content_score(p) == o_content_score_of(punct, length)


def _chain(tags, text):
    """``tags[0] > tags[1] > ... > text`` built directly (the parser nests
    <a> only across a table cell, <object> or <marquee>)."""
    root = node = Node(ELEMENT, tags[0])
    for tag in tags[1:]:
        child = Node(ELEMENT, tag)
        node.append(child)
        node = child
    node.append(Node(TEXT, text=text))
    return root


def test_link_sum_past_2_24_from_long_links():
    # one link of 2^24 chars and two of 1: the per-link f32 sum sticks at
    # 2^24 while the exact sum is 2^24 + 2
    div = Node(ELEMENT, "div")
    for n in (1 << 24, 1, 1):
        div.append(_chain(["a"], "x" * n))
    assert readability.get_link_density(div) == o_link_density(div)
    assert readability.get_link_density(div) < 1.0


def test_link_sum_past_2_24_from_nested_links():
    # text_len is 2^23 - 1, under 2^24, but three nested <a> count it three
    # times: the guard must look at the link sum, not at text_len
    div = Node(ELEMENT, "div")
    div.append(_chain(["a", "a", "a"], "x" * ((1 << 23) - 1)))
    assert readability.get_link_density(div) == o_link_density(div)
    assert readability.get_link_density(div) != 3.0
