"""Pin the parser and the extractor to one SHA-256, byte for byte.

``test_extract_fuzz`` only checks that the extractor never crashes; this
test pins WHAT it produces.  The corpus is seeded and fixed: random
markup from the fuzz test's chunk alphabet (plus attribute-heavy start
tags that stress the tokenizer's attribute rules) and synth pages at
weights 1, 4, 16 and 64.  The digest covers ``serialize(parse_html(doc))``
and every ``extract()`` field.  A change to tree construction or
tokenizing that alters any output byte on this corpus changes the digest;
the pinned value was computed before the in-body fast path and the regex
scanner landed in ``htmldom/parser.py``, then re-pinned once when the
``<pre>``/``<listing>`` LF skip began to end at the next tag or comment
(random doc 484 keeps a newline after a ``<br>`` inside ``<pre>``), and
once more when the tokenizer began to enter rawtext/RCDATA only for an
inserted HTML element of that name (52 random docs: 36 with a
``<title>``/``<style>``/``<script>``/``<textarea>``/``<noscript>``/
``<iframe>`` inside svg or math, 16 with one ignored in a ``<select>``).
"""

import hashlib
import random

from pink_spider_spark.extract import extract
from pink_spider_spark.htmldom import parse_html, serialize
from pink_spider_spark.sources import synth
from tests.test_extract_fuzz import SNIPPETS, TAGS

PINNED = "fe8a4b62fda1d01293e359cde72333ea0aec2f841cfd5cb7ead169603fa1c3e6"

# text characters: markup delimiters, every whitespace the tokenizer
# distinguishes (\v and U+00A0/U+2003 are \s for the stdlib regexes but
# not HTML whitespace), NUL, \r, and non-ASCII
_TEXT_CHARS = ("abcdefgh XYZ 0123 \n\t\r\x0b\x0c\x00 <>&;#=\"'/!?-"
               "\xa0 \xe9日本")
_ATTR_NAMES = ["href", "HREF", "class", "id", "data-x", "src", "property",
               "content", 'a"b', "=x", "x<y"]
_ATTR_VALUES = ['"v"', "'v w'", "v", '""', '"a&amp;b"', "a&lt;b", "x/",
                '"a>b"', "&#x41;&#66", "==c", "", "'it''s'", '"&notareal;"']
_SEPS = [" ", "  ", "\n", "\t", "/", "\x0b", "\xa0", "", " / "]
_EQ = ["=", " = ", "==", "=\x0b", "=\n"]
_ENDS = [">", "/>", " />", " / >", "", " >"]


def _random_text(rng: random.Random) -> str:
    return "".join(rng.choice(_TEXT_CHARS) for _ in range(rng.randrange(41)))


def _attr_tag(rng: random.Random) -> str:
    """A start tag with 0-3 attributes in quoted, unquoted, duplicate,
    uppercase and malformed forms."""
    name = rng.choice(TAGS)
    if rng.random() < 0.2:
        name = name.upper()
    parts = ["<", name]
    for _ in range(rng.randrange(4)):
        parts.append(rng.choice(_SEPS) if rng.random() < 0.3 else " ")
        parts.append(rng.choice(_ATTR_NAMES))
        if rng.random() < 0.8:
            parts.append(rng.choice(_EQ) if rng.random() < 0.2 else "=")
            parts.append(rng.choice(_ATTR_VALUES))
    parts.append(rng.choice(_ENDS) if rng.random() < 0.3 else ">")
    return "".join(parts)


def random_markup(rng: random.Random) -> str:
    """One document of 0-30 chunks, each drawn like the fuzz test's
    ``chunk`` strategy, with attribute tags as a fifth choice."""
    out = []
    for _ in range(rng.randrange(31)):
        pick = rng.randrange(5)
        if pick == 0:
            out.append(_random_text(rng))
        elif pick == 1:
            out.append(f"<{rng.choice(TAGS)}>")
        elif pick == 2:
            out.append(f"</{rng.choice(TAGS)}>")
        elif pick == 3:
            out.append(rng.choice(SNIPPETS))
        else:
            out.append(_attr_tag(rng))
    return "".join(out)


def corpus(seed: int, n_random: int, per_weight: int):
    """(url, html) pairs: ``n_random`` random-markup docs, then
    ``per_weight`` synth pages at each of weights 1, 4, 16 and 64.  Every
    fifth random doc is fed as UTF-8 bytes."""
    rng = random.Random(f"parser-digest-{seed}")
    for k in range(n_random):
        doc = random_markup(rng)
        yield (f"https://fuzz.example.com/d{k}",
               doc.encode("utf-8") if k % 5 == 0 else doc)
    items = synth.build_catalog_items()
    pool = synth._embed_pool(items)
    for weight in (1, 4, 16, 64):
        for i in range(seed * per_weight, (seed + 1) * per_weight):
            yield (synth.page_url(i),
                   synth.page_html(i, 1000, items, pool, weight=weight))


def digest(pages) -> str:
    """SHA-256 over each page's serialized parse tree and every
    ``extract()`` field, in corpus order."""
    catalog = synth.Catalog(synth.build_catalog_items())
    h = hashlib.sha256()
    for url, html in pages:
        product = extract(html, url, catalog)
        fields = (serialize(parse_html(html)), product.content, product.text,
                  product.tracks, product.playlists, product.albums,
                  product.og_props, product.links)
        h.update(repr(fields).encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def test_parser_and_extract_digest_pinned():
    assert digest(corpus(0, 1500, 50)) == PINNED
