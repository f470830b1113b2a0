"""The flagship extraction operator: HTML -> (content, text, enclosures, og, links).

Faithful re-expression of the reference's scraper pipeline
(reference: src/scraper.rs:75-205):

1. preprocess (drop script/style + unlikely nodes, br-br -> p)
2. DFS walk with path ids: collect og props + enclosures, score candidates
3. top-candidate selection: score *= (1 - link_density), strictly-greater
   wins, BTreeMap (lexicographic path) iteration order, default = document
4. clean the chosen subtree
5. serialize -> content; trimmed-text concatenation -> text

One addition for the crawl engine (north rule): discovered links
(absolute-ized hrefs of <a>/<link>) are collected during the same walk so
the frontier-enqueue step needs no second parse.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urljoin

from . import providers, readability
from .htmldom import dom, parse_html, serialize
from .htmldom.dom import ELEMENT, Node
from .providers import Catalog, EMPTY_CATALOG, EnclosureRef
from .readability import Candidate, path_join

# the only tags extract_opengraph_metadata_from_tag,
# extract_enclosures_from_tag and the link harvest act on
_PROBE_TAGS = frozenset(["meta", "iframe", "a", "link"])


@dataclass
class ExtractProduct:
    content: str
    text: str
    tracks: list = field(default_factory=list)       # list[EnclosureRef-like dict]
    playlists: list = field(default_factory=list)
    albums: list = field(default_factory=list)
    og_props: list = field(default_factory=list)     # ordered (key, value)
    links: list = field(default_factory=list)        # absolute discovered URLs

    @property
    def og(self) -> dict:
        """Scalar og fields, last-write-wins; images append (mirrors
        opengraph::Object::new consumption at src/model/entry.rs:340-348)."""
        obj: dict = {"images": []}
        for k, v in self.og_props:
            if k == "image":
                obj["images"].append(v)
            else:
                obj[k] = v
        return obj


def extract_opengraph_metadata_from_tag(tag_name: str, attrs: list) -> list:
    """reference: src/scraper.rs:242-271 (both property= and name= checked;
    key is the substring after 'og:')."""
    props = []
    if tag_name == "meta":
        for attr_name in ("property", "name"):
            prop = dom.attr(attr_name, attrs)
            if prop is not None and prop.startswith("og:"):
                content = dom.attr("content", attrs)
                if content is not None:
                    props.append((prop[3:], content))
    return props


def extract_enclosures_from_tag(tag_name: str, attrs: list,
                                catalog: Catalog) -> list[EnclosureRef]:
    """reference: src/scraper.rs:225-240 — iframes use src|data-src,
    anchors/links use href."""
    if tag_name == "iframe":
        src = dom.attr("src", attrs)
        if src is None:
            src = dom.attr("data-src", attrs)
        if src is not None:
            return providers.extract_enclosures_from_url(src, catalog)
        return []
    if tag_name in ("a", "link"):
        href = dom.attr("href", attrs)
        if href is not None:
            return providers.extract_enclosures_from_url(href, catalog)
        return []
    return []


def _ref_to_row(ref: EnclosureRef, doc_pos: int, child_pos: int) -> dict:
    return {
        "kind": ref.kind,
        "provider": ref.provider,
        "identifier": ref.identifier,
        "owner_id": ref.owner_id,
        "state": ref.state,
        "in_catalog": ref.in_catalog,
        "doc_pos": doc_pos,
        "child_pos": child_pos,
        "nested_track_identifiers": list(ref.nested_track_identifiers),
    }


class _Walker:
    """Single-pass DFS mirroring src/scraper.rs:140-205 plus link harvest."""

    def __init__(self, url: str, catalog: Catalog):
        self.url = url
        self.catalog = catalog
        self.candidates: dict[str, Candidate] = {}
        self.tracks: list[dict] = []
        self.playlists: list[dict] = []
        self.albums: list[dict] = []
        self.og_props: list = []
        self.links: list[str] = []
        self._seen_track_keys: set = set()
        self._seen_playlist_keys: set = set()
        self._seen_album_keys: set = set()
        self._doc_pos = 0

    def _push(self, ref: EnclosureRef, doc_pos: int, child_pos: int) -> None:
        key = (ref.provider, ref.identifier)
        if ref.kind == "track":
            if key not in self._seen_track_keys:
                self._seen_track_keys.add(key)
                self.tracks.append(_ref_to_row(ref, doc_pos, child_pos))
        elif ref.kind == "playlist":
            if key not in self._seen_playlist_keys:
                self._seen_playlist_keys.add(key)
                self.playlists.append(_ref_to_row(ref, doc_pos, child_pos))
        elif ref.kind == "album":
            if key not in self._seen_album_keys:
                self._seen_album_keys.add(key)
                self.albums.append(_ref_to_row(ref, doc_pos, child_pos))

    def _probe(self, tag_name: str, attrs: list) -> None:
        """og props, enclosures and discovered links of one element."""
        self.og_props.extend(
            extract_opengraph_metadata_from_tag(tag_name, attrs))
        refs = extract_enclosures_from_tag(tag_name, attrs, self.catalog)
        if refs:
            doc_pos = self._doc_pos
            child_pos = 0
            for ref in refs:
                self._push(ref, doc_pos, child_pos)
                child_pos += 1
        # link harvest for the frontier (north-rule addition; the
        # reference's rss_crawler follows feed entries, not page links)
        if tag_name in ("a", "link"):
            href = dom.attr("href", attrs)
            if href:
                try:
                    self.links.append(urljoin(self.url, href))
                except ValueError:
                    pass

    def walk(self, path: str, node: Node, parent=None, grand=None) -> None:
        """``parent`` and ``grand`` are the ``(node, path)`` of the
        node's parent and grandparent, None above the root."""
        if node.kind == ELEMENT:
            tag_name = node.tag
            if tag_name in _PROBE_TAGS:
                self._probe(tag_name, node.attrs)
            self._doc_pos += 1
            if readability.is_candidate(node):
                score = readability.calc_content_score(node)
                if parent is not None:
                    c = self._candidate(*parent)
                    c.score = readability.add_score(c.score, score)
                if grand is not None:
                    c = self._candidate(*grand)
                    c.score = readability.add_score(c.score, score / 2)

        here = (node, path)
        for i, child in enumerate(node.children):
            # only elements probe, score or hold children
            if child.kind == ELEMENT:
                self.walk(path_join(path, i), child, here, parent)

    def _candidate(self, node: Node, path: str) -> Candidate:
        c = self.candidates.get(path)
        if c is None:
            c = self.candidates[path] = Candidate(
                node, readability.init_content_score(node))
        return c


def extract(html, url: str, catalog: Catalog = EMPTY_CATALOG) -> ExtractProduct:
    """Run the full pipeline over one page (reference: src/scraper.rs:75-134)."""
    document = parse_html(html)
    readability.preprocess(document)

    walker = _Walker(url, catalog)
    walker.walk("/", document)

    top_id = "/"
    top_node = document
    top_score = 0.0
    for path in sorted(walker.candidates):
        c = walker.candidates[path]
        score = readability._f32(
            c.score * readability._f32(
                1.0 - readability.get_link_density(c.node)))
        c.score = score
        if score <= top_score:
            continue
        top_id = path
        top_node = c.node
        top_score = score

    readability.clean(top_id, top_node, url, walker.candidates)
    content = serialize(top_node)

    parts: list = []
    dom.extract_text(top_node, parts, True)
    text = "".join(parts)

    return ExtractProduct(
        content=content,
        text=text,
        tracks=walker.tracks,
        playlists=walker.playlists,
        albums=walker.albums,
        og_props=walker.og_props,
        links=walker.links,
    )
