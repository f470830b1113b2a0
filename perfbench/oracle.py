"""Reference results the benchmark checks the engine's outputs against.

Both oracles run the engine's plain-Python reference path outside Spark:
``crawl.simulator.simulate`` for a crawl, ``extract.extract`` for an
extraction batch.  They run in a spawned process, so they overlap the
Spark session's start instead of adding to it; only hashes come back.
"""

from __future__ import annotations

import hashlib
import multiprocessing
from concurrent.futures import ProcessPoolExecutor

from pink_spider_spark.crawl.simulator import simulate
from pink_spider_spark.extract import extract
from pink_spider_spark.providers import Catalog
from pink_spider_spark.sources import synth

from .inputs import CrawlInputs


def text_hash(text) -> str | None:
    if text is None:
        return None
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def crawl_oracle(inputs: CrawlInputs, max_depth: int, max_waves: int) -> dict:
    """Seen order [(url, wave, seq)] and {url: (wave, text hash)}."""
    sim = simulate(inputs.lazy_pages(), inputs.robots_map(),
                   synth.build_catalog_items(), inputs.seed_urls(),
                   max_depth=max_depth, max_waves=max_waves)
    return {"seen": [tuple(s) for s in sim.seen],
            "text": {u: (e["crawled_wave"], text_hash(e["text"]))
                     for u, e in sim.entries.items()}}


def extract_oracle(inputs: CrawlInputs, urls: list) -> dict:
    """{url: (text hash, content hash, #links, #enclosures)}."""
    pages = inputs.lazy_pages()
    catalog = Catalog(synth.build_catalog_items())
    out = {}
    for u in urls:
        p = extract(pages[u], u, catalog)
        out[u] = (text_hash(p.text), text_hash(p.content), len(p.links),
                  len(p.tracks) + len(p.playlists) + len(p.albums))
    return out


def start(call: tuple):
    """Run ``call`` = (fn, *args) in a spawned process; returns (future,
    executor).  The caller reads the future and shuts the executor down."""
    pool = ProcessPoolExecutor(
        max_workers=1, mp_context=multiprocessing.get_context("spawn"))
    return pool.submit(*call), pool
