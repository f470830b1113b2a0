"""Per-layer probes of the traced run.

Every number here is taken from outside the engine: the benchmark times
its own calls into each module's public functions (and, for the
extractor, wraps the functions ``extract.extract`` calls) on the state the
measured crawl left behind.  Nothing in the engine is changed."""

from __future__ import annotations

import statistics
import time

import numpy as np

from pyspark.sql import functions as F

import pink_spider_spark.extract as extract_mod
from pink_spider_spark import api, readability
from pink_spider_spark.crawl import bloom, scheduler
from pink_spider_spark.functions.udfs import (canonicalize_url, extract_pages,
                                              with_url_hash)
from pink_spider_spark.htmldom import dom
from pink_spider_spark.providers import Catalog
from pink_spider_spark.sources import schemas

from .oracle import text_hash

SAMPLE_PAGES = 24        # in-process extract layer timing
UDF_PAGES = 256          # udfs.extract_pages throughput
API_REPEATS = 5          # requests per API operation

# (metric name, module object, attribute) of each function extract()
# calls; "walk" is the residual of extract() minus these
EXTRACT_LAYERS = (
    ("htmldom.parse_us_per_doc", extract_mod, "parse_html"),
    ("readability.preprocess_us_per_doc", readability, "preprocess"),
    ("readability.clean_us_per_doc", readability, "clean"),
    ("htmldom.serialize_us_per_doc", extract_mod, "serialize"),
    ("dom.extract_text_us_per_doc", dom, "extract_text"),
)

API_OPS = ("index", "total_count", "playlistify_lookup", "mget",
           "show_by_provider_and_identifier", "entry_with_enclosures")


class _Timed:
    """Replace ``mod.attr`` by a wrapper that sums the wall time of its
    outermost calls (the wrapped functions recurse through their module
    globals, so nested calls must not count twice)."""

    def __init__(self, mod, attr):
        self.mod, self.attr = mod, attr
        self.orig = getattr(mod, attr)
        self.total = 0.0
        self.depth = 0

    def __enter__(self):
        orig = self.orig

        def wrapper(*args, **kwargs):
            if self.depth:
                return orig(*args, **kwargs)
            self.depth += 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.total += time.perf_counter() - t0
                self.depth -= 1

        setattr(self.mod, self.attr, wrapper)
        return self

    def __exit__(self, *exc):
        setattr(self.mod, self.attr, self.orig)


def extract_layers(sample: list, items: dict) -> dict:
    """Single-core extract split over ``sample`` [(url, html)].  The
    sample is extracted once untimed (warm caches), then timed twice:
    plain for docs/s, then under the layer wrappers."""
    catalog = Catalog(items)
    for url, html in sample:
        extract_mod.extract(html, url, catalog)
    t0 = time.perf_counter()
    for url, html in sample:
        extract_mod.extract(html, url, catalog)
    plain = time.perf_counter() - t0
    timers = [_Timed(mod, attr) for _, mod, attr in EXTRACT_LAYERS]
    for t in timers:
        t.__enter__()
    try:
        t0 = time.perf_counter()
        for url, html in sample:
            extract_mod.extract(html, url, catalog)
        wrapped = time.perf_counter() - t0
    finally:
        for t in reversed(timers):
            t.__exit__()
    n = len(sample)
    out = {name: 1e6 * t.total / n
           for (name, _, _), t in zip(EXTRACT_LAYERS, timers)}
    out["extract.walk_us_per_doc"] = 1e6 * (
        wrapped - sum(t.total for t in timers)) / n
    out["extract.docs_per_s_1core"] = n / plain
    out["extract.html_bytes_per_doc"] = sum(len(h) for _, h in sample) / n
    return out


def udf_layer(ctx, pages, items, urls: list) -> dict:
    """``extract_pages`` throughput over the ``urls`` rows of ``pages``
    (partitioned as the corpus is)."""
    sample = pages.filter(F.col("url").isin(urls)).cache()
    n = sample.count()
    with ctx.span("udfs.extract_pages") as sp:
        extract_pages(sample, items).write.mode("overwrite") \
            .format("noop").save()
    sample.unpersist()
    return {"udfs.extract_pages_docs_per_s": n / sp.seconds}


def frontier_layers(ctx, store, robots, config, n_seeds: int) -> dict:
    """Wave 1's and wave 2's seen-filter steps and wave 2's dequeue,
    replayed on the committed tables with the functions the driver picks
    for ``config``: the sharded filter when the bootstrap frontier
    estimate reaches ``config.bloom_shard_min``, else the broadcast one.
    The build covers the bootstrap frontier and the prune takes every
    link wave 1 discovered (wave 1's enqueue); the update ORs in the rows
    wave 1 enqueued (wave 2's refresh); the dequeue is the budgeted batch
    of the eligible rows pending after wave 1.  The shard table is
    checkpointed eagerly so that its build is timed apart from the prune
    (the driver's lazy checkpoint runs it inside the prune job)."""
    spark = ctx.spark
    frontier = store.table("frontier")
    seeds = frontier.read(spark, schema=schemas.FRONTIER_SCHEMA, snapshot=1)
    after_wave1 = frontier.read(spark, schema=schemas.FRONTIER_SCHEMA,
                                snapshot=2)
    # the driver's sizing: 4x the frontier estimate, at least 100 000
    capacity = max(4 * max(1000, n_seeds), 100_000)
    n_shards = config.bloom_n_shards
    links = (store.table("entries").read(spark, schema=schemas.ENTRY_SCHEMA)
             .filter(F.col("crawled_wave") == 1)
             .select(F.explode("links").alias("raw"))
             .select(canonicalize_url(F.col("raw")).alias("url"))
             .filter(F.col("url").startswith("http")).distinct())
    candidates = with_url_hash(links).cache()
    n_cand = candidates.count()
    hashes = candidates.select("url_hash").toPandas()["url_hash"].to_numpy(
        dtype=np.int64)
    delta = after_wave1.filter(F.col("discovered_wave") > 0).select(
        "url_hash")
    if n_seeds >= config.bloom_shard_min:
        with ctx.span("bloom.build") as sp_build:
            shards = bloom.cover_all_shards(
                bloom.build_bloom_shards(seeds, "url_hash", capacity,
                                         n_shards=n_shards,
                                         fpp=config.bloom_fpp),
                n_shards).localCheckpoint(eager=True)
        with ctx.span("bloom.prune") as sp_prune:
            bloom.prune_with_bloom_shards(
                candidates, seeds.select("url"), shards,
                n_shards=n_shards).count()
        n_susp = int(_shard_probe(shards.collect(), n_shards)(hashes).sum())
        with ctx.span("bloom.update") as sp_update:
            bloom.update_bloom_shards(shards, delta, "url_hash",
                                      n_shards).localCheckpoint(eager=True)
    else:
        with ctx.span("bloom.build") as sp_build:
            bf = bloom.build_bloom(seeds, "url_hash", capacity,
                                   config.bloom_fpp)
        flagged: list = []
        with ctx.span("bloom.prune") as sp_prune:
            bloom.prune_with_bloom(candidates, seeds.select("url"), bf,
                                   cache_registry=flagged).count()
        for df in flagged:
            df.unpersist()
        n_susp = int(bf.contains_many(hashes).sum())
        with ctx.span("bloom.update") as sp_update:
            bf.add_many(delta.toPandas()["url_hash"].to_numpy(dtype=np.int64))
    candidates.unpersist()
    pending = after_wave1.filter(F.col("status").isin("pending", "recrawl"))
    with ctx.span("scheduler.dequeue") as sp_deq:
        eligible = scheduler.with_robots(pending, robots).filter(
            ~F.col("excluded"))
        rows = scheduler.per_host_budget_batch(eligible).count()
    return {"bloom.build_s": sp_build.seconds,
            "bloom.prune_s": sp_prune.seconds,
            "bloom.update_s": sp_update.seconds,
            "bloom.candidates": n_cand,
            "bloom.suspects": n_susp,
            "bloom.suspect_frac": n_susp / max(n_cand, 1),
            "scheduler.dequeue_s": sp_deq.seconds,
            "scheduler.batch_rows": rows}


def _shard_probe(rows: list, n_shards: int):
    """A membership test over collected shard-table rows, routing each
    hash to its shard as ``pmod(hash, n_shards)`` does."""
    filters = {r.shard: bloom.BloomFilter(
        r.m_bits, r.k, np.frombuffer(r.bitmap, dtype=np.uint64))
        for r in rows}

    def maybe_seen(hashes):
        out = np.zeros(len(hashes), dtype=bool)
        shard = hashes % n_shards
        for sid, bf in filters.items():
            mask = shard == sid
            out[mask] = bf.contains_many(hashes[mask])
        return out

    return maybe_seen


def crawl_record_layers(rec) -> dict:
    """Wave-stage seconds (checkpoint ``counters.stage_secs``) and store
    growth, as medians over the measured crawl's waves."""
    out = {}
    for stage in ("dequeue", "entries_write", "table_writes", "checkpoint"):
        out[f"driver.{stage}_s"] = statistics.median(
            s.get(stage, 0.0) for s in rec.stage_secs)
    prev = (0, 0)
    deltas = []
    for cur in rec.written:
        deltas.append((cur[0] - prev[0], cur[1] - prev[1]))
        prev = cur
    out["tables.bytes_written"] = statistics.median(d[0] for d in deltas)
    out["tables.files_written"] = statistics.median(d[1] for d in deltas)
    out["tables.snapshot_dirs"] = sum(
        len(rec.store.table(t).snapshot_dirs())
        for t in ("frontier", "seen", "entries", "enclosures", "metrics",
                  "tracks", "playlists", "albums", "playlist_tracks"))
    return out


def api_layers(ctx, store, expected: dict, waves: int, rng) -> tuple:
    """Time each API operation ``API_REPEATS`` times over the committed
    tables and check every answer against the oracle's entries.  Returns
    (metrics, attempted, failed)."""
    spark = ctx.spark
    entries = store.table("entries").read(spark, schema=schemas.ENTRY_SCHEMA)
    enclosures = store.table("enclosures").read(
        spark, schema=schemas.ENCLOSURE_SCHEMA)
    dims = {t: store.table(t).read(spark, schema=schemas.ENCLOSURE_DIM_SCHEMA)
            for t in ("tracks", "playlists", "albums")}
    exp = {u: (w, h) for u, (w, h) in expected.items() if w <= waves}
    urls = sorted(exp)
    order = sorted(urls, key=lambda u: (-exp[u][0], u))
    n_pages = (len(order) + api.DEFAULT_PER_PAGE - 1) // api.DEFAULT_PER_PAGE
    track_keys = sorted((r.provider, r.identifier)
                        for r in dims["tracks"].select(
                            "provider", "identifier").collect())

    def op_index():
        page = rng.randrange(n_pages)
        got = [r.url for r in api.index(
            entries, page=page, order_col="crawled_wave").collect()]
        lo = page * api.DEFAULT_PER_PAGE
        return got == order[lo: lo + api.DEFAULT_PER_PAGE]

    def op_total_count():
        return api.total_count(entries) == len(urls)

    def op_playlistify_lookup():
        u = rng.choice(urls)
        rows = api.playlistify_lookup(entries, u).collect()
        return len(rows) == 1 and text_hash(rows[0].text) == exp[u][1]

    def op_mget():
        keys = rng.sample(urls, min(10, len(urls)))
        rows = api.mget(entries, [(u,) for u in keys]).collect()
        got = {r.url for r in rows}
        return got == set(keys)

    def op_show_by_provider_and_identifier():
        if not track_keys:
            return True
        p, i = rng.choice(track_keys)
        rows = api.show_by_provider_and_identifier(
            dims["tracks"], p, i).collect()
        return [(r.provider, r.identifier) for r in rows] == [(p, i)]

    def op_entry_with_enclosures():
        u = rng.choice(urls)
        rows = api.entry_with_enclosures(
            entries.filter(F.col("url") == u), enclosures, dims).collect()
        return len(rows) == 1 and rows[0].url == u

    ops = {"index": op_index, "total_count": op_total_count,
           "playlistify_lookup": op_playlistify_lookup, "mget": op_mget,
           "show_by_provider_and_identifier":
               op_show_by_provider_and_identifier,
           "entry_with_enclosures": op_entry_with_enclosures}
    out = {}
    attempted = failed = 0
    for name in API_OPS:
        times = []
        for _ in range(API_REPEATS):
            with ctx.span(f"api.{name}") as sp:
                ok = ops[name]()
            times.append(sp.seconds * 1e3)
            attempted += 1
            failed += not ok
        out[f"api.{name}_ms_p50"] = statistics.median(times)
    return out, attempted, failed
