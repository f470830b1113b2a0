"""Force re-crawl parity — the ``force=true`` playlistify path
(reference: src/main.rs:162-192 find_or_playlistify_entry +
src/model/entry.rs:295-308 crawl-once bypass).

Contract (VERDICT r2 item 3): a re-crawled URL's entry is REFRESHED
(crawled_wave advances, extraction replaced in place, no duplicate rows)
while its seen ordering (first_wave, seq) — and everyone else's — is
byte-identical to the pre-recrawl state; URLs unknown to the frontier
insert as fresh pending rows and enter the seen sequence normally.
Parity: Spark driver vs the sequential simulator's recrawl().
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pink_spider_spark import api
from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver
from pink_spider_spark.crawl.simulator import recrawl as sim_recrawl
from pink_spider_spark.crawl.simulator import simulate
from pink_spider_spark.sources.synth import (
    build_catalog_items,
    gen_pages_local,
    gen_pages_spark,
    page_url,
    robots_rows,
    seed_urls,
)
from pink_spider_spark.sources.tables import TableStore

N_PAGES = 120
MAX_DEPTH = 2
N_SEEDS = 6


@pytest.fixture(scope="module")
def corpus(spark):
    items = build_catalog_items()
    pages_df = gen_pages_spark(spark, N_PAGES, items).cache()
    pages_df.count()
    robots_pdf = robots_rows()
    robots_df = spark.createDataFrame(robots_pdf)
    pages_local = gen_pages_local(N_PAGES, items)
    pages_map = dict(zip(pages_local.url, pages_local.html))
    robots_map = {
        r["host"]: {"disallow_prefixes": list(r["disallow_prefixes"]),
                    "max_per_wave": int(r["max_per_wave"])}
        for _, r in robots_pdf.iterrows()
    }
    return items, pages_df, robots_df, pages_map, robots_map


def _snap(spark, store):
    seen = {r.url: (r.first_wave, r.seq)
            for r in store.table("seen").read(spark).collect()}
    entries = {r.url: (r.crawled_wave, r.text)
               for r in store.table("entries").read(spark).collect()}
    encl = {(r.url, r.kind, r.provider, r.identifier)
            for r in store.table("enclosures").read(spark).collect()}
    return seen, entries, encl


def test_recrawl_refreshes_entry_preserves_seen(spark, corpus):
    items, pages_df, robots_df, pages_map, robots_map = corpus
    root = tempfile.mkdtemp(prefix="recrawl_")
    try:
        store = TableStore(root)
        driver = CrawlDriver(spark, store, pages_df, robots_df, items,
                             CrawlConfig(max_depth=MAX_DEPTH, max_waves=20))
        driver.run(seed_urls(N_SEEDS))
        sim = simulate(pages_map, robots_map, items, seed_urls(N_SEEDS),
                       max_depth=MAX_DEPTH, max_waves=20)
        seen0, entries0, encl0 = _snap(spark, store)
        final_wave = int(store.read_checkpoint()["wave"])

        # pick two crawled URLs + one URL unknown to the frontier
        fetched = sorted(u for u in entries0)[:2]
        uncrawled = sorted(set(pages_map) - set(seen0))
        fresh = uncrawled[0] if uncrawled \
            else "http://h0.example.org/never/linked"
        targets = fetched + [fresh]

        r = driver.recrawl(targets)
        assert r["recrawl"] == 2 and r["inserted"] == 1
        stats = driver.run(resume=True)
        assert stats[0].get("recrawled") == 2
        assert all({"dequeue", "entries_write", "table_writes", "checkpoint"}
                   <= set(s["stage_secs"]) for s in stats if not s["done"])
        sim_recrawl(sim, pages_map, robots_map, items, targets,
                    max_depth=MAX_DEPTH, max_waves=20)

        seen1, entries1, encl1 = _snap(spark, store)

        # 1. recrawled URLs: seen ordering untouched, entry refreshed
        for u in fetched:
            assert seen1[u] == seen0[u]
            w1, text1 = entries1[u]
            assert w1 > final_wave            # crawled_wave advanced
            assert text1 == entries0[u][1]    # static corpus: same bytes
        # 2. exactly ONE entries row per url (merge, not duplicate append)
        n_rows = (store.table("entries").read(spark)
                  .groupBy("url").count().filter("count > 1").count())
        assert n_rows == 0
        # 3. everyone else's seen rows byte-identical; the fresh URL (and
        #    anything it linked to) appended with contiguous seqs
        for u, v in seen0.items():
            assert seen1[u] == v
        new_urls = set(seen1) - set(seen0)
        assert fresh in new_urls
        assert sorted(s for _, s in seen1.values()) == list(
            range(1, len(seen1) + 1))
        # 4. full parity with the simulator's recrawl trace
        assert seen1 == {u: (w, s) for u, w, s in sim.seen}
        assert {u: t for u, (w, t) in entries1.items()} == {
            u: e["text"] for u, e in sim.entries.items()}
        assert encl1 == {(u, k, p, i) for u, k, p, i in sim.enclosures}
        # 5. recrawl counter self-cleared
        assert int(store.read_checkpoint()["counters"].get("recrawl", 0)) == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_playlistify_force_api(spark, corpus):
    items, pages_df, robots_df, pages_map, robots_map = corpus
    root = tempfile.mkdtemp(prefix="recrawl_api_")
    try:
        store = TableStore(root)
        driver = CrawlDriver(spark, store, pages_df, robots_df, items,
                             CrawlConfig(max_depth=MAX_DEPTH, max_waves=20))
        driver.run(seed_urls(N_SEEDS))
        url = sorted(
            r.url for r in store.table("entries").read(spark)
            .select("url").collect())[0]
        wave0 = int(store.read_checkpoint()["wave"])

        # cache hit without force: no new wave runs
        hit = api.playlistify(driver, url, force=False)
        assert hit.count() == 1
        assert int(store.read_checkpoint()["wave"]) == wave0

        # force: entry refreshed in place
        refreshed = api.playlistify(driver, url, force=True)
        row = refreshed.collect()[0]
        assert row.crawled_wave > wave0
        assert int(store.read_checkpoint()["wave"]) == wave0 + 1
    finally:
        shutil.rmtree(root, ignore_errors=True)
