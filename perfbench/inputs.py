"""Seeded input generation.

Every input the engine sees is made here from ``--seed``: the corpus
recipe is ``sources.synth`` as-is (page ``i`` is always the same bytes),
and the seed picks which page indices become the crawl's seed URLs.  The
engine only ever receives the generated DataFrames and lists.
"""

from __future__ import annotations

import random
from collections.abc import Mapping
from dataclasses import dataclass

import pandas as pd

from pink_spider_spark.sources import synth

# lifted per-host budget: every eligible URL of a host fits in one wave
UNLIMITED_BUDGET = 1_000_000


@dataclass(frozen=True)
class CrawlInputs:
    """One crawl workload's input recipe (all sizes fixed, seed aside)."""

    n_pages: int
    weight: int
    n_seeds: int
    seed: int
    lifted_budgets: bool
    # corpus DataFrame partitions (one per core)
    partitions: int

    def seed_urls(self) -> list:
        return self.sample_urls(self.n_seeds, "seeds")

    def sample_urls(self, k: int, purpose: str) -> list:
        """``k`` distinct corpus URLs drawn from the seed; ``purpose``
        keeps the draws for different uses independent."""
        rng = random.Random(f"perfbench-{purpose}-{self.seed}")
        return [synth.page_url(i)
                for i in sorted(rng.sample(range(self.n_pages), k))]

    def balanced_urls(self, k: int, purpose: str) -> list:
        """Like ``sample_urls``, but the same number of URLs from each
        corpus partition: a batch filtered inside a per-partition UDF then
        costs the same on every core, whatever the seed (a plain random
        draw left one partition up to 25% over the mean, and that
        straggler set the pass time)."""
        rng = random.Random(f"perfbench-{purpose}-{self.seed}")
        n, p = self.n_pages, self.partitions
        picks = []
        for j in range(p):
            lo, hi = j * n // p, (j + 1) * n // p
            picks += rng.sample(range(lo, hi), k // p + (j < k % p))
        return [synth.page_url(i) for i in sorted(picks)]

    def robots_pdf(self) -> pd.DataFrame:
        pdf = synth.robots_rows()
        if self.lifted_budgets:
            pdf["max_per_wave"] = UNLIMITED_BUDGET
        return pdf

    def robots_map(self) -> dict:
        """The simulator's form of ``robots_pdf``."""
        return {r.host: {"disallow_prefixes": list(r.disallow_prefixes),
                         "max_per_wave": int(r.max_per_wave)}
                for r in self.robots_pdf().itertuples()}

    def pages_df(self, spark):
        """The corpus as a (url, html) DataFrame, generated on the
        executors (page bodies are a pure function of the index).
        Partition ``j`` holds indices ``[j*n/p, (j+1)*n/p)``."""
        from pyspark.sql import types as T

        n_pages, weight = self.n_pages, self.weight
        schema = T.StructType([T.StructField("url", T.StringType(), False),
                               T.StructField("html", T.BinaryType(), True)])
        return (spark.range(0, n_pages, 1, self.partitions)
                .mapInPandas(lambda it: _gen_batches(it, n_pages, weight),
                             schema=schema))

    def lazy_pages(self) -> "LazyPages":
        return LazyPages(self.n_pages, self.weight)


def _gen_batches(batches, n_pages: int, weight: int):
    items = synth.build_catalog_items()
    pool = synth._embed_pool(items)
    for pdf in batches:
        ids = [int(i) for i in pdf["id"]]
        yield pd.DataFrame({
            "url": [synth.page_url(i) for i in ids],
            "html": [synth.page_html(i, n_pages, items, pool, weight=weight)
                     .encode("utf-8") for i in ids]})


class LazyPages(Mapping):
    """url -> html for the corpus, built on first lookup.  The simulator
    only looks up the pages it fetches, so the oracle never generates the
    rest of the corpus."""

    def __init__(self, n_pages: int, weight: int):
        self.n_pages = n_pages
        self.weight = weight
        self._items = synth.build_catalog_items()
        self._pool = synth._embed_pool(self._items)

    def _index(self, url: str):
        head, sep, tail = url.rpartition("/p/")
        if not sep or not tail.isdigit():
            return None
        i = int(tail)
        if i >= self.n_pages or synth.page_url(i) != url:
            return None
        return i

    def __getitem__(self, url):
        i = self._index(url)
        if i is None:
            raise KeyError(url)
        return synth.page_html(i, self.n_pages, self._items, self._pool,
                               weight=self.weight).encode("utf-8")

    def __contains__(self, url):
        return self._index(url) is not None

    def __iter__(self):
        return (synth.page_url(i) for i in range(self.n_pages))

    def __len__(self):
        return self.n_pages
