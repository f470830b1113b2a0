"""The benchmark's workloads: one extract-bound, one frontier-bound.

- ``extract_heavy``: the crawl's per-URL work alone.  One wave-sized
  batch of heavy pages (synth weight 64, ~42 KB each) goes through
  ``udfs.extract_pages`` exactly as a wave's fetch+extract stage runs it
  (the batch URL set filters the pages scan inside the UDF).  Time goes
  to ``extract``/``htmldom``/``readability``; no wave machinery runs.
- ``crawl_frontier``: a crawl of light pages (weight 1) from many seeds,
  depth 3, default robots budgets, with the at-scale paths forced
  (sharded seen filter, distributed wave order, no driver URL list).
  Extraction is cheap; a wave's time is dequeue over a large pending
  frontier, the seen filter, enqueue and the per-wave commit.

An extractor speed-up should move ``urls_per_s`` on ``extract_heavy``
and barely on ``crawl_frontier``; a per-wave fixed-cost cut should move
``batch_s_p50`` on ``crawl_frontier`` and not at all on
``extract_heavy``.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver
from pink_spider_spark.functions.udfs import extract_pages
from pink_spider_spark.sources import schemas, synth
from pink_spider_spark.sources.tables import TableStore

from . import oracle
from .inputs import CrawlInputs


@dataclass(frozen=True)
class CrawlWorkload:
    name: str
    n_pages: int
    weight: int
    n_seeds: int
    max_depth: int
    lifted_budgets: bool
    config: dict
    # the crawl stops after this many waves; the oracle simulates as many
    max_waves: int
    # leading waves that only warm the session up: run and checked, not
    # timed
    warm_waves: int

    def inputs(self, seed: int, partitions: int) -> CrawlInputs:
        return CrawlInputs(self.n_pages, self.weight, self.n_seeds, seed,
                           self.lifted_budgets, partitions)

    def crawl_config(self) -> CrawlConfig:
        return CrawlConfig(max_depth=self.max_depth,
                           max_waves=self.max_waves, **self.config)


@dataclass(frozen=True)
class ExtractWorkload:
    name: str
    n_pages: int
    weight: int
    batch: int
    # the traced run's crawl over the same corpus: the state the
    # frontier, table and API probes need
    layer_crawl: CrawlWorkload

    def inputs(self, seed: int, partitions: int) -> CrawlInputs:
        return CrawlInputs(self.n_pages, self.weight, self.batch, seed, True,
                           partitions)


WORKLOADS = {w.name: w for w in (
    ExtractWorkload(
        "extract_heavy", n_pages=900, weight=64, batch=360,
        layer_crawl=CrawlWorkload(
            "extract_heavy.layer_crawl", n_pages=900, weight=64, n_seeds=40,
            max_depth=1, lifted_budgets=True, config={}, max_waves=1,
            warm_waves=0)),
    CrawlWorkload(
        "crawl_frontier", n_pages=8_000, weight=1, n_seeds=2_000,
        max_depth=3, lifted_budgets=False,
        config={"bloom_shard_min": 0, "wave_order_threshold": 0,
                "url_collect_max": 0},
        max_waves=3, warm_waves=1),
)}


def dir_usage(root: str) -> tuple:
    """(bytes, files) under ``root``."""
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


class _Run:
    """Shared set-up of both workload kinds: the seeded corpus, loaded as
    a cached DataFrame, and an oracle computed in a spawned process."""

    def __init__(self, ctx, wl, inputs: CrawlInputs):
        self.ctx = ctx
        self.wl = wl
        self.inputs = inputs
        self.items = synth.build_catalog_items()
        self.pages = None
        self.robots = None
        self._oracle = None
        self.oracle_result = None

    def start_oracle(self) -> None:
        self._oracle = oracle.start(self.oracle_call())

    def wait_oracle(self) -> None:
        fut, pool = self._oracle
        try:
            self.oracle_result = fut.result()
        finally:
            pool.shutdown(wait=True)

    def prepare(self) -> None:
        """Load the workload's inputs into the session (timed, repeated)."""
        if self.pages is not None:
            self.pages.unpersist(blocking=True)
            self.robots.unpersist(blocking=True)
        spark = self.ctx.spark
        self.pages = self.inputs.pages_df(spark).cache()
        self.pages.count()
        self.robots = spark.createDataFrame(self.inputs.robots_pdf()).cache()
        self.robots.count()


# ------------------------------------------------------------------ crawl
@dataclass
class CrawlRecord:
    """One crawl: its store and per-wave timings."""

    store: TableStore
    wave_s: list = field(default_factory=list)     # every non-empty wave
    wave_urls: list = field(default_factory=list)  # URLs dequeued per wave
    stage_secs: list = field(default_factory=list)
    written: list = field(default_factory=list)    # (bytes, files) per wave

    @property
    def waves(self) -> int:
        return len(self.wave_s)


class CrawlRun(_Run):
    """One crawl: leading warm-up waves, then a fixed number of timed
    waves, checked against the simulator."""

    SPANS = ("crawl.bootstrap", "crawl.run_wave")

    def __init__(self, ctx, wl: CrawlWorkload):
        super().__init__(ctx, wl, wl.inputs(ctx.seed, ctx.cpus))
        self.rec = None

    def oracle_call(self):
        return (oracle.crawl_oracle, self.inputs, self.wl.max_depth,
                self.wl.max_waves)

    def warm_up(self) -> None:
        """Warm-up happens inside the crawl (its first waves)."""

    def measure(self, seconds: float) -> None:
        """Run the crawl to ``max_waves``.  A wave cannot be cut short and
        one takes longer than a run's ``seconds``, so a crawl times a
        fixed number of waves and ignores ``seconds``."""
        ctx, wl = self.ctx, self.wl
        rec = self.rec = CrawlRecord(TableStore(ctx.new_dir(wl.name)))
        driver = CrawlDriver(ctx.spark, rec.store, self.pages, self.robots,
                             self.items, wl.crawl_config())
        with ctx.span("crawl.bootstrap"):
            driver.bootstrap(self.inputs.seed_urls())
        while rec.waves < wl.max_waves:
            with ctx.span("crawl.run_wave") as sp:
                stats = driver.run_wave()
            if stats.get("done"):
                break
            rec.wave_s.append(sp.seconds)
            rec.wave_urls.append(int(stats["batch"]))
            if ctx.trace:
                ckpt = rec.store.read_checkpoint()
                rec.stage_secs.append(ckpt["counters"].get("stage_secs", {}))
                rec.written.append(dir_usage(rec.store.root))

    def batch_seconds(self) -> list:
        return self.rec.wave_s

    def metrics(self) -> dict:
        timed = self.rec.wave_s[self.wl.warm_waves:]
        urls = sum(self.rec.wave_urls[self.wl.warm_waves:])
        return {"urls_per_s": (urls / sum(timed), "1/s"),
                "batch_s_p50": (statistics.median(timed), "s")}

    def check(self) -> tuple:
        """(attempted, failed): every crawled URL's seen position and
        entry text compared with the simulator's."""
        rec, spark = self.rec, self.ctx.spark
        exp_seen = {u: (w, s) for u, w, s in self.oracle_result["seen"]
                    if w <= rec.waves}
        exp_text = {u: h for u, (w, h) in self.oracle_result["text"].items()
                    if w <= rec.waves}
        got_seen = {r.url: (r.first_wave, r.seq) for r in
                    rec.store.table("seen").read(
                        spark, schema=schemas.SEEN_SCHEMA).collect()}
        got_text = {r.url: r.h for r in
                    rec.store.table("entries").read(
                        spark, schema=schemas.ENTRY_SCHEMA)
                    .select("url", F.sha2("text", 256).alias("h"))
                    .collect()}
        urls = set(exp_seen) | set(got_seen)
        failed = sum(1 for u in urls
                     if exp_seen.get(u) != got_seen.get(u)
                     or exp_text.get(u) != got_text.get(u))
        if sum(rec.wave_urls) != len(exp_seen):
            failed += 1
        return len(urls), failed


# ---------------------------------------------------------------- extract
class ExtractRun(_Run):
    """Repeated extraction passes over one wave-sized batch, each checked
    against ``extract.extract`` run outside Spark."""

    SPANS = ("extract.pass",)

    def __init__(self, ctx, wl: ExtractWorkload):
        super().__init__(ctx, wl, wl.inputs(ctx.seed, ctx.cpus))
        self.batch_urls = self.inputs.balanced_urls(wl.batch, "batch")
        self.pass_s: list = []
        self.outputs: list = []

    def oracle_call(self):
        return (oracle.extract_oracle, self.inputs, self.batch_urls)

    def _pass(self) -> list:
        out = extract_pages(self.pages, self.items, url_filter=self.batch_urls)
        return out.select(
            "url", F.sha2("text", 256).alias("text"),
            F.sha2("content", 256).alias("content"),
            F.size("links").alias("links"),
            F.size("enclosures").alias("enclosures")).collect()

    def warm_up(self) -> None:
        # pass times still fall through the second pass of a session
        for _ in range(2):
            self._pass()

    def measure(self, seconds: float) -> None:
        deadline = time.time() + seconds
        while not self.pass_s or time.time() < deadline:
            with self.ctx.span("extract.pass") as sp:
                rows = self._pass()
            self.pass_s.append(sp.seconds)
            self.outputs.append(rows)

    def batch_seconds(self) -> list:
        return self.pass_s

    def metrics(self) -> dict:
        docs = sum(len(rows) for rows in self.outputs)
        return {"urls_per_s": (docs / sum(self.pass_s), "1/s"),
                "batch_s_p50": (statistics.median(self.pass_s), "s")}

    def check(self) -> tuple:
        """(attempted, failed): every extracted page of every pass
        compared field by field with the oracle's extraction."""
        exp = self.oracle_result
        attempted = failed = 0
        for rows in self.outputs:
            got = {r.url: (r.text, r.content, r.links, r.enclosures)
                   for r in rows}
            urls = set(exp) | set(got)
            attempted += len(urls)
            failed += sum(1 for u in urls if exp.get(u) != got.get(u))
        return attempted, failed


def make_run(ctx, name: str):
    wl = WORKLOADS[name]
    kind = ExtractRun if isinstance(wl, ExtractWorkload) else CrawlRun
    return kind(ctx, wl)
