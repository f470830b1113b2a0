"""The crawl wave driver: one Spark job per wave, resumable from checkpoint.

Canonical wave semantics (shared with the sequential simulator in
``simulator.py`` — ordering/seen-set parity between the two is the
correctness gate):

1. candidates = frontier rows with status 'pending'
2. robots exclusion: path matches a disallow prefix -> status 'excluded'
3. dequeue: per host, top ``max_per_wave`` by (priority DESC, url ASC)
4. in-wave order: batch ranked by (priority DESC, url ASC); global
   seq = seen-so-far + wave_pos
5. fetch simulation: batch ⨝ pages on url (sandbox has no network; at
   scale this is the politeness-bucketed fetch stage); misses -> 'missing'
6. extract: one mapInPandas pass -> entries, enclosures, links
7. enqueue: canonicalized discovered links, deduped (max parent priority
   × DECAY, min depth+1), anti-joined (bloom + exact) against every URL
   ever enqueued
8. atomic commit of frontier/seen/entries/enclosures/metrics snapshots +
   checkpoint {wave, snapshot ids}

The reference's analogue is the rss_crawler batch loop
(reference: src/rss_crawler.rs:11-44 + src/model/feed.rs:210-232): paged
feed sweep -> per-entry crawl-once (find_or_create_by_url_if_invalid,
src/model/entry.rs:295-308) -> scrape -> persist enclosures.  The wave
loop generalizes crawl-once to the seen-set, the page sweep to the
priority frontier, and the 500 ms sleep to per-host budgets.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.udfs import canonicalize_url, extract_pages, host_col, with_url_hash
from ..sources import schemas
from ..sources.tables import TableStore
from . import entities, scheduler
from .bloom import (build_bloom, build_bloom_shards, cover_all_shards,
                    prune_with_bloom, prune_with_bloom_shards,
                    update_bloom_shards)

PRIORITY_DECAY = 0.8


@dataclass
class CrawlConfig:
    max_depth: int = 3
    max_waves: int = 100
    bloom_fpp: float = 0.01
    # Above this batch size the wave stops materializing URLs on the
    # driver: the fetch-sim switches from a broadcast url-set filter
    # INSIDE the extract UDF (Arrow-fast-path, see extract_pages) to a
    # distributed left_semi join of pages ⨝ batch urls.  At the 10^10
    # design point a wave can hold millions of URLs; collecting them to
    # the driver each wave is a GC/memory bottleneck and serializes the
    # wave start.
    url_collect_max: int = 100_000
    # Above this seen-set estimate the per-executor broadcast bitmap is
    # replaced by the sharded bloom table: the bitmap is cogroup-probed
    # shard-by-shard and never exists whole on the driver or in a
    # broadcast (a 10^10-key bitmap at 1% fpp is ~12 GB — per executor
    # if broadcast, ~3 MB per task if sharded).
    bloom_shard_min: int = 2_000_000
    bloom_n_shards: int = 64
    # Every K waves, bin-pack the small per-wave append dirs of the
    # append-heavy tables (Iceberg rewrite_data_files analog) and re-pin
    # the checkpoint on the compacted snapshots.  0 = off.  At the 10^10
    # design point a long crawl otherwise accumulates one sub-row-group
    # dir per wave per table and scan cost drifts up with file count.
    compact_every: int = 0
    # Drop crawler-trap URLs (pathological paths, infinite calendars —
    # crawl/traps.py heuristics) at enqueue time.  Off by default so the
    # default parity contract stays rule-free; the simulator carries the
    # same rules for parity when enabled.
    trap_filter: bool = False
    # URL-level corpus triage at enqueue (crawl/urlfilter.py: banned
    # words, digit-dominated paths, host blocklist).  Off by default —
    # same parity policy as trap_filter; the simulator carries the twin
    # rules (is_url_allowed) when enabled.
    url_filter: bool = False
    blocked_hosts: tuple = ()
    # Batch size above which wave_order switches from the single global
    # window to the distributed range-partition + offset strategy (see
    # scheduler.wave_order).  0 forces distributed for any batch — used
    # by warmup runs so even tiny waves exercise (and JIT-warm) the
    # scale path and never emit the single-partition WindowExec warning.
    wave_order_threshold: int = 2048


class CrawlDriver:
    def __init__(self, spark: SparkSession, store: TableStore,
                 pages: DataFrame, robots: DataFrame,
                 catalog_items: dict, config: CrawlConfig | None = None):
        self.spark = spark
        self.store = store
        self.pages = pages
        self.robots = robots
        self.catalog_items = catalog_items
        self.config = config or CrawlConfig()
        self._catalog_df = None
        self._drop_seen_filters()

    def _drop_seen_filters(self) -> None:
        """Forget the held seen filters so the next wave rebuilds them."""
        # broadcast-regime seen-bloom, maintained incrementally across
        # waves (see _bloom_for_wave): the bitmap object, the highest
        # discovered_wave it covers, and the key capacity it was sized for
        self._bloom = None
        self._bloom_covers = -1
        self._bloom_capacity = 0
        # sharded-regime twin: a localCheckpoint-pinned shard table kept
        # across waves and OR-updated with each wave's frontier delta
        self._bloom_shards = None
        self._shards_covers = -1
        self._shards_capacity = 0

    @property
    def catalog_df(self) -> DataFrame:
        """Provider catalog as a (small, broadcastable) DataFrame for
        enrichment joins — the relational face of the fixture the extract
        UDF consults for fetch-success decisions."""
        if self._catalog_df is None:
            from ..sources.synth import catalog_df

            # RAW rows (explicit schema: inference chokes on all-None
            # columns under a plain spark-submit session without Arrow)
            # enriched through the F9/F10/F11 scalar functions
            self._catalog_df = catalog_df(
                self.spark, self.catalog_items).cache()
        return self._catalog_df

    # ------------------------------------------------------------ state
    def _t(self, name):
        return self.store.table(name)

    def bootstrap(self, seed_urls) -> None:
        """Initialize frontier with the seed list (priority 1.0, depth 0).

        ``seed_urls``: a python list OR a DataFrame with a ``url`` column —
        the DataFrame form keeps 10^6+-row seed sets fully distributed
        (never materialized on the driver)."""
        # a re-bootstrap replaces the frontier wholesale: drop any held
        # incremental bloom so wave 1 rebuilds over the new seed set
        self._drop_seen_filters()
        if isinstance(seed_urls, DataFrame):
            df = seed_urls.select("url")
            n_estimate = None
        else:
            # Arrow-batched pandas frame: a 10^6-row python seed list would
            # crawl through py4j row-at-a-time as a list of tuples
            import pandas as pd

            df = self.spark.createDataFrame(
                pd.DataFrame({"url": list(seed_urls)}))
            n_estimate = len(seed_urls)
        frontier = (
            with_url_hash(df)
            .withColumn("host", host_col())
            .withColumn("priority", F.lit(1.0))
            .withColumn("depth", F.lit(0))
            .withColumn("discovered_wave", F.lit(0))
            .withColumn("status", F.lit("pending"))
            .select([f.name for f in schemas.FRONTIER_SCHEMA.fields])
        )
        # every table except the frontier pins snapshot 0 — by manifest
        # construction the empty snapshot — so bootstrap is ONE write job
        # (the old empty-seen overwrite was a whole Spark job spent
        # writing zero rows)
        snapshots = {
            "frontier": self._t("frontier").overwrite(frontier),
            "seen": 0,
            "entries": 0, "enclosures": 0, "metrics": 0,
            "tracks": 0, "playlists": 0, "albums": 0, "playlist_tracks": 0,
        }
        if n_estimate is None:
            # the overwrite above already materialized the frontier, so
            # this count reads parquet footers, not the data
            n_estimate = self._t("frontier").read(
                self.spark, schema=schemas.FRONTIER_SCHEMA).count()
        self.store.commit_checkpoint(
            0, snapshots,
            counters={"seen": 0, "frontier_estimate": int(n_estimate)})

    def _bloom_for_wave(self, frontier, wave: int, known_estimate: int):
        """Broadcast-regime seen-bloom with INCREMENTAL per-wave refresh.

        A full ``build_bloom`` rescans the whole (growing) frontier every
        wave — a per-wave cost proportional to crawl history, not wave
        size, and one of the two fixed costs that dragged the N->4N
        pipeline scaling below the extract stage's.  Instead the driver
        keeps the bitmap across waves and each wave ORs in only the rows
        enqueued since (``discovered_wave > covers`` — exactly the
        previous wave's frontier append), fetched as ONE thin Arrow
        column pull.  Bloom bitmaps are monotone, so the union is exact:
        the bitmap stays a strict superset of the pinned frontier's url
        set, which is the only property the prune needs (false positives
        are re-checked by the exact anti-join; false negatives cannot
        occur for covered rows).

        Full (re)build happens when: no bitmap is held (fresh driver /
        resume / post-recrawl invalidation), or the frontier estimate
        outgrew the sized capacity (fpp would degrade).  Builds size for
        4x the current estimate so the incremental path amortizes
        rebuilds geometrically."""
        bf = self._bloom
        if bf is None or known_estimate > self._bloom_capacity:
            capacity = max(4 * known_estimate, 100_000)
            bf = build_bloom(frontier, "url_hash", capacity,
                             self.config.bloom_fpp)
            self._bloom_capacity = capacity
        else:
            delta = (frontier
                     .filter(F.col("discovered_wave") > self._bloom_covers)
                     .select("url_hash").toPandas()["url_hash"])
            if len(delta):
                import numpy as np

                bf.add_many(delta.to_numpy(dtype=np.int64))
        self._bloom = bf
        # the pinned frontier holds discovered_wave <= wave - 1
        self._bloom_covers = wave - 1
        return bf

    def _bloom_shards_for_wave(self, frontier, wave: int,
                               known_estimate: int):
        """Sharded-regime twin of ``_bloom_for_wave``: the shard table is
        pinned with a localCheckpoint and kept across waves; each
        wave cogroup-ORs in only the frontier delta
        (``update_bloom_shards``), so the per-wave cost is
        O(delta + n_shards bitmaps) instead of a full frontier regroup.
        ``localCheckpoint(eager=False)`` is NOT lazy here: under the
        session's AQE, declaring it runs the plan's shuffle stages (the
        build's groupBy, the update's cogroup) at once, on this thread —
        the wave's serial path, before the dequeue's ``batch.count()``.
        Only the post-shuffle stage and the block write wait for the
        first consumer (the enqueue prune job).  Same invalidation
        triggers as the broadcast form (fresh driver, recrawl, capacity
        outgrown -> full rebuild, sized 4x and covering every shard id so
        incremental updates never miss a shard row)."""
        n_shards = self.config.bloom_n_shards
        held = self._bloom_shards
        if held is None or known_estimate > self._shards_capacity:
            capacity = max(4 * known_estimate, 100_000)
            shards = cover_all_shards(
                build_bloom_shards(frontier, "url_hash", capacity,
                                   n_shards=n_shards,
                                   fpp=self.config.bloom_fpp), n_shards)
            self._shards_capacity = capacity
        else:
            delta = (frontier
                     .filter(F.col("discovered_wave") > self._shards_covers)
                     .select("url_hash"))
            shards = update_bloom_shards(held, delta, "url_hash", n_shards)
        shards = shards.localCheckpoint(eager=False)
        self._bloom_shards = shards
        self._shards_covers = wave - 1
        return shards

    def _pinned(self, name: str, schema):
        ckpt = self.store.read_checkpoint() or {"snapshots": {}}
        snap = ckpt["snapshots"].get(name, 0)
        return self._t(name).read(self.spark, schema=schema, snapshot=snap)

    # ------------------------------------------------------------- wave
    def run_wave(self) -> dict:
        """Run one wave; returns wave stats.  Resumable: reads only the
        snapshots pinned by the last committed checkpoint."""
        ckpt = self.store.read_checkpoint()
        if ckpt is None:
            raise RuntimeError("bootstrap() first")
        wave = int(ckpt["wave"]) + 1
        counters = ckpt.get("counters", {})
        pinned = dict(ckpt.get("snapshots", {}))

        frontier = self._pinned("frontier", schemas.FRONTIER_SCHEMA)
        # running counters ride in the checkpoint: no per-wave table recount
        seen_count = int(counters.get("seen", 0))
        frontier_estimate = int(counters.get("frontier_estimate", 1000))
        # force-recrawl rows (see .recrawl()) dequeue like pending rows but
        # skip the seen append and MERGE their extraction over the old one
        recrawl_pending = int(counters.get("recrawl", 0))

        pending = frontier.filter(F.col("status").isin("pending", "recrawl"))
        flagged = scheduler.with_robots(pending, self.robots)
        excluded = flagged.filter(F.col("excluded"))
        eligible = flagged.filter(~F.col("excluded"))

        t0 = time.time()
        ticks: dict = {}

        def tick(label):
            nonlocal t0
            now = time.time()
            ticks[label] = round(ticks.get(label, 0.0) + (now - t0), 3)
            t0 = now

        # the seen-bloom is built over the frontier AS PINNED — fully
        # independent of this wave's dequeue/extract.  Two regimes:
        # - broadcast (small/medium seen set): built on a driver thread
        #   concurrently with the wave body, joined right before the
        #   enqueue prune needs it
        # - sharded (seen estimate >= bloom_shard_min): the bitmap never
        #   exists whole anywhere — build_bloom_shards stays a lazy
        #   DataFrame and the probe is a shard-local cogroup inside the
        #   prune job itself, so there is nothing to precompute
        from concurrent.futures import ThreadPoolExecutor

        known_estimate = max(1000, frontier_estimate)
        bloom_pool = None
        bloom_future = None
        bloom_shards = None
        if frontier_estimate >= self.config.bloom_shard_min:
            bloom_shards = self._bloom_shards_for_wave(
                frontier, wave, known_estimate)
        else:
            bloom_pool = ThreadPoolExecutor(max_workers=1)
            bloom_future = bloom_pool.submit(
                self._bloom_for_wave, frontier, wave, known_estimate)

        # cache the batch BEFORE the global ordering: wave_pos is only
        # consumed by the seen-ordering append, and wave_order's
        # distributed strategy (count + range sampling) re-reads its
        # input — against the cache those re-reads are free
        batch = scheduler.per_host_budget_batch(eligible).cache()
        wave_caches: list = [batch]
        try:
            return self._wave_body(
                wave, pinned, frontier, excluded, batch,
                seen_count=seen_count, frontier_estimate=frontier_estimate,
                bloom_future=bloom_future, bloom_shards=bloom_shards,
                wave_caches=wave_caches, tick=tick, ticks=ticks,
                recrawl_pending=recrawl_pending)
        finally:
            # all exit paths (empty wave, extract failure, commit failure)
            # release the wave's executor memory and the bloom thread
            if bloom_future is not None:
                bloom_future.cancel()
            if bloom_pool is not None:
                bloom_pool.shutdown(wait=False)
            for df in wave_caches:
                try:
                    df.unpersist()
                except Exception:
                    pass

    def _wave_body(self, wave, pinned, frontier, excluded, batch,
                   seen_count, frontier_estimate, bloom_future, bloom_shards,
                   wave_caches, tick, ticks, recrawl_pending=0):
        # ONE materializing job, fully parallel: count() populates the
        # batch cache using every core; the small-batch regime then reads
        # the url list back from the hot cache as one Arrow transfer.
        # (The previous limit-probed collect ramped through partitions
        # serially — CollectLimit's incremental execution runs 1
        # partition, then 4x more, ... each round on a fraction of the
        # cores — a per-wave serial cost that ate N->4N scaling.)
        batch_n = batch.count()
        if batch_n == 0:
            tick("dequeue")
            return {"wave": wave, "fetched": 0, "done": True}
        if batch_n <= self.config.url_collect_max:
            batch_urls_list = batch.select("url").toPandas()["url"].tolist()
        else:
            batch_urls_list = None
        tick("dequeue")
        # force-recrawl rows in this batch (counted against the cached
        # batch — a tiny job, and only ever run while a recrawl is live)
        n_recrawl = 0
        if recrawl_pending:
            n_recrawl = batch.filter(F.col("status") == "recrawl").count()

        # --- fetch simulation + extract -------------------------------
        # The stored-pages scan is the sandbox stand-in for network fetch.
        # Two physical forms, gated on batch size (config.url_collect_max):
        # - small (REST-budget regime): the batch url set rides a broadcast
        #   variable and the membership test runs INSIDE the extract UDF,
        #   so the heavy html column never shuffles and never leaves the
        #   scan -> Arrow columnar fast path (see extract_pages docstring)
        # - large (throughput regime, millions of URLs/wave at the 10^10
        #   design point): NO url ever touches the driver — the thin
        #   batch url projection joins the pages table left_semi (AQE
        #   picks broadcast vs shuffle), then extraction runs over the
        #   joined rows
        hits = self.pages.select("url", "html")
        if batch_urls_list is not None:
            hits_kwargs = {"url_filter": batch_urls_list}
        else:
            hits = hits.join(batch.select("url"), on="url", how="left_semi")
            hits_kwargs = {}

        # ONE extraction pass, written ONCE: the wave's entries append IS
        # the staged extraction output (content/text would thrash executor
        # memory as a cache; as parquet every downstream plan gets column
        # pruning — enclosure/link/metric plans never touch the fat
        # columns).  The appended delta dir is read back directly
        # (incremental-scan analog); the snapshot only enters the
        # checkpoint at the atomic commit below.
        entries_new = extract_pages(
            hits, self.catalog_items, **hits_kwargs,
        ).select(
            "url",
            F.col("og_title").alias("title"),
            F.col("og_description").alias("description"),
            F.col("og_image").alias("visual_url"),
            F.col("og_locale").alias("locale"),
            "content", "text", "enclosures", "links",
            F.lit(wave).alias("crawled_wave"),
        )
        # wave totals ride the write job itself (CollectMetrics): no
        # separate aggregation pass over the delta on the serial path
        from pyspark.sql import Observation

        obs = Observation()
        entries_new = entries_new.observe(
            obs,
            F.count(F.lit(1)).alias("fetched"),
            F.sum(F.size("links")).alias("links_found"),
        )
        entries_snapshot, entries_dir = self._t("entries").append_returning_dir(
            entries_new, base_snapshot=pinned.get("entries", 0))
        wave_totals = obs.get
        fetched_n = int(wave_totals["fetched"] or 0)
        links_found = int(wave_totals["links_found"] or 0)
        miss_n = batch_n - fetched_n
        tick("entries_write")
        extracted = self.spark.read.schema(schemas.ENTRY_SCHEMA).parquet(entries_dir)
        if n_recrawl:
            # force path (reference: src/main.rs:162-192 force=true →
            # entry.playlistify + save): the refreshed extraction REPLACES
            # the url's previous entry — copy-on-write MERGE keyed on url.
            # Brand-new urls in the same wave pass through the merge as
            # plain inserts; a recrawl whose page went missing appends no
            # delta row and so KEEPS its old entry (the reference's
            # failed-force behavior).  Seen ordering is untouched.
            entries_snapshot = self._t("entries").merge(
                self.spark, extracted, ["url"], schema=schemas.ENTRY_SCHEMA,
                base_snapshot=pinned.get("entries", 0))
            tick("entries_merge")
        # misses derive from the staged extraction output: no second pass
        # over the pages table
        misses = batch.select("url").join(
            extracted.select("url"), on="url", how="left_anti")
        enclosures = (
            extracted.select("url", F.explode("enclosures").alias("e"))
            .select("url", "e.kind", "e.provider", "e.identifier", "e.owner_id",
                    "e.state", "e.in_catalog", "e.doc_pos", "e.child_pos")
        )

        # entity dims: find-or-create merge + catalog enrichment (C3/J11).
        # ONE wave-wide dedup pass feeds all three dims + the playlist
        # membership.  Built lazily: the derived-table writer pins it with
        # an eager localCheckpoint (inside the concurrent pool, overlapped
        # with the frontier/seen jobs) so the four consuming branches of
        # the single union write read materialized blocks instead of
        # racing to recompute the explode+window 4x
        def build_dim_frames(encl_dedup) -> tuple:
            dim_appends = {}
            for kind, table in (("track", "tracks"), ("playlist", "playlists"),
                                ("album", "albums")):
                existing = self._pinned(table, schemas.ENCLOSURE_DIM_SCHEMA)
                dim_appends[table] = entities.new_dim_rows(
                    encl_dedup, existing, kind, self.catalog_df, wave)
            playlist_tracks_new = entities.playlist_track_rows(
                dim_appends["playlists"], self.catalog_df, wave)
            return dim_appends, playlist_tracks_new

        # --- discovered links -> new frontier rows ---------------------
        parent = batch.select("url", "priority", "depth")
        links = (
            extracted.select("url", F.explode("links").alias("raw_link"))
            .join(parent, "url")
            .select(
                canonicalize_url(F.col("raw_link")).alias("url"),
                (F.col("priority") * F.lit(PRIORITY_DECAY)).alias("priority"),
                (F.col("depth") + 1).alias("depth"),
            )
            .filter(F.col("url").startswith("http"))
            .filter(F.col("depth") <= self.config.max_depth)
            .groupBy("url")
            .agg(F.max("priority").alias("priority"), F.min("depth").alias("depth"))
        )
        if self.config.trap_filter:
            from .traps import filter_traps
            links = filter_traps(links)
        if self.config.url_filter:
            from .urlfilter import filter_urls
            bl = None
            if self.config.blocked_hosts:
                bl = self.spark.createDataFrame(
                    [(h,) for h in self.config.blocked_hosts], ["host"])
            links = filter_urls(links, blocklist=bl)

        # --- frontier transition, built lazily (runs inside the pool) ----
        # the enqueue prune's eager cache-count (the one compute-heavy job
        # between extraction and commit) used to run on the wave's SERIAL
        # path; as a pool task it overlaps the seen/derived-table writes
        def build_frontier_next() -> DataFrame:
            if bloom_shards is not None:
                new_urls = prune_with_bloom_shards(
                    with_url_hash(links), frontier.select("url"), bloom_shards,
                    n_shards=self.config.bloom_n_shards)
            else:
                new_urls = prune_with_bloom(
                    with_url_hash(links), frontier.select("url"),
                    bloom_future.result(), cache_registry=wave_caches)
            new_frontier_rows = (
                new_urls
                .withColumn("host", host_col())
                .withColumn("discovered_wave", F.lit(wave))
                .withColumn("status", F.lit("pending"))
                .select([f.name for f in schemas.FRONTIER_SCHEMA.fields])
            )

            # frontier state transition: flag tables are wave-sized
            # (small) — broadcast them so the frontier scan never shuffles;
            # at 10^10 frontier rows this is the difference between a
            # map-only status pass and a full-table shuffle.
            # The overwrite IS a full-frontier rewrite per wave — a
            # deliberate design choice, the same generation-rewrite batch
            # crawlers use at web scale (Apache Nutch updatedb): one
            # map-only scan-and-write with zero shuffle beats a latest-wins
            # reconstruction (full-table shuffle on every dequeue) and
            # Iceberg MERGE would reduce it to touched-files-only without
            # changing this dataflow
            status_updates = (
                frontier
                .join(F.broadcast(batch.select("url").withColumn(
                    "__b", F.lit(1))), "url", "left")
                .join(F.broadcast(misses.withColumn("__m", F.lit(1))),
                      "url", "left")
                .join(F.broadcast(excluded.select("url").withColumn(
                    "__x", F.lit(1))), "url", "left")
                .withColumn(
                    "status",
                    F.when(F.col("__m").isNotNull(), F.lit("missing"))
                    .when(F.col("__b").isNotNull(), F.lit("fetched"))
                    .when(F.col("__x").isNotNull(), F.lit("excluded"))
                    .otherwise(F.col("status")))
                .drop("__b", "__m", "__x")
            )
            return status_updates.unionByName(new_frontier_rows)

        # --- seen ordering ----------------------------------------------
        # global in-wave rank built lazily at its only consumer — the seen
        # append below — so wave_order's eager jobs (count, range sampling,
        # localCheckpoint pin) run inside the concurrent write pool, off
        # the wave's serial path; large batches take the distributed
        # range-partition + offset strategy (see scheduler.wave_order)
        def build_seen() -> DataFrame:
            # force-recrawl rows keep their original (first_wave, seq):
            # they are excluded here, and wave_pos ranks only the
            # first-time urls so the global sequence stays contiguous
            src = batch
            if n_recrawl:
                src = batch.filter(F.col("status") != "recrawl")
            # the frontier's url_hash is the seen key of the same url:
            # carried over, not recomputed through the canonicalize UDF
            return scheduler.wave_order(
                src,
                distributed_threshold=self.config.wave_order_threshold,
                # the batch count is already known (the dequeue's one
                # materializing job) — skip wave_order's own count;
                # a live recrawl changes the row set, so only then is
                # the count re-derived inside wave_order
                n_rows=None if n_recrawl else batch_n).select(
                "url", "url_hash",
                F.lit(wave).alias("first_wave"),
                (F.lit(seen_count) + F.col("wave_pos")).cast("long")
                .alias("seq"))

        # --- per-partition lineage metrics: one row per partition from a
        # doc-keyed aggregation over the (column-pruned) entries delta —
        # pure DataFrame, no driver collect — plus one driver row
        # (partition_id = -1) carrying the wave's stage timings known at
        # build time; the complete tick map rides the checkpoint counters
        stage_known = dict(ticks)
        metrics_agg = (
            extracted
            .withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(
                F.count("*").alias("fetched"),
                F.sum(F.size(F.filter("enclosures", lambda e: e.kind == "track")))
                .alias("extracted_tracks"),
                F.sum(F.size(F.filter("enclosures", lambda e: e.kind == "playlist")))
                .alias("extracted_playlists"),
                F.sum(F.size(F.filter("enclosures", lambda e: e.kind == "album")))
                .alias("extracted_albums"),
                F.sum(F.size("links")).alias("links_found"),
            )
            .select(F.lit(wave).alias("wave"), "partition_id",
                    "fetched", F.lit(int(miss_n)).cast("long").alias("missing"),
                    "extracted_tracks", "extracted_playlists",
                    "extracted_albums", "links_found",
                    F.lit(None).cast(schemas.METRICS_SCHEMA["stage_secs"]
                                     .dataType).alias("stage_secs")))
        driver_row = self.spark.createDataFrame(
            [(wave, -1, 0, int(miss_n), 0, 0, 0, 0, stage_known)],
            schemas.METRICS_SCHEMA)
        metrics_df = metrics_agg.unionByName(driver_row)

        # --- atomic commit ----------------------------------------------
        # THREE concurrent jobs, whatever the wave size:
        #   1. frontier: enqueue prune (the bloom cache-count) -> status
        #      transition -> generation rewrite
        #   2. seen: wave_order's eager jobs + append
        #   3. derived: enclosures + 3 dims + playlist_tracks + metrics in
        #      ONE union write split back per table (multi-table
        #      transaction — append_many_partitioned); encl_dedup's cache
        #      is populated inside that single job, so the old cache-warm
        #      count job is gone too
        # The checkpoint still commits strictly after ALL writes land, so
        # atomicity/resumability is unchanged: a crash mid-writes leaves
        # orphan snapshot ids that the next resume never references.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        snapshots = dict(pinned)
        snapshots["entries"] = entries_snapshot

        frontier_obs = Observation() if recrawl_pending else None

        def write_frontier():
            fn = build_frontier_next()
            if frontier_obs is not None:
                # rides the overwrite job: how many recrawl rows remain
                # (budget-deferred) so the recrawl counter self-clears
                fn = fn.observe(
                    frontier_obs,
                    F.sum(F.when(F.col("status") == "recrawl", 1)
                          .otherwise(0)).alias("recrawl_left"))
            return self._t("frontier").overwrite(fn)

        def write_seen():
            return self._t("seen").append(
                build_seen(), base_snapshot=pinned.get("seen", 0))

        def write_derived():
            from ..sources.tables import append_many_partitioned

            encl_dedup = entities.dedup_enclosures(enclosures) \
                .localCheckpoint(eager=True)
            dim_appends, playlist_tracks_new = build_dim_frames(encl_dedup)
            frames = {"enclosures": enclosures, "metrics": metrics_df,
                      "playlist_tracks": playlist_tracks_new, **dim_appends}
            if n_recrawl:
                # refreshed urls replace their old exploded enclosure rows
                # (the reference's enclosure re-detection on force) — the
                # url-keyed merge variant of the plain append
                frames.pop("enclosures")
                snapshots["enclosures"] = self._t("enclosures").merge(
                    self.spark, enclosures, ["url"],
                    schema=schemas.ENCLOSURE_SCHEMA,
                    base_snapshot=pinned.get("enclosures", 0))
            bases = {t: pinned.get(t, 0) for t in frames}
            return append_many_partitioned(self.store, frames, bases)

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_frontier = pool.submit(write_frontier)
            f_seen = pool.submit(write_seen)
            f_derived = pool.submit(write_derived)
            snapshots["frontier"] = f_frontier.result()
            snapshots["seen"] = f_seen.result()
            snapshots.update(f_derived.result())
        tick("table_writes")
        counters = {"seen": seen_count + batch_n - n_recrawl,
                    "frontier_estimate": frontier_estimate + int(links_found)}
        if recrawl_pending:
            counters["recrawl"] = int(
                frontier_obs.get["recrawl_left"] or 0)
        tick("checkpoint")
        counters["stage_secs"] = dict(ticks)
        self.store.commit_checkpoint(wave, snapshots, counters=counters)

        # caller's finally block unpersists batch + wave_caches
        return {"wave": wave, "fetched": batch_n - miss_n, "missing": miss_n,
                "batch": batch_n, "recrawled": n_recrawl, "done": False,
                "stage_secs": dict(ticks)}

    def recrawl(self, urls) -> dict:
        """Force re-crawl — the ``force=true`` path of
        GET /playlistify (reference: src/main.rs:162-192
        find_or_playlistify_entry + update_entry): bypass the crawl-once
        contract (src/model/entry.rs:295-308) for the given URLs.

        Known frontier rows flip to status ``recrawl``: they dequeue like
        pending rows (robots + budget still apply) but keep their seen
        ordering (first_wave, seq), and their next extraction REPLACES the
        stored entry + enclosures via copy-on-write merge.  Unknown URLs
        are inserted as fresh pending rows (the create_by_url path — they
        enter the seen sequence normally).  ``urls``: python list or a
        DataFrame with a ``url`` column."""
        ckpt = self.store.read_checkpoint()
        if ckpt is None:
            raise RuntimeError("bootstrap() first")
        wave = int(ckpt["wave"])
        counters = dict(ckpt.get("counters", {}))
        snapshots = dict(ckpt.get("snapshots", {}))
        frontier = self._pinned("frontier", schemas.FRONTIER_SCHEMA)
        if isinstance(urls, DataFrame):
            req = urls.select("url")
        else:
            req = self.spark.createDataFrame([(u,) for u in urls], ["url"])

        # request sets are API-sized: broadcast against the frontier scan
        marked = frontier.join(
            F.broadcast(req.withColumn("__rc", F.lit(1))), "url", "left")
        flip = (F.col("__rc").isNotNull()
                & ~F.col("status").isin("pending", "recrawl"))
        n_flip = marked.filter(flip).count()
        flipped = (marked.withColumn(
            "status", F.when(flip, F.lit("recrawl")).otherwise(F.col("status")))
            .drop("__rc"))
        new_rows = (
            with_url_hash(req.join(frontier.select("url"), "url", "left_anti"))
            .withColumn("host", host_col())
            .withColumn("priority", F.lit(1.0))
            .withColumn("depth", F.lit(0))
            .withColumn("discovered_wave", F.lit(wave))
            .withColumn("status", F.lit("pending"))
            .select([f.name for f in schemas.FRONTIER_SCHEMA.fields])
        ).cache()
        n_new = new_rows.count()
        try:
            snapshots["frontier"] = self._t("frontier").overwrite(
                flipped.unionByName(new_rows))
        finally:
            new_rows.unpersist()
        # fresh recrawl inserts carry discovered_wave = the CURRENT wave,
        # which the incremental bloom already believes it covers — drop
        # the bitmap so the next wave rebuilds (recrawl is an API-sized
        # rare path; correctness over the incremental saving)
        self._drop_seen_filters()
        counters["recrawl"] = int(counters.get("recrawl", 0)) + n_flip
        counters["frontier_estimate"] = int(
            counters.get("frontier_estimate", 0)) + n_new
        self.store.commit_checkpoint(wave, snapshots, counters=counters)
        return {"recrawl": n_flip, "inserted": n_new}

    def run_refresh(self) -> dict:
        """The update_tracks / playlist_crawler / update_artists batch
        refresh loops as one committed pass (reference:
        src/update_tracks.rs:10-44, src/playlist_crawler.rs:8-35,
        src/update_artists.rs:10-93 — cron-style binaries there, one
        relational job each here)."""
        ckpt = self.store.read_checkpoint()
        if ckpt is None:
            raise RuntimeError("bootstrap() first")
        wave = int(ckpt["wave"])
        pinned = dict(ckpt.get("snapshots", {}))

        tracks = self._pinned("tracks", schemas.ENCLOSURE_DIM_SCHEMA)
        playlists = self._pinned("playlists", schemas.ENCLOSURE_DIM_SCHEMA)
        albums = self._pinned("albums", schemas.ENCLOSURE_DIM_SCHEMA)
        playlist_tracks = self._pinned(
            "playlist_tracks", schemas.PLAYLIST_TRACKS_SCHEMA)

        tracks2 = entities.refresh_stale_dims(tracks, self.catalog_df, "track", wave)
        albums2 = entities.refresh_stale_dims(albums, self.catalog_df, "album", wave)
        # velocity-update path: membership discovered in the final wave
        # drives find_actives (velocity>0) for the playlist re-fetch
        playlists2 = entities.update_playlist_velocity(
            playlists, playlist_tracks, since_wave=wave)
        pt2 = entities.refresh_active_playlists(
            playlists2, playlist_tracks, self.catalog_df, wave)
        artists, track_artists = entities.artist_rows(tracks2, self.catalog_df, wave)

        snapshots = dict(pinned)
        snapshots["tracks"] = self._t("tracks").overwrite(tracks2)
        snapshots["playlists"] = self._t("playlists").overwrite(playlists2)
        snapshots["albums"] = self._t("albums").overwrite(albums2)
        snapshots["playlist_tracks"] = self._t("playlist_tracks").overwrite(pt2)
        snapshots["artists"] = self._t("artists").overwrite(artists)
        snapshots["track_artists"] = self._t("track_artists").overwrite(track_artists)
        counters = dict(ckpt.get("counters", {}))
        self.store.commit_checkpoint(wave, snapshots, counters=counters)
        return {"wave": wave, "refreshed": True}

    def maintain(self, small_bytes: int = 64 << 20,
                 target_bytes: int = 128 << 20, min_dirs: int = 8) -> dict:
        """Between-wave table maintenance: bin-pack small append dirs on
        the append-heavy tables and re-pin the checkpoint on the compacted
        snapshots, so subsequent base-pinned appends build on the packed
        file list instead of re-absorbing the small dirs.  Safe at any
        point between waves; a compaction racing a concurrent commit
        aborts table-side (SnapshotTable.compact) and is just skipped."""
        ckpt = self.store.read_checkpoint()
        if not ckpt:
            return {}
        compacted = {}
        for t in ("seen", "entries", "enclosures", "metrics", "playlist_tracks"):
            sid = self._t(t).compact(self.spark, small_bytes=small_bytes,
                                     target_bytes=target_bytes, min_dirs=min_dirs)
            if sid is not None:
                compacted[t] = sid
        if compacted:
            snaps = dict(ckpt.get("snapshots", {}))
            snaps.update(compacted)
            self.store.commit_checkpoint(ckpt["wave"], snaps,
                                         counters=ckpt.get("counters", {}))
        return compacted

    def run(self, seed_urls: list | None = None, resume: bool = False) -> list:
        """Run waves to quiescence (or max_waves).  ``resume=True`` picks up
        from the last committed checkpoint without re-seeding."""
        if not resume:
            if seed_urls is None:
                raise ValueError("seed_urls required unless resuming")
            self.bootstrap(seed_urls)
        stats = []
        for i in range(self.config.max_waves):
            s = self.run_wave()
            stats.append(s)
            if s.get("done"):
                break
            k = self.config.compact_every
            if k and (i + 1) % k == 0:
                self.maintain()
        return stats
