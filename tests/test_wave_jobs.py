"""Warm-wave job ledger: the number of Spark jobs one warm crawl wave runs
with the at-scale paths forced (sharded seen filter, distributed wave
order, no driver-side URL collect), pinned by an upper bound that only
ever moves down."""

import shutil
import tempfile

from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver
from pink_spider_spark.sources.synth import (build_catalog_items,
                                             gen_pages_spark, robots_rows,
                                             seed_urls)
from pink_spider_spark.sources.tables import TableStore

# jobs of the second (warm) wave below (48 before snapshot reads declared
# their schema); lower it when a change cuts jobs, never raise it
WARM_WAVE_MAX_JOBS = 45


def _marker_job(sc) -> int:
    """Run a one-task job under its own job group; returns its job id."""
    group = "wave-jobs-marker"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
        return max(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_warm_wave_job_count(spark):
    items = build_catalog_items()
    pages = gen_pages_spark(spark, 120, items).cache()
    pages.count()
    root = tempfile.mkdtemp(prefix="wave_jobs_")
    try:
        d = CrawlDriver(spark, TableStore(root), pages,
                        spark.createDataFrame(robots_rows()), items,
                        CrawlConfig(max_depth=2, max_waves=20,
                                    bloom_shard_min=0, wave_order_threshold=0,
                                    url_collect_max=0))
        d.bootstrap(seed_urls(6))
        d.run_wave()
        # the wave's pool-thread jobs carry no job group, so bracket the
        # warm wave with two marker jobs and count the job ids between
        sc = spark.sparkContext
        start = _marker_job(sc)
        stats = d.run_wave()
        end = _marker_job(sc)
    finally:
        pages.unpersist()
        shutil.rmtree(root, ignore_errors=True)
    assert stats["fetched"] > 0
    jobs = end - start - 1
    assert jobs <= WARM_WAVE_MAX_JOBS, jobs
