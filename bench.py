"""Headline benchmark: the ``@q(..., headline=True)`` queries at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS] plus a crawl-wave
throughput probe.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "crawl_urls_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pink_spider_spark import queries as Q
    from pink_spider_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # JVM/codegen warmup so the first timed query isn't charged session start
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    # Python-worker warmup (same exclusion policy): the first Arrow
    # mapInPandas job of a session forks every worker and imports
    # pandas/pyarrow in each — one-time cluster-start cost, not query
    # cost.  A 32-row identity pass over all slots pays it here.
    warm_df = spark.range(0, 32, 1, 32)
    warm_df.mapInPandas(lambda it: it, warm_df.schema) \
        .write.mode("overwrite").format("noop").save()

    timings = {}
    total = 0.0
    for name in Q.HEADLINE:
        fn = Q.QUERY_BUILDERS[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        # noop sink: fully materializes every output column (count() would
        # let Catalyst prune columns the query claims to produce)
        df.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        timings[name] = round(dt, 3)
        total += dt

    # crawl throughput probe: 8k synthetic pages, 2 waves
    from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver
    from pink_spider_spark.sources.synth import (build_catalog_items,
                                                 gen_pages_spark, robots_rows,
                                                 seed_urls)
    from pink_spider_spark.sources.tables import TableStore

    items = build_catalog_items()
    pages = gen_pages_spark(spark, 8000, items, weight=4).cache()
    pages.count()  # generation (input data) excluded from timing
    robots_pdf = robots_rows()
    robots_pdf["max_per_wave"] = 1_000_000
    robots = spark.createDataFrame(robots_pdf)

    # crawl warmup (excluded from timing, like the query warmup above):
    # the FIRST crawl of a session pays ~45 s of one-time cost — Python
    # worker fork + pandas/pyarrow import in every mapInPandas slot, JVM
    # codegen JIT for each distinct wave-job shape, shuffle/localCheckpoint
    # store init.  A 200-page/50-seed single wave pays all of it on a
    # trivial input so the timed run below measures steady-state
    # throughput (the regime that matters at 10^10-URL waves, where cold
    # start amortizes to zero).  Measured: same 8k run is ~18 s warm vs
    # 60-75 s cold depending on host window.
    warm_pages = gen_pages_spark(spark, 200, items, weight=4).cache()
    warm_pages.count()
    warm_root = tempfile.mkdtemp(prefix="bench_crawl_warm_")
    # wave_order_threshold=0: the warmup exercises the DISTRIBUTED
    # ordering path (the one the timed waves use), not the small-batch
    # global window
    CrawlDriver(spark, TableStore(warm_root), warm_pages, robots, items,
                CrawlConfig(max_depth=1, max_waves=1,
                            wave_order_threshold=0)).run(seed_urls(50))
    shutil.rmtree(warm_root, ignore_errors=True)
    warm_pages.unpersist()
    root = tempfile.mkdtemp(prefix="bench_crawl_")
    driver = CrawlDriver(spark, TableStore(root), pages, robots, items,
                         CrawlConfig(max_depth=1, max_waves=10))
    t0 = time.time()
    stats = driver.run(seed_urls(3000))
    crawl_dt = time.time() - t0
    urls = sum(s.get("batch", 0) for s in stats)
    timings["crawl_2waves_8k"] = round(crawl_dt, 3)
    total += crawl_dt
    shutil.rmtree(root, ignore_errors=True)

    # the same crawl with the 10^10-design-point paths FORCED (sharded
    # bloom cogroup probe, distributed wave order, no driver url list):
    # the 8k probe above runs the small-batch regime; this second figure
    # tracks the at-scale code paths so a regression there is visible in
    # BENCH history, not just in units and the scaling ladder
    root = tempfile.mkdtemp(prefix="bench_crawl_scale_")
    driver = CrawlDriver(spark, TableStore(root), pages, robots, items,
                         CrawlConfig(max_depth=1, max_waves=10,
                                     bloom_shard_min=0,
                                     wave_order_threshold=0,
                                     url_collect_max=0))
    t0 = time.time()
    stats_scale = driver.run(seed_urls(3000))
    crawl_scale_dt = time.time() - t0
    urls_scale = sum(s.get("batch", 0) for s in stats_scale)
    assert urls_scale == urls, (urls_scale, urls)  # identical crawl either path
    timings["crawl_2waves_8k_at_scale"] = round(crawl_scale_dt, 3)
    total += crawl_scale_dt
    shutil.rmtree(root, ignore_errors=True)

    print(json.dumps({
        "metric": "headline_suite_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "crawl_urls_per_sec": round(urls / crawl_dt, 1),
        "crawl_urls_per_sec_at_scale": round(urls_scale / crawl_scale_dt, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
