"""Crawl-wave throughput benchmark at a chosen parallelism level.

Generates (or reuses) a deterministic pages corpus, then times the wave
loop end-to-end (dequeue -> bloom prune -> fetch-sim -> extract ->
enqueue -> commit).  Prints one JSON line.

Usage:
  python scripts/crawl_bench.py --cpus 8 --pages 60000 --weight 6 \
      --seeds 20000 --depth 1 --data-dir /tmp/bench_pages_w6
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _git_rev() -> str:
    """Engine revision stamp: best-of aggregation must only compare runs
    of the same code."""
    import subprocess
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, check=True).stdout.strip()
    except Exception:
        return "unknown"


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_capacity_probe(workers: int, dur: float = 2.5) -> float:
    """Aggregate busy-loop rate over ``workers`` processes — a pure-CPU
    measure of what the host ACTUALLY delivers at this concurrency right
    now.  The sandbox VM's effective capacity fluctuates ~3x with
    hypervisor neighbors; recording it per run lets the scaling report
    separate engine scaling from host throttling."""
    import multiprocessing as mp

    def burn(q, dur):
        t0 = time.time()
        n = 0
        x = 0
        while time.time() - t0 < dur:
            for i in range(10000):
                x += i * i
            n += 1
        q.put(n)

    q = mp.Queue()
    ps = [mp.Process(target=burn, args=(q, dur)) for _ in range(workers)]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return total / dur


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--pages", type=int, default=60000)
    ap.add_argument("--weight", type=int, default=6)
    ap.add_argument("--seeds", type=int, default=20000)
    ap.add_argument("--depth", type=int, default=1)
    ap.add_argument("--budget", type=int, default=1_000_000)
    ap.add_argument("--hosts", type=int, default=20)
    ap.add_argument("--data-dir", default=None)
    ap.add_argument("--gen-only", action="store_true",
                    help="generate the corpus then exit (pre-gen at high parallelism)")
    ap.add_argument("--at-scale", action="store_true",
                    help="force the 10^10-design-point code paths regardless of "
                         "batch size: sharded bloom (bloom_shard_min=0), "
                         "distributed wave order (wave_order_threshold=0), and "
                         "the no-driver-url-list fetch join (url_collect_max=0)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver
    from pink_spider_spark.session import get_spark
    from pink_spider_spark.sources.synth import (build_catalog_items,
                                                 gen_pages_spark, robots_rows,
                                                 seed_urls)
    from pink_spider_spark.sources.tables import TableStore

    spark = get_spark(app_name=f"crawl-bench-{args.cpus}",
                      master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    items = build_catalog_items()

    data_dir = args.data_dir or tempfile.mkdtemp(prefix="bench_pages_")
    marker = os.path.join(data_dir, "_GENERATED")
    # the marker records the GENERATION PARAMS: a cached corpus is only
    # reused when (pages, weight, hosts) match, else it is regenerated.
    # (A bare "ok" marker once let a weight-16 corpus masquerade as a
    # weight-64 one across rounds — silently different link topology.)
    params = json.dumps({"pages": args.pages, "weight": args.weight,
                         "hosts": args.hosts}, sort_keys=True)
    cached = None
    if os.path.exists(marker):
        with open(marker) as f:
            cached = f.read().strip()
    if cached != params:
        gen_pages_spark(spark, args.pages, items, n_hosts=args.hosts,
                        partitions=args.cpus * 8, weight=args.weight) \
            .write.mode("overwrite").parquet(os.path.join(data_dir, "pages"))
        open(marker, "w").write(params)
    if args.gen_only:
        print(json.dumps({"generated": args.pages, "dir": data_dir}))
        spark.stop()
        return
    pages = spark.read.parquet(os.path.join(data_dir, "pages"))

    robots_pdf = robots_rows(args.hosts)
    robots_pdf["max_per_wave"] = args.budget  # throughput mode: wide budgets
    robots = spark.createDataFrame(robots_pdf)

    root = tempfile.mkdtemp(prefix="crawl_bench_state_")
    store = TableStore(root)
    scale_kwargs = {}
    if args.at_scale:
        scale_kwargs = dict(bloom_shard_min=0, wave_order_threshold=0,
                            url_collect_max=0)
    driver = CrawlDriver(spark, store, pages, robots, items,
                         CrawlConfig(max_depth=args.depth, max_waves=50,
                                     **scale_kwargs))

    # steady-state throughput: warm the FULL wave machinery before timing
    # — python workers, whole-stage codegen for the window/dequeue plans,
    # parquet write paths, bloom UDF, and one whole-table scan for the OS
    # page cache.  Cluster start-up cost, excluded identically at every
    # parallelism level (the same exclusion a real cluster bench makes);
    # the tiny wave runs on a throwaway state dir.
    warm_root = tempfile.mkdtemp(prefix="crawl_bench_warm_")
    warm_kwargs = dict(scale_kwargs)
    warm_kwargs["wave_order_threshold"] = 0
    warm = CrawlDriver(spark, TableStore(warm_root), pages, robots, items,
                       CrawlConfig(max_depth=0, max_waves=1, **warm_kwargs))
    warm.run(seed_urls(min(500, args.seeds), args.hosts))
    shutil.rmtree(warm_root, ignore_errors=True)

    capacity = host_capacity_probe(args.cpus)

    t0 = time.time()
    stats = driver.run(seed_urls(args.seeds, args.hosts))
    elapsed = time.time() - t0
    urls = sum(s.get("batch", 0) for s in stats)

    # dominant-stage probe: one pure extraction pass over the corpus
    # (scan -> Arrow -> extract, no crawl bookkeeping) for a second,
    # noise-resistant read of scaling
    from pyspark.sql import functions as SF

    from pink_spider_spark.functions.udfs import extract_pages
    t0 = time.time()
    extract_pages(pages, items).select(SF.count("*")).collect()
    extract_dt = time.time() - t0

    out = {
        "mode": "at_scale" if args.at_scale else "default",
        "cpus": args.cpus,
        "pages": args.pages,
        "weight": args.weight,
        "waves": len([s for s in stats if not s.get("done")]),
        "urls_processed": urls,
        "seconds": round(elapsed, 2),
        "urls_per_sec": round(urls / elapsed, 1),
        "extract_urls_per_sec": round(args.pages / extract_dt, 1),
        "host_capacity": round(capacity, 1),
        "rev": _git_rev(),
    }
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
