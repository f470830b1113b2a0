"""SparkSession construction with the engine's canonical configuration."""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """24g, capped at half the host's physical RAM: a heap cap above what
    the host has lets a long local session grow its heap instead of
    collecting until the kernel kills the JVM."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(24 * 1024, half_mb)}m"


def get_spark(app_name: str = "pink-spider-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the canonical session.

    Defaults: local[$SPARK_GRAFT_CPUS or *], UTC session timezone (the
    reference stores naive-UTC timestamps, src/model/entry.rs:315), AQE on
    (runtime skew-join handling is the first line of defense for host skew),
    Arrow on (every custom operator is a vectorized pandas UDF).
    """
    # make the package importable inside Python workers (spark-submit
    # deployments ship the same thing via --py-files, SURVEY.md §7.1-7)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else ""))

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(8, int(cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches: html rows are tens of KB and the extractor
        # builds ~10x-size DOMs per row — 2048-row batches caused multi-GB
        # per-worker churn that collapsed 32-way scaling (0.92 efficiency
        # at 128 rows vs 0.28 at 2048 on the weight-16 corpus)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        # file-scan granularity: in local mode the whole input is a few
        # GB, and the 128 MB default (plus 4 MB per-file open cost)
        # bin-packs it into FEWER scan partitions than task rounds need —
        # the 1.5 GB weight-64 bench corpus (256 x 6 MB files) becomes
        # ~20 partitions, i.e. 2.5 task rounds at 8 cores, and the last
        # straggler round caps N->4N scaling regardless of the engine.
        # 16 MB bins give every local level 4+ rounds (96+ partitions).
        # On a real cluster with TB-scale inputs the 128 MB default is
        # right (6M tasks per 100 TB is fine for 1000 executors, but the
        # scheduler shouldn't pay 8x that) — cluster deployments override
        # via SPARK_GRAFT_MAX_PARTITION_BYTES / spark-submit --conf.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               "16m" if master.startswith("local") else "128m"))
        .config("spark.sql.files.openCostInBytes",
                os.environ.get("SPARK_GRAFT_OPEN_COST", "1m"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
        # zstd over the snappy default: the crawl's dominant stage writes
        # multi-GB entry deltas (html-derived content/text); disk
        # bandwidth is the one resource that does NOT grow with executor
        # count, so trading scalable CPU (zstd encode parallelizes
        # per-task) for ~2x fewer written bytes directly buys N->4N
        # scaling headroom in write-heavy stages — and every downstream
        # delta read-back scans fewer bytes too
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"))
        .config("spark.ui.enabled", "false")
    )
    if (master.startswith("local") and SparkContext._gateway is None
            and "PYSPARK_GATEWAY_PORT" not in os.environ):
        # the engine's worker daemon (worker_daemon.py): every Python UDF
        # task re-read pyspark.zip and the spark-core jar in
        # importlib.invalidate_caches(), about 100 ms of CPU per task on
        # CPython 3.11 (later versions defer that re-read).  Only where
        # this call launches a local JVM, which inherits the PYTHONPATH
        # set above: a spark-submit JVM or a cluster executor starts its
        # daemon from a PYTHONPATH that need not hold this package.
        builder = builder.config("spark.python.daemon.module",
                                 "pink_spider_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
