"""Per-host politeness scheduler: robots rules + budgeted frontier dequeue.

North-rule components: "per-host politeness scheduler (salted repartition
by host hash to kill skew, robots.txt cache as a broadcast table, priority
queue via window-ranked frontier batches)".  The reference's only
politeness device is a fixed 500 ms sleep between API calls
(reference: src/update_tracks.rs:18); generalized here to a per-host
per-wave URL budget derived from the robots table's crawl_delay.

Skew: ranking candidates per host is itself a skewed shuffle (one heavy
host can dominate a partition).  Because the per-wave budget k is small,
top-k is computed in two phases: a SALTED window (host, salt buckets from
xxhash64(url)) takes k per salt bucket — bounding any partition's work —
then the survivors (≤ k × n_salts per host, tiny) are ranked exactly.
Same result as a single window, no hot partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_MAX_PER_WAVE = 16
SALT_BUCKETS = 8


def with_robots(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Broadcast-join robots rules; flag disallowed URLs as excluded.

    Adds ``max_per_wave`` (budget) and ``excluded`` (path matches a
    disallow prefix).  Hosts without a robots row get defaults.
    """
    path = F.coalesce(F.expr("parse_url(url, 'PATH')"), F.lit("/"))
    joined = candidates.join(
        F.broadcast(robots.select("host", "disallow_prefixes", "max_per_wave")),
        on="host", how="left")
    return (
        joined
        .withColumn("max_per_wave",
                    F.coalesce(F.col("max_per_wave"), F.lit(DEFAULT_MAX_PER_WAVE)))
        .withColumn(
            "excluded",
            F.when(F.col("disallow_prefixes").isNull(), F.lit(False))
            .otherwise(F.exists(
                "disallow_prefixes",
                lambda p: F.startswith(path, p))))
        .drop("disallow_prefixes")
    )


def per_host_budget_batch(candidates: DataFrame) -> DataFrame:
    """Window-ranked frontier dequeue: top ``max_per_wave`` URLs per host by
    (priority DESC, url ASC) — the deterministic crawl order contract.

    Two-phase salted top-k (see module docstring).  Input needs columns
    (url, host, priority, max_per_wave); output adds ``host_rank``.
    """
    salted = candidates.withColumn(
        "__salt", F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS)))
    w_salt = (Window.partitionBy("host", "__salt")
              .orderBy(F.desc("priority"), F.asc("url")))
    pre = (salted
           .withColumn("__r", F.row_number().over(w_salt))
           .filter(F.col("__r") <= F.col("max_per_wave"))
           .drop("__r", "__salt"))
    w_host = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
    return (pre
            .withColumn("host_rank", F.row_number().over(w_host))
            .filter(F.col("host_rank") <= F.col("max_per_wave")))


def wave_order(batch: DataFrame, distributed_threshold: int | None = 2048,
               n_rows: int | None = None) -> DataFrame:
    """Deterministic in-wave sequence: rank by (priority DESC, url ASC).

    Two physical strategies, same result:

    - small batches (REST-budget regime, ≤ Σ host budgets): one global
      row_number window — a single post-shuffle partition, fine for
      thousands of rows.
    - large batches (throughput-mode budgets; millions of URLs at the
      10^10 design point): a single-partition sort is a serial
      bottleneck, so compute the global rank WITHOUT one:
      range-repartition on the sort key, row_number within each range
      partition, then add per-partition offsets (prefix sums of the tiny
      per-partition counts).  Every stage is distributed; the only driver
      data is one count per partition.

    ``distributed_threshold`` selects the strategy: ``None`` forces the
    single-window form (no count job at all); ``0`` forces the
    distributed form for any non-empty input; otherwise the input row
    count picks the side.

    Recompute hazard (and why it cannot bite): ``repartitionByRange``
    samples its boundaries and ``spark_partition_id`` is
    assignment-dependent, so a recomputation of lost partitions could
    assign different pids than the counts job observed, corrupting the
    global sequence.  The frame is therefore pinned with
    ``localCheckpoint(eager=True)``: blocks are materialized once and the
    lineage is TRUNCATED, so a lost block fails the job fast instead of
    silently recomputing a different assignment.  Checkpoint blocks are
    GC-managed and need no explicit unpersist.

    ``n_rows``: the caller's already-known row count (the crawl driver
    counts its batch once per wave anyway) — passing it skips this
    function's own count job.
    """
    w = Window.orderBy(F.desc("priority"), F.asc("url"))
    if distributed_threshold is None:
        return batch.withColumn("wave_pos", F.row_number().over(w))
    n = batch.count() if n_rows is None else int(n_rows)
    if n <= int(distributed_threshold):
        return batch.withColumn("wave_pos", F.row_number().over(w))

    ranged = batch.repartitionByRange(
        max(batch.sparkSession.sparkContext.defaultParallelism, 8),
        F.desc("priority"), F.asc("url"))
    w_part = Window.partitionBy("__pid").orderBy(
        F.desc("priority"), F.asc("url"))
    local = (ranged
             .withColumn("__pid", F.spark_partition_id())
             .withColumn("__local_pos", F.row_number().over(w_part))
             .localCheckpoint(eager=True))
    counts = {r["__pid"]: r["cnt"] for r in
              local.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(*[x for pid in sorted(counts)
                          for x in (F.lit(pid), F.lit(offsets[pid]))])
    return (local
            .withColumn("wave_pos",
                        (F.col("__local_pos") + omap[F.col("__pid")]).cast("int"))
            .drop("__pid", "__local_pos"))
