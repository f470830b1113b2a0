"""Sharded bloom table: build / probe / incremental update.

The 10^10-key seen-filter form — no broadcast, no driver bitmap; the
probe is a shard-local cogroup (crawl/bloom.py shard table section).
"""

import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql import Row
from pyspark.sql import functions as F

from pink_spider_spark.crawl.bloom import (
    BloomFilter, build_bloom_shards, cover_all_shards,
    prune_with_bloom_shards, update_bloom_shards)

N_SHARDS = 8


def _keys_df(spark, urls):
    return spark.createDataFrame(
        [Row(url=u) for u in urls]).withColumn(
            "url_hash", F.xxhash64("url"))


def test_sharded_prune_no_false_drops(spark):
    """Every truly-new candidate survives the sharded prune; every seen
    candidate is removed (bloom positives confirmed by exact anti-join)."""
    seen_urls = [f"https://h{i % 13}.example.com/p{i}" for i in range(500)]
    new_urls = [f"https://h{i % 7}.example.org/n{i}" for i in range(300)]
    seen = _keys_df(spark, seen_urls)
    cands = _keys_df(spark, new_urls + seen_urls[::5])
    shards = build_bloom_shards(seen, "url_hash", 500, n_shards=N_SHARDS)
    out = {r.url for r in prune_with_bloom_shards(
        cands, seen.select("url"), shards, n_shards=N_SHARDS).collect()}
    assert out == set(new_urls)


def test_sharded_prune_missing_shard_means_fresh(spark):
    """A candidate whose shard has no bitmap row (no seen key hashed
    there) must come out fresh, not error."""
    seen = _keys_df(spark, ["https://only.example.com/one"])
    cands = _keys_df(spark, [f"https://x.example.net/{i}" for i in range(64)])
    shards = build_bloom_shards(seen, "url_hash", 10, n_shards=N_SHARDS)
    assert shards.count() == 1  # single key -> single shard row
    out = prune_with_bloom_shards(
        cands, seen.select("url"), shards, n_shards=N_SHARDS)
    assert out.count() == 64


def test_sharded_matches_broadcast_semantics(spark):
    """Sharded prune returns exactly the left_anti-join ground truth, same
    as the broadcast path's contract."""
    seen_urls = [f"https://s.example.com/{i}" for i in range(200)]
    cand_urls = [f"https://s.example.com/{i}" for i in range(150, 350)]
    seen = _keys_df(spark, seen_urls)
    cands = _keys_df(spark, cand_urls)
    shards = build_bloom_shards(seen, "url_hash", 200, n_shards=N_SHARDS)
    out = {r.url for r in prune_with_bloom_shards(
        cands, seen.select("url"), shards, n_shards=N_SHARDS).collect()}
    truth = {r.url for r in cands.join(
        seen.select("url"), "url", "left_anti").collect()}
    assert out == truth


def test_update_bloom_shards_incremental(spark):
    """OR-ing a wave's new keys into the shard table makes them bloom
    -positive (no false negatives) without touching other shards' rows."""
    base = _keys_df(spark, [f"https://a.example.com/{i}" for i in range(300)])
    wave = _keys_df(spark, [f"https://b.example.com/{i}" for i in range(100)])
    shards = cover_all_shards(
        build_bloom_shards(base, "url_hash", 1000, n_shards=N_SHARDS),
        N_SHARDS)
    assert shards.count() == N_SHARDS
    updated = update_bloom_shards(shards, wave, "url_hash", N_SHARDS)
    rows = {r.shard: r for r in updated.collect()}
    assert set(rows) == set(range(N_SHARDS))
    # probe manually: every base AND wave key must be maybe_seen
    for df in (base, wave):
        for r in df.withColumn(
                "shard", F.pmod("url_hash", F.lit(N_SHARDS)).cast("int")
                ).collect():
            srow = rows[r.shard]
            bf = BloomFilter(srow.m_bits, srow.k,
                             np.frombuffer(srow.bitmap, dtype=np.uint64))
            assert bf.contains_many(
                np.array([r.url_hash], dtype=np.int64)).all()


def test_update_bloom_shards_missing_shard_raises(spark):
    """A delta key whose shard has no row cannot be OR-ed in: the task
    only sees its own shard, so the update fails instead of guessing a
    bitmap size."""
    seen = _keys_df(spark, ["https://only.example.com/one"])
    shards = build_bloom_shards(seen, "url_hash", 10, n_shards=N_SHARDS)
    assert shards.count() == 1
    delta = _keys_df(spark, [f"https://x.example.net/{i}" for i in range(64)])
    with pytest.raises(PythonException, match="shard missing"):
        update_bloom_shards(shards, delta, "url_hash", N_SHARDS).collect()


def test_cover_all_shards_empty_table_raises(spark):
    """With no shard row there is no bitmap sizing to copy."""
    empty = _keys_df(spark, ["https://a.example.com/"]).filter(F.lit(False))
    shards = build_bloom_shards(empty, "url_hash", 10, n_shards=N_SHARDS)
    with pytest.raises(ValueError, match="empty shard table"):
        cover_all_shards(shards, N_SHARDS)
