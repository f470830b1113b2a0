"""Embedding similarity search: brute-force cosine top-k + LSH bucketing.

Baseline path: exact cosine via ``zip_with``/``aggregate`` (JVM-side fold,
no Python).  Scale path: random-hyperplane LSH buckets (deterministic
md5-derived plane components so the DuckDB oracle reproduces bucket ids
exactly) restrict candidate sets to one bucket before the exact rerank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fanout import fan_out
from .text import h60

DIM = 64  # driver embeddings table dimension


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold in double precision."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a.cast("array<double>"), lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def knn_brute_force(df: DataFrame, query_vec: list, k: int = 10,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    decimals: int = 4) -> DataFrame:
    """Exact top-k cosine neighbors of a literal query vector.

    Plan shape: single scan + per-row fold + global top-k (takeOrdered via
    sort+limit, no full shuffle thanks to limit pushdown into the sort)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(id_col, F.round(cosine(F.col(vec_col), q), decimals).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def plane_component(p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    (h60('plane-p-d') % 2000000) / 1e6 - 1.  Same closed form is inlined
    into the oracle SQL."""
    # local import keeps this usable without Spark for test vectors
    import hashlib
    h = int(hashlib.md5(f"plane-{p}-{d}".encode()).hexdigest()[:15], 16)
    return (h % 2000000) / 1e6 - 1.0


def lsh_bucket(df: DataFrame, n_planes: int = 8, vec_col: str = "embedding",
               id_col: str = "vec_id", dim: int = DIM) -> DataFrame:
    """Random-hyperplane LSH: bucket = Σ_p (dot(v, plane_p) >= 0) << p."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(plane_component(p, d)) for d in range(dim)])
        bit = F.when(dot(F.col(vec_col), plane) >= 0,
                     F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit
    return df.select(id_col, bucket.alias("bucket"))


def ann_topk(df: DataFrame, query_vec: list, k: int = 10,
             n_planes: int = 8, vec_col: str = "embedding",
             id_col: str = "vec_id", dim: int = DIM) -> DataFrame:
    """LSH-bucketed ANN: rerank only vectors sharing the query's bucket.
    (Recall < 1 by construction; the scale path for 10^9+ rows.)"""
    import hashlib  # noqa: F401  (plane_component)
    qbucket = 0
    for p in range(n_planes):
        plane = [plane_component(p, d) for d in range(dim)]
        if sum(a * b for a, b in zip([float(x) for x in query_vec], plane)) >= 0:
            qbucket += 1 << p
    bucketed = lsh_bucket(df, n_planes, vec_col, id_col, dim)
    cands = df.join(bucketed.filter(F.col("bucket") == qbucket).select(id_col), id_col)
    return knn_brute_force(cands, query_vec, k, vec_col, id_col)


def near_dup_pairs_lsh_banded(df: DataFrame, threshold: float = 0.3,
                              bands: int = 16, planes_per_band: int = 4,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id", dim: int = DIM,
                              decimals: int = 4) -> DataFrame:
    """Multi-band embedding near-dup: candidate pairs share ANY band's
    bucket (equi-join on (band, bucket), distinct across bands), then the
    exact cosine reranks.  Fixes the single-bucket form's recall hole
    (cross-bucket near-dups): collision probability rises from p^k to
    1-(1-p^r)^b — measured ≥ 0.91 at threshold 0.3 on the synthetic
    corpus with the default (16 bands × 4 planes), vs ~0.5 single-bucket.

    Scale shape: the thin (id, band, bucket) signature table self-joins
    on its key — shuffles are keyed on (band, bucket), never O(n²) —
    and only DISTINCT candidate pairs fetch vectors for the rerank.
    Parameter note (documented trade): at this LOW threshold hyperplane
    LSH filters weakly (the 0.3-similarity collision curve is flat); at
    dedup-realistic thresholds (≥ 0.8) the same (16, 4) setting prunes
    the pair space by orders of magnitude.

    The signatures come from the numpy pass of
    :func:`banded_lsh_signatures`.
    """
    sig = banded_lsh_signatures(df, bands, planes_per_band,
                                vec_col, id_col, dim)
    a = sig.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = sig.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("ea"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("eb"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("sim_raw", cosine(F.col("ea"), F.col("eb")))
            .filter(F.col("sim_raw") >= threshold)
            .select("id_a", "id_b",
                    F.round("sim_raw", decimals).alias("sim")))


def label_centroids(df: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label", dim: int = DIM,
                    decimals: int = 4) -> DataFrame:
    """Per-label centroid, long format (label, dim_pos, value).
    ``+ 0.0`` canonicalizes IEEE -0.0 (a centroid of values averaging to
    a tiny negative can round to -0.0 on one engine and 0.0 on another;
    they compare equal but serialize differently)."""
    return (
        df.select(label_col, F.posexplode(F.col(vec_col).cast("array<double>"))
                  .alias("dim_pos", "v"))
        .groupBy(label_col, "dim_pos")
        .agg((F.round(F.avg("v"), decimals) + F.lit(0.0)).alias("centroid"))
    )


def near_dup_pairs_lsh(df: DataFrame, threshold: float = 0.3,
                       n_planes: int = 8, vec_col: str = "embedding",
                       id_col: str = "vec_id", dim: int = DIM,
                       decimals: int = 4) -> DataFrame:
    """Embedding near-dup pairs via LSH-bucketed candidates + exact rerank.

    The scale path for the near-dup family: candidate pairs come from an
    EQUI-join on the hyperplane bucket (shuffle keyed on small buckets,
    never O(n^2)); the exact cosine runs only on bucket-mates.  One
    bucket per vector means no duplicate pairs, so the expected pair set
    is closed-form for the DuckDB oracle.  Recall < 1 by construction
    (cross-bucket near-dups are missed); the exact all-pairs form
    (queries.emb_near_dup_pairs) remains the small-scale verifier.
    """
    withb = df.join(lsh_bucket(df, n_planes, vec_col, id_col, dim), id_col)
    a = withb.select(F.col(id_col).alias("id_a"),
                     F.col(vec_col).alias("ea"), "bucket")
    b = withb.select(F.col(id_col).alias("id_b"),
                     F.col(vec_col).alias("eb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim_raw", cosine(F.col("ea"), F.col("eb")))
        .filter(F.col("sim_raw") >= threshold)
        .select("id_a", "id_b", F.round("sim_raw", decimals).alias("sim"))
    )


def query_bucket(query_vec: list, n_planes: int = 8, dim: int = DIM) -> int:
    """The query vector's hyperplane sign bucket, computed driver-side
    (pure python over the deterministic planes)."""
    qb = 0
    for p in range(n_planes):
        plane = [plane_component(p, d) for d in range(dim)]
        if sum(a * b for a, b in zip([float(x) for x in query_vec],
                                     plane)) >= 0:
            qb += 1 << p
    return qb


def ann_topk_multiprobe(df: DataFrame, query_vec: list, k: int = 10,
                        n_planes: int = 8, vec_col: str = "embedding",
                        id_col: str = "vec_id", dim: int = DIM) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. 2007): rerank vectors in the
    query's bucket OR any bucket at Hamming distance 1 from it (each
    single plane-sign flip) — n_planes+1 probes.  Collision recall
    rises from p^n to covering every near neighbor that disagrees with
    the query on at most one hyperplane, at ~(n_planes+1)/2^n_planes
    of the corpus reranked (9/256 at the default 8 planes) — the
    standard trade when a single probe's recall is too low and adding
    hash tables (more memory) is not wanted.

    Plan shape: the probe set is a driver-side constant → one scan
    computes buckets in-row and filters with a literal IN (no join for
    the probe set, no shuffle before the global top-k).  At 10^9+ rows
    the bucket becomes a stored partition column and the IN prunes
    partitions at the source."""
    qb = query_bucket(query_vec, n_planes, dim)
    probes = sorted({qb} | {qb ^ (1 << p) for p in range(n_planes)})
    bucketed = lsh_bucket(df, n_planes, vec_col, id_col, dim)
    cands = df.join(
        bucketed.filter(F.col("bucket").isin(probes)).select(id_col), id_col)
    return knn_brute_force(cands, query_vec, k, vec_col, id_col)


def banded_lsh_signatures(df: DataFrame, bands: int = 16,
                          planes_per_band: int = 4,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          dim: int = DIM) -> DataFrame:
    """Banded random-hyperplane signatures: (id, band, bucket) where band
    b's bucket is the ``planes_per_band``-bit sign signature of planes
    p = b·r + i (the same deterministic md5-derived planes as
    ``lsh_bucket``, so the DuckDB oracle reproduces every bucket), as
    ONE numpy/Arrow mapInPandas pass that computes all plane dots of a
    batch at once.

    Summing one dimension at a time (acc += V[:,d]·P[:,d]) is the same
    left-to-right double chain as ``dot``'s aggregate fold, so every
    sign is bit-equal to the relational ``tests/spec_forms.py`` form,
    pinned by ``test_banded_lsh_signatures_vectorized_bit_equal``."""
    import numpy as np

    from pyspark.sql import types as T

    n_planes = bands * planes_per_band
    P = np.array([[plane_component(p, d) for d in range(dim)]
                  for p in range(n_planes)], dtype=np.float64)
    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField("band", T.IntegerType()),
        T.StructField("bucket", T.LongType())])
    r = planes_per_band

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            acc = np.zeros((len(V), n_planes), dtype=np.float64)
            for d in range(dim):
                # one fold step per dimension: identical rounding chain
                # to the JVM's sequential aggregate
                acc += V[:, d:d + 1] * P[None, :, d]
            signs = acc >= 0.0
            weights = (1 << np.arange(r, dtype=np.int64))
            ids = np.repeat(pdf[id_col].to_numpy(), bands)
            band_ids = np.tile(np.arange(bands, dtype=np.int32), len(V))
            buckets = (signs.reshape(len(V), bands, r)
                       * weights[None, None, :]).sum(axis=2) \
                .astype(np.int64).reshape(-1)
            yield pd.DataFrame({id_col: ids, "band": band_ids,
                                "bucket": buckets})

    # per-row-independent numpy pass: fan a small single-file scan out
    # to the session parallelism so every slot gets Arrow batches
    # (no-op at scale — fanout.fan_out)
    return fan_out(df.select(id_col, vec_col)).mapInPandas(run, out_schema)


# ------------------------------------------------ JL random projection
def jl_project(df: DataFrame, out_dim: int = 16, in_dim: int = DIM,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """Johnson–Lindenstrauss random projection (Johnson & Lindenstrauss
    1984; the ±1 database-friendly form is Achlioptas 2003, "Database-
    friendly random projections"): y = (1/√d')·R·x with R ∈ {±1}^(d'×d),
    preserving pairwise distances within (1±ε) for d' = O(ε⁻²·log n) —
    the dimensionality-reduction front end of an ANN/clustering stack
    (project once, run kNN/LSH/k-means in d' dims at d/d' the cost).

    Determinism: R's entries are sign bits of the shared 60-bit hash
    (h60('jl-j-i') parity), components are integerized at 1e-6 BEFORE
    summation (the PQ/ADC contract) so every y is an exact integer sum —
    order-free under any partitioning — and the output float divides by
    4e6 exactly (out_dim=16 ⇒ 1/√d' = 1/4, chosen so the JL scale is a
    power of two and the division is a single exact IEEE op).

    Scale shape: one in-row explode (×d), one broadcast join against the
    d·d' sign table, one (vec,j)-keyed linear agg with map-side combine.
    No window, no cartesian beyond the broadcast constant table."""
    if round(out_dim ** 0.5) ** 2 != out_dim:
        raise ValueError("out_dim must be a perfect square so the "
                         "1/sqrt(out_dim) scale is exact")
    spark = df.sparkSession
    root = int(round(out_dim ** 0.5))
    signs = (spark.range(0, in_dim * out_dim)
             .select((F.col("id") % in_dim).alias("pos"),
                     (F.col("id") / in_dim).cast("long").alias("j"))
             .select("pos", "j",
                     (1 - 2 * (h60(F.concat(F.lit("jl-"), F.col("j"),
                                            F.lit("-"), F.col("pos")))
                               % 2)).cast("long").alias("sgn")))
    e = (fan_out(df.select(id_col, vec_col))
         .select(F.col(id_col),
                 F.posexplode(F.col(vec_col).cast("array<double>"))
                 .alias("pos", "val"))
         .select(id_col, "pos",
                 F.round(F.col("val") * 1e6).cast("long").alias("x6")))
    # y is the RAW double of one IEEE division of exact operands —
    # bit-identical cross-engine.  Rounding it would break: y6/4e6 sits
    # exactly on a 6-dp half whenever y6 % 4 == 2, and HALF_UP (Spark)
    # vs DuckDB tie behavior then disagree — measured, 30/8000 rows.
    return (e.join(F.broadcast(signs), "pos")
            .groupBy(id_col, "j")
            .agg(F.sum(F.col("sgn") * F.col("x6")).cast("long")
                 .alias("y6"))
            .select(id_col, "j", "y6",
                    (F.col("y6") / F.lit(float(root) * 1e6)).alias("y")))
