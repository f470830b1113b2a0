"""Relational spec forms of the library's in-row operators.

Each function here is the all-Catalyst definition an executing
``functions/`` operator must reproduce bit for bit: it explodes rows
where the library runs one Arrow/numpy pass, so no query, bench or
engine path runs it.  The equality tests compare the library's one
implementation against these forms; the DuckDB oracles stay the
cross-engine spec.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pink_spider_spark.functions import text as X
from pink_spider_spark.functions.clustering import kmeans_assign
from pink_spider_spark.functions.similarity import DIM, dot, plane_component
from pink_spider_spark.functions.text import HASH_BITS, h60
from pink_spider_spark.functions.webtext import word_ngrams


# --------------------------------------------------------------- text
def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = HASH_BITS) -> DataFrame:
    """60-bit SimHash over whitespace tokens (token-frequency weighted).

    Fully relational (explode tokens x bit positions) so the DuckDB oracle
    can reproduce it bit-for-bit."""
    tok = (
        df.select(id_col, F.explode(X.tokens(F.lower(F.col(text_col))))
                  .alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", h60(F.col("token")))
    )
    bitsum = (
        tok.select(
            id_col, "cnt", "h",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"))
        .withColumn(
            "contrib",
            F.col("cnt") * (F.expr("shiftright(h, bit)")
                            .bitwiseAND(F.lit(1)) * 2 - 1))
        .groupBy(id_col, "bit")
        .agg(F.sum("contrib").alias("s"))
    )
    return (
        bitsum
        .withColumn("term", F.when(F.col("s") > 0,
                                   F.expr("shiftleft(1L, bit)"))
                    .otherwise(F.lit(0).cast("long")))
        .groupBy(id_col)
        .agg(F.sum("term").alias("simhash"))
    )


# --------------------------------------------------------- similarity
def banded_lsh_signatures(df: DataFrame, bands: int = 16,
                          planes_per_band: int = 4,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          dim: int = DIM) -> DataFrame:
    """Banded random-hyperplane signatures: (id, band, bucket) where band
    b's bucket is the ``planes_per_band``-bit sign signature of planes
    p = b·r + i (the same deterministic md5-derived planes as
    ``lsh_bucket``, so the DuckDB oracle reproduces every bucket).  ONE
    scan computes all bands in-row; the explode amplifies rows ×bands —
    the classic MinHash-banding layout applied to hyperplane LSH."""
    r = planes_per_band
    sigs = []
    for band in range(bands):
        bucket = F.lit(0).cast("long")
        for i in range(r):
            plane = F.array(*[F.lit(plane_component(band * r + i, d))
                              for d in range(dim)])
            bucket = bucket + F.when(
                dot(F.col(vec_col), plane) >= 0,
                F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        sigs.append(F.struct(F.lit(band).cast("int").alias("band"),
                             bucket.alias("bucket")))
    return (df.select(id_col, F.explode(F.array(*sigs)).alias("s"))
            .select(id_col, F.col("s.band").alias("band"),
                    F.col("s.bucket").alias("bucket")))


# ------------------------------------------------------------ webtext
def bigrams(text_col: Column) -> Column:
    """Word 2-grams as an array (lowercased tokens); empty array below 2
    tokens — the previous sequence form emitted a degenerate unigram for
    1-token docs via concat_ws null-skipping, diverging from the
    oracle's WHERE s.i < len(tk) bound."""
    return word_ngrams(text_col, 2)


def trigrams(text_col: Column) -> Column:
    """Word 3-grams; empty array below 3 tokens (see bigrams)."""
    return word_ngrams(text_col, 3)


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher repetition rules 5/6 as explode + count keyed on
    (doc_id, gram): two map-side-combining aggregations, inner-joined,
    so docs under 3 tokens emit no row."""
    bi = (df.select(F.col(id_col),
                    F.explode(bigrams(F.col(text_col))).alias("g"))
          .groupBy(id_col, "g").agg(F.count("*").alias("c"))
          .groupBy(id_col)
          .agg(F.max("c").alias("max_bi"), F.sum("c").alias("n_bi")))
    tri = (df.select(F.col(id_col),
                     F.explode(trigrams(F.col(text_col))).alias("g"))
           .groupBy(id_col, "g").agg(F.count("*").alias("c"))
           .groupBy(id_col)
           .agg(F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
                .alias("dup_tri"),
                F.sum("c").alias("n_tri")))
    return (bi.join(tri, id_col)
            .select(id_col,
                    F.round(F.col("max_bi") / F.col("n_bi").cast("double"), 4)
                    .alias("top_bigram_frac"),
                    F.round(F.col("dup_tri") / F.col("n_tri").cast("double"), 4)
                    .alias("dup_trigram_frac")))


def contamination(docs: DataFrame, bench: DataFrame, n: int = 3,
                  threshold: float = 0.5, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination with the corpus side's per-doc distinct
    grams as ``explode(array_distinct(word_ngrams(text, n)))``."""
    cand = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n)))
        .alias("gram"))
    bgrams = (bench.select(
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
        .distinct().withColumn("hit", F.lit(1)))
    scored = (cand.join(F.broadcast(bgrams), "gram", "left")
              .groupBy(id_col)
              .agg(F.count("*").cast("long").alias("n_grams"),
                   F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                   .cast("long").alias("hit_grams")))
    frac = F.round(F.col("hit_grams") / F.col("n_grams").cast("double"), 4)
    return scored.select(
        id_col, "n_grams", "hit_grams", frac.alias("contamination_frac"),
        (frac >= threshold).alias("contaminated"))


def window_hashes(text_col: Column, k: int = 20) -> Column:
    """md5 fingerprints of every k-token window (1-based start
    positions 1..n-k+1); empty array for blank docs or docs shorter
    than k tokens.  The md5 of the space-joined slice is the
    cross-engine window key (identical string in DuckDB's md5())."""
    tk = X.tokens(text_col)
    n = F.size(tk)
    return F.when(
        (F.trim(text_col) == "") | (n < k), F.array().cast("array<string>")
    ).otherwise(F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.md5(F.array_join(F.slice(tk, i, k), " "))))


# --------------------------------------------------------- clustering
def semdedup(emb: DataFrame, k: int = 8, iters: int = 2,
             eps: float = 0.35, id_col: str = "vec_id",
             vec_col: str = "embedding", decimals: int = 6) -> DataFrame:
    """SemDedup's within-cluster pass as the relational pair join: the
    zip_with/aggregate cosine fold per same-cluster pair, rounded to
    ``decimals`` before the ``eps`` test.  A zero vector RAISES here
    under Spark's default ANSI mode (DIVIDE_BY_ZERO)."""
    assigned = kmeans_assign(emb, k=k, iters=iters, id_col=id_col,
                             vec_col=vec_col, decimals=decimals)
    vecs = emb.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias("__v"))
    norm = F.sqrt(F.aggregate(
        F.col("__v"), F.lit(0.0), lambda a, x: a + x * x))
    side = (assigned.join(vecs, id_col)
            .select(F.col(id_col), "cluster", F.col("__v"),
                    norm.alias("__n")))
    a = side.select(F.col(id_col).alias("__i"), "cluster",
                    F.col("__v").alias("__vi"), F.col("__n").alias("__ni"))
    b = side.select(F.col(id_col).alias("__j"), "cluster",
                    F.col("__v").alias("__vj"), F.col("__n").alias("__nj"))
    cos = F.round(
        F.aggregate(F.zip_with(F.col("__vi"), F.col("__vj"),
                               lambda x, y: x * y),
                    F.lit(0.0), lambda acc, x: acc + x)
        / (F.col("__ni") * F.col("__nj")), decimals)
    dup = (a.join(b, "cluster")
           .where(F.col("__j") < F.col("__i"))
           .where(cos >= F.lit(float(eps)))
           .select(F.col("__i").alias(id_col))
           .distinct()
           .withColumn("__dup", F.lit(True)))
    return (side.join(dup, id_col, "left")
            .select(F.col(id_col), "cluster",
                    F.coalesce(~F.col("__dup"), F.lit(True)).alias("kept")))
