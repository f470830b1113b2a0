"""Iterative clustering over embedding columns: deterministic Lloyd's
k-means expressed as DataFrame ops.

Extends the engine's similarity toolkit (knn/LSH/centroids in
functions/similarity.py) with the iterative-algorithm class: corpus
bucketing for training-mix curation (cluster-balanced sampling, topic
discovery over web text — cf. the clustering stages in CCNet and
SemDedup-style pipelines).

Scale shape (100 TB): the centroid set is always tiny (k vectors), so
the assignment step is a broadcast cross join + in-row distance fold —
no shuffle of the corpus beyond one vec-keyed argmin aggregation; the
update step is the label_centroids shape (posexplode + (cluster, pos)
keyed avg with map-side combine).  Every iteration is O(corpus · k)
work with exactly two linear shuffles; rounds are bounded by ``iters``.

Determinism contract (cross-engine oracle): distances and centroid
coordinates are rounded (6 dp) at every step, vectors are cast to
double before any arithmetic, and argmin ties break on the lowest
centroid id — so Spark and the SQL oracle walk identical trajectories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fanout import fan_out
from .text import round_half_up


def _assign(emb: DataFrame, centroids: DataFrame, id_col: str,
            vec_col: str) -> DataFrame:
    """Nearest centroid per vector: broadcast the k centroids, compute
    the squared-L2 distance in-row (zip_with + ordered fold — bit-stable
    evaluation order), argmin via min(struct(dist, cid))."""
    dist = F.round(
        F.aggregate(
            F.zip_with(F.col(vec_col), F.col("cvec"),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x), 6)
    scored = (emb.crossJoin(F.broadcast(centroids))
              .select(F.col(id_col), F.col("cid"), dist.alias("d")))
    return (scored.groupBy(id_col)
            .agg(F.min(F.struct(F.col("d"), F.col("cid"))).alias("m"))
            .select(F.col(id_col), F.col("m.cid").alias("cluster")))


def kmeans_fit(emb: DataFrame, k: int = 8, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               decimals: int = 6) -> tuple:
    """Deterministic Lloyd's k-means: init centroids = the k lowest-id
    vectors, then ``iters`` rounds of (assign → recompute means).
    Returns ``(assigned, centroids)``: the (id, cluster) frame after the
    final assignment AND the (cid, cvec) centroid set that produced it —
    the inverted-file index IVF-style ANN probes against.  Empty
    clusters keep no centroid (standard Lloyd's drop behavior)."""
    # the assignment step amplifies per-row work ×k (broadcast cross
    # join + in-row distance folds); fan a small single-file scan out to
    # the session parallelism (no-op at scale).  NOTE the determinism
    # contract survives repartitioning: distances are in-row, argmin is
    # an order-free min(struct), and the centroid update rounds
    # per-(cluster,pos) avgs to 6 dp — verified against the DuckDB
    # oracle at sf0.01 and sf0.1 with the fan-out active.
    vecs = fan_out(emb).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col))
    # the k lowest ids, selected explicitly — filter(id < k) only equals
    # "k lowest" when ids are dense from 0; sparse/non-zero-based ids
    # would silently seed fewer (possibly zero) centroids.  k is tiny so
    # the global top-k is a TakeOrderedAndProject, not a sort.
    centroids = (vecs.orderBy(id_col).limit(k)
                 .select(F.col(id_col).alias("cid"),
                         F.col(vec_col).alias("cvec")))
    assigned = _assign(vecs, centroids, id_col, vec_col)
    for _ in range(iters - 1):
        members = (assigned.join(vecs, id_col)
                   .select("cluster",
                           F.posexplode(vec_col).alias("pos", "v")))
        centroids = (members.groupBy("cluster", "pos")
                     .agg(F.round(F.avg("v"), decimals).alias("cv"))
                     .groupBy("cluster")
                     .agg(F.array_sort(F.collect_list(
                         F.struct("pos", "cv"))).alias("pairs"))
                     .select(F.col("cluster").alias("cid"),
                             F.transform(F.col("pairs"),
                                         lambda p: p["cv"]).alias("cvec")))
        assigned = _assign(vecs, centroids, id_col, vec_col)
    return assigned, centroids


def kmeans_assign(emb: DataFrame, k: int = 8, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  decimals: int = 6) -> DataFrame:
    """(id, cluster) after the final k-means assignment — see kmeans_fit."""
    return kmeans_fit(emb, k, iters, id_col, vec_col, decimals)[0]


def ann_ivf(emb: DataFrame, query_vec: list, topk: int = 10, k: int = 8,
            iters: int = 2, nprobe: int = 2, id_col: str = "vec_id",
            vec_col: str = "embedding", decimals: int = 6,
            exclude_id=None, index: tuple | None = None) -> DataFrame:
    """IVF-style ANN (the FAISS IndexIVFFlat shape, Johnson et al. 2017):
    partition the corpus into k clusters with the pinned deterministic
    k-means, then answer a query by exact-reranking ONLY the members of
    the ``nprobe`` clusters whose centroids are nearest the query —
    recall < 1 by construction, the complementary scale path to the
    hyperplane-LSH buckets (IVF adapts to the data distribution where
    LSH planes are data-oblivious).

    Scale shape: the probe choice is a k-row TakeOrderedAndProject over
    the centroid frame (broadcast back as the candidate filter), so the
    query costs one corpus scan restricted to ~nprobe/k of the rows plus
    a global top-k — no shuffle beyond the kmeans fit, which at 100 TB
    is fitted once and reused across queries (the index build).
    Centroid distance uses the same 6-dp-rounded squared-L2 +
    lowest-cid tie-break as assignment, so the probe set is
    engine-independent.
    """
    from .similarity import cosine

    # ``index``: a prefitted (assigned, cents) pair from kmeans_fit — the
    # "fitted once, reused across queries" index build the class of
    # operator exists for; omitted, the fit runs inline (single-query use)
    if index is not None:
        assigned, cents = index
    else:
        assigned, cents = kmeans_fit(emb, k=k, iters=iters, id_col=id_col,
                                     vec_col=vec_col, decimals=decimals)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qdist = F.round(
        F.aggregate(F.zip_with(F.col("cvec"), q,
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x), 6)
    probes = (cents.select(F.col("cid"), qdist.alias("__d"))
              .orderBy("__d", "cid").limit(nprobe)
              .select(F.col("cid").alias("cluster")))
    cand = assigned.join(F.broadcast(probes), "cluster").select(id_col)
    if exclude_id is not None:
        cand = cand.where(F.col(id_col) != F.lit(exclude_id))
    return (emb.join(cand, id_col)
            .select(id_col,
                    F.round(cosine(F.col(vec_col), q), 4).alias("sim"))
            .orderBy(F.desc("sim"), F.asc(id_col))
            .limit(topk))


def semdedup(emb: DataFrame, k: int = 8, iters: int = 2,
             eps: float = 0.35, id_col: str = "vec_id",
             vec_col: str = "embedding", decimals: int = 6) -> DataFrame:
    """SemDedup (Abbas et al. 2023): semantic near-duplicate removal
    gated by k-means clusters — a vector is DROPPED iff some lower-id
    vector in the SAME cluster has cosine similarity ≥ ``eps``
    (first-seen wins, the engine's standard dedup tie-break).  Returns
    every input row with (id, cluster, kept) so the decision is
    auditable.

    This is the scale form of embedding dedup for corpora where LSH
    recall is not enough: the O(n²) pair space is cut to within-cluster
    pairs only (k clusters → ~n²/k comparisons), each cluster one numpy
    applyInPandas pass.  The only shuffles are the kmeans rounds
    (linear, see above) and one groupBy on ``cluster`` — no cartesian,
    no all-pairs.  Cosine is rounded to ``decimals`` before the
    threshold test so Spark and the SQL oracle agree bit-for-bit.

    The pair dots fold one dimension at a time, the left-to-right double
    chain of the zip_with/aggregate cosine, and round with
    :func:`round_half_up`, so every decision is bit-equal to the
    relational pair join in ``tests/spec_forms.py``, pinned by
    ``test_semdedup_vectorized_equals_relational_corpus``.
    """
    assigned = kmeans_assign(emb, k=k, iters=iters, id_col=id_col,
                             vec_col=vec_col, decimals=decimals)
    vecs = emb.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias("__v"))
    side = assigned.join(vecs, id_col).select(
        F.col(id_col), "cluster", F.col("__v"))
    return _semdedup_kept(side, eps, id_col, decimals)


#: Row-block size of the semdedup pair pass: memory per task
#: is O(block · cluster_size) doubles, never a full cluster² matrix.
_SEMDEDUP_BLOCK = 1024


def _semdedup_kept(side: DataFrame, eps: float, id_col: str,
                   decimals: int) -> DataFrame:
    """The within-cluster "kept" pass of :func:`semdedup` as one numpy
    applyInPandas per cluster.

    Per cluster (rows sorted by id): norms and the pairwise Gram matrix
    are accumulated one dimension at a time so each scalar follows the
    exact left-to-right double chain of the zip_with/aggregate fold;
    cos = dot / (n_i · n_j) is the same single IEEE divide.  Only pairs
    whose unrounded cosine clears eps − 10⁻⁶ (a strict superset of the
    post-rounding survivors, since HALF_UP moves a value by ≤ 5·10⁻⁷)
    pay the exact Decimal rounding twin.  A zero denominator (all-zero
    vector) RAISES in the relational form under Spark's default ANSI
    mode, so the spec defines no decision there; this path stays total
    and applies Spark's NaN-largest ordering (the pair counts as a
    duplicate hit).  Work and memory are bounded
    per task by row-blocking: O(block · cluster_size), never a full
    n²/k matrix at once."""
    from pyspark.sql import types as T

    from .udfs import ensure_package_shipped

    ensure_package_shipped(side.sparkSession)  # kept_fn calls round_half_up
    fields = {f.name: f for f in side.schema.fields}
    out_schema = T.StructType([
        fields[id_col], fields["cluster"],
        T.StructField("kept", T.BooleanType(), nullable=False)])
    margin = float(eps) - 10.0 ** (-decimals)

    def kept_fn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        c = len(pdf)
        X = np.empty((c, len(pdf["__v"].iloc[0])), dtype=np.float64)
        for i, v in enumerate(pdf["__v"]):
            X[i, :] = v
        d_dims = X.shape[1]
        # norms: the same left-to-right per-dimension chain as the fold
        acc = np.zeros(c, dtype=np.float64)
        for d in range(d_dims):
            acc += X[:, d] * X[:, d]
        n = np.sqrt(acc)
        kept = np.ones(c, dtype=bool)
        block = _SEMDEDUP_BLOCK
        for lo in range(1, c, block):
            hi = min(lo + block, c)
            # pair dots for rows [lo, hi) against all LOWER-id rows —
            # accumulated per dimension for the identical double chain
            g = np.zeros((hi - lo, hi), dtype=np.float64)
            for d in range(d_dims):
                g += X[lo:hi, d, None] * X[None, :hi, d]
            denom = n[lo:hi, None] * n[None, :hi]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = g / denom
            jj = np.arange(hi)
            lower = jj[None, :] < np.arange(lo, hi)[:, None]
            cand = lower & (np.isnan(cos) | (cos >= margin))
            for bi, j in zip(*np.nonzero(cand)):
                v = cos[bi, j]
                if np.isnan(v) or round_half_up(v, decimals) >= eps:
                    kept[lo + bi] = False
        return pd.DataFrame({id_col: pdf[id_col], "cluster": pdf["cluster"],
                             "kept": kept})

    return side.groupBy("cluster").applyInPandas(kept_fn, schema=out_schema)


def pq_fit(emb: DataFrame, m: int = 4, k: int = 16, iters: int = 2,
           id_col: str = "vec_id", vec_col: str = "embedding",
           decimals: int = 6) -> tuple:
    """Product quantization (Jégou et al. 2011, "Product Quantization
    for Nearest Neighbor Search" — the FAISS PQ/IVFPQ compression
    stage): split each vector into ``m`` contiguous subspaces, run the
    pinned deterministic Lloyd's k-means INDEPENDENTLY per subspace
    (k codewords each), and emit every vector's code word ids plus the
    exact reconstruction error.  Storage drops from d·4 bytes to
    m·log₂k bits per vector — the memory scale path that makes
    billion-vector ANN fit in RAM.

    Relational shape — one GROUPED Lloyd's, not m sequential fits: the
    subspace id rides every key, so assignment is a broadcast cross
    join of (vector, sub) rows against the m·k centroid frame filtered
    on the shared ``sub`` key, and the update step is one
    (sub, cid, pos)-keyed mean.  Per iteration: exactly the two linear
    shuffles of kmeans_fit, independent of ``m``.

    Determinism contract (same as kmeans_fit): 6-dp-rounded distances
    and centroid coordinates, argmin ties to the lowest cid, init
    codebook = the k lowest-id vectors' subvectors; recon_err is the
    sum of per-subspace EXACT integers (d·10⁶) divided back once —
    never a re-rounded float sum.

    Returns ``(assigned, cents)``: the per-(vector, subspace) codeword
    assignments with their squared distances, and the (sub, cid, cv)
    codebook that produced them — what ADC queries (pq_adc_topk) build
    their distance tables against."""
    subs = emb.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.col(vec_col).cast("array<double>").alias("__v"))
    d_sub = F.size(F.col("__v")) / m  # assumed divisible (dims % m == 0)
    subs = subs.select(
        id_col, "sub",
        F.slice(F.col("__v"), (F.col("sub") * d_sub + 1).cast("int"),
                d_sub.cast("int")).alias("sv"))
    # init: the k lowest ids (explicit top-k, not a dense-id filter)
    low = (emb.select(id_col).orderBy(id_col).limit(k)
           .select(F.col(id_col).alias("cid")))
    cents = (subs.join(F.broadcast(low), subs[id_col] == low["cid"])
             .select("cid", "sub", F.col("sv").alias("cv")))

    def assign(cents):
        dist = F.round(
            F.aggregate(F.zip_with(F.col("sv"), F.col("cv"),
                                   lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0), lambda acc, x: acc + x), decimals)
        scored = (subs.join(F.broadcast(cents), "sub")
                  .select(F.col(id_col), "sub", F.col("cid"),
                          dist.alias("d")))
        return (scored.groupBy(id_col, "sub")
                .agg(F.min(F.struct(F.col("d"), F.col("cid"))).alias("m"))
                .select(F.col(id_col), "sub", F.col("m.cid").alias("cid"),
                        F.col("m.d").alias("d")))

    assigned = assign(cents)
    for _ in range(iters - 1):
        members = (assigned.join(subs, [id_col, "sub"])
                   .select("sub", "cid", F.posexplode("sv")
                           .alias("pos", "v")))
        cents = (members.groupBy("sub", "cid", "pos")
                 .agg(F.round(F.avg("v"), decimals).alias("cv"))
                 .groupBy("sub", "cid")
                 .agg(F.array_sort(F.collect_list(
                     F.struct("pos", "cv"))).alias("pairs"))
                 .select("sub", "cid",
                         F.transform(F.col("pairs"),
                                     lambda p: p["cv"]).alias("cv")))
        assigned = assign(cents)
    return assigned, cents


def pq_codes(emb: DataFrame, m: int = 4, k: int = 16, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             decimals: int = 6) -> DataFrame:
    """(id, codes, recon_err) per vector — see pq_fit."""
    assigned, _ = pq_fit(emb, m, k, iters, id_col, vec_col, decimals)
    return (assigned
            .withColumn("__d6", F.round(F.col("d") * 1e6).cast("long"))
            .groupBy(id_col)
            .agg(F.array_sort(F.collect_list(
                F.struct("sub", "cid"))).alias("__p"),
                F.sum("__d6").alias("__e6"))
            .select(id_col,
                    F.transform(F.col("__p"),
                                lambda p: p["cid"]).alias("codes"),
                    (F.col("__e6").cast("double") / F.lit(1e6))
                    .alias("recon_err")))


def pq_adc_topk(emb: DataFrame, query_vec: list, topk: int = 10,
                m: int = 4, k: int = 16, iters: int = 2,
                id_col: str = "vec_id", vec_col: str = "embedding",
                decimals: int = 6, exclude_id=None) -> DataFrame:
    """Asymmetric distance computation over PQ codes (Jégou et al. 2011
    §IV — the FAISS ADC query path): approximate
    ‖q − v‖² ≈ Σ_s ‖q_s − codeword(code_v[s])‖², so a query costs ONE
    m·k-entry distance-table build (broadcast) plus a code-keyed join
    and a per-vector integer sum — the original vectors are never
    touched at query time, which is the whole point of PQ: the search
    runs entirely over the m·log₂k-bit codes.

    Determinism: the table entries use the same 6-dp-rounded fold as
    assignment, per-vector sums are exact integers (d·10⁶), and the
    final distance divides back once; ties on the approximate distance
    break on the lowest id."""
    assigned, cents = pq_fit(emb, m, k, iters, id_col, vec_col, decimals)
    d_sub = len(query_vec) // m
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    qsub = F.slice(qlit, (F.col("sub") * d_sub + 1).cast("int"), d_sub)
    dq = F.round(
        F.aggregate(F.zip_with(F.col("cv"), qsub,
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x), decimals)
    dtable = cents.select("sub", "cid",
                          F.round(dq * 1e6).cast("long").alias("dq6"))
    scored = assigned.join(F.broadcast(dtable), ["sub", "cid"])
    if exclude_id is not None:
        scored = scored.where(F.col(id_col) != F.lit(exclude_id))
    return (scored.groupBy(id_col)
            .agg(F.sum("dq6").alias("__s"))
            .select(id_col, (F.col("__s").cast("double") / F.lit(1e6))
                    .alias("adist"))
            .orderBy(F.asc("adist"), F.asc(id_col))
            .limit(topk))
