"""Deterministic Lloyd's k-means (functions/clustering.py) — hand pins."""

from pink_spider_spark.functions import clustering as C
from tests import spec_forms as SF


def _emb(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_kmeans_two_clear_clusters(spark):
    df = _emb(spark, [(0, [0.0, 0.0]), (1, [10.0, 10.0]),
                      (2, [1.0, 1.0]), (3, [9.0, 9.0])])
    out = {r.vec_id: r.cluster for r in
           C.kmeans_assign(df, k=2, iters=2).collect()}
    assert out == {0: 0, 2: 0, 1: 1, 3: 1}


def test_kmeans_tie_breaks_to_lowest_centroid_id(spark):
    df = _emb(spark, [(0, [0.0, 0.0]), (1, [2.0, 2.0]), (2, [1.0, 1.0])])
    out = {r.vec_id: r.cluster for r in
           C.kmeans_assign(df, k=2, iters=1).collect()}
    assert out[2] == 0  # equidistant to centroids 0 and 1 -> lowest cid


def test_kmeans_exact_one_dim_trajectory(spark):
    # init c0=0, c1=10: assign {0,2,3}->0 (mean 0.5), {1,4}->1 (mean 7.7)
    # round 2 distances: 5.4 -> |5.4-0.5|=4.9 vs |5.4-7.7|=2.3 -> stays 1
    df = _emb(spark, [(0, [0.0]), (1, [10.0]), (2, [0.5]),
                      (3, [1.0]), (4, [5.4])])
    out = {r.vec_id: r.cluster for r in
           C.kmeans_assign(df, k=2, iters=2).collect()}
    assert out == {0: 0, 2: 0, 3: 0, 1: 1, 4: 1}


def test_semdedup_within_cluster_first_seen_wins(spark):
    # k=2, iters=1: clusters pinned to the init centroids (vecs 0, 1).
    # 0,2,5 land in cluster 0 and are pairwise cosine-1.0 colinear ->
    # only the lowest id (0) survives; 3 duplicates 1 in cluster 1;
    # 4 is in cluster 1 but under the threshold -> kept.
    df = _emb(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [2.0, 0.0]),
                      (3, [0.0, 3.0]), (4, [-1.0, 0.2]), (5, [3.0, 0.0])])
    out = {r.vec_id: (r.cluster, r.kept) for r in
           C.semdedup(df, k=2, iters=1, eps=0.9).collect()}
    assert out == {0: (0, True), 2: (0, False), 5: (0, False),
                   1: (1, True), 3: (1, False), 4: (1, True)}


def test_semdedup_cross_cluster_near_dup_not_dropped(spark):
    # Cluster gating's documented recall tradeoff: 0 and 1 are cosine
    # ~0.9988 near-dups but seed different clusters, so both are kept.
    df = _emb(spark, [(0, [1.0, 0.0]), (1, [10.0, 0.5])])
    out = {r.vec_id: r.kept for r in
           C.semdedup(df, k=2, iters=1, eps=0.9).collect()}
    assert out == {0: True, 1: True}


def test_ann_ivf_probe_gating_recall(spark):
    # k=2, iters=1: clusters = the init centroids (vecs 0, 1).  Query =
    # vec 0's own embedding.  Vec 2 shares the query's cluster; vec 4 is
    # cosine-near the query (0.6644) but L2-assigns to cluster 1 — the
    # canonical IVF miss: invisible at nprobe=1, recovered at nprobe=2.
    df = _emb(spark, [(0, [10.0, 0.0]), (1, [0.0, 10.0]), (2, [9.0, 0.0]),
                      (3, [0.0, 9.0]), (4, [8.0, 9.0])])
    one = [(r.vec_id, r.sim) for r in
           C.ann_ivf(df, [10.0, 0.0], topk=10, k=2, iters=1,
                     nprobe=1, exclude_id=0).collect()]
    assert one == [(2, 1.0)]
    two = [(r.vec_id, r.sim) for r in
           C.ann_ivf(df, [10.0, 0.0], topk=10, k=2, iters=1,
                     nprobe=2, exclude_id=0).collect()]
    assert two == [(2, 1.0), (4, 0.6644), (1, 0.0), (3, 0.0)]


def test_kmeans_fit_returns_final_assignment_centroids(spark):
    # iters=1: the returned centroid set is the init vectors verbatim
    # (the set the one-and-only assignment ran against).
    df = _emb(spark, [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [1.0, 1.0])])
    _, cents = C.kmeans_fit(df, k=2, iters=1)
    got = {r.cid: r.cvec for r in cents.collect()}
    assert got == {0: [0.0, 0.0], 1: [10.0, 10.0]}


def test_pq_codes_hand_fixture(spark):
    # dim-4 vectors, m=2 subspaces, k=2, iters=1: codebook = subvectors
    # of vecs 0/1.  Vec 2 is near vec 0's sub0 and vec 0's sub1 word.
    df = _emb(spark, [(0, [0.0, 0.0, 10.0, 10.0]),
                      (1, [10.0, 10.0, 0.0, 0.0]),
                      (2, [1.0, 0.0, 9.0, 10.0])])
    out = {r.vec_id: r for r in
           C.pq_codes(df, m=2, k=2, iters=1).collect()}
    assert out[0].codes == [0, 0] and out[0].recon_err == 0.0
    assert out[1].codes == [1, 1] and out[1].recon_err == 0.0
    # vec 2: sub0 [1,0] -> word 0 (d=1), sub1 [9,10] -> word 0 (d=1)
    assert out[2].codes == [0, 0] and out[2].recon_err == 2.0


def test_pq_codes_m1_equals_kmeans(spark):
    # a single subspace degenerates PQ to plain k-means: the one code
    # equals the kmeans_assign cluster for every vector (same pinned
    # trajectory, same tie-breaks)
    vecs = [(i, [float((i * 7) % 11), float((i * 3) % 5)])
            for i in range(12)]
    df = _emb(spark, vecs)
    pq = {r.vec_id: r.codes[0]
          for r in C.pq_codes(df, m=1, k=3, iters=2).collect()}
    km = {r.vec_id: r.cluster
          for r in C.kmeans_assign(df, k=3, iters=2).collect()}
    assert pq == km


def test_pq_adc_exact_on_codebook_members(spark):
    # when every vector IS a codeword (k >= n, iters=1), ADC distance
    # equals the true squared L2 distance — the approximation error is
    # exactly the quantization error, zero here
    df = _emb(spark, [(0, [0.0, 0.0, 0.0, 0.0]),
                      (1, [3.0, 4.0, 0.0, 0.0]),
                      (2, [0.0, 0.0, 6.0, 8.0])])
    out = [(r.vec_id, r.adist) for r in
           C.pq_adc_topk(df, [0.0, 0.0, 0.0, 0.0], topk=5, m=2, k=3,
                         iters=1, exclude_id=0).collect()]
    assert out == [(1, 25.0), (2, 100.0)]


def test_pq_adc_is_sum_of_subspace_tables(spark):
    # a vector quantized to (codeword of v1's first half, codeword of
    # v2's second half) scores the SUM of the two table entries — the
    # defining ADC decomposition
    df = _emb(spark, [(0, [0.0, 0.0, 0.0, 0.0]),
                      (1, [3.0, 4.0, 0.0, 0.0]),
                      (2, [0.0, 0.0, 6.0, 8.0]),
                      (3, [3.0, 4.0, 6.0, 8.0])])  # halves of 1 and 2
    out = {r.vec_id: r.adist for r in
           C.pq_adc_topk(df, [0.0, 0.0, 0.0, 0.0], topk=5, m=2, k=3,
                         iters=1, exclude_id=0).collect()}
    assert out[3] == out[1] + out[2] == 125.0


def test_semdedup_vectorized_equals_relational_corpus(spark):
    # the numpy pair pass must reproduce the relational pair join
    # (tests/spec_forms.py) decision by decision on the real
    # embeddings corpus
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rel = {r.vec_id: (r.cluster, r.kept)
           for r in SF.semdedup(emb).collect()}
    vec = {r.vec_id: (r.cluster, r.kept)
           for r in C.semdedup(emb).collect()}
    assert rel == vec and any(not k for _, k in rel.values())


def test_semdedup_vectorized_row_blocking(spark, monkeypatch):
    # force block=2 so a 6-row cluster spans 3 blocks: decisions must
    # be identical to the unblocked relational form (rows only ever
    # compare against LOWER-id rows, never within-block state)
    monkeypatch.setattr(C, "_SEMDEDUP_BLOCK", 2)
    df = _emb(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [2.0, 0.0]),
                      (3, [0.0, 3.0]), (4, [-1.0, 0.2]), (5, [3.0, 0.0])])
    out = {r.vec_id: (r.cluster, r.kept) for r in
           C.semdedup(df, k=2, iters=1, eps=0.9).collect()}
    assert out == {0: (0, True), 2: (0, False), 5: (0, False),
                   1: (1, True), 3: (1, False), 4: (1, True)}


def test_semdedup_zero_vector_behavior(spark):
    # an all-zero vector makes cosine 0/0: the relational spec form
    # RAISES under Spark's default ANSI mode (DIVIDE_BY_ZERO), so it
    # defines no decision there; the numpy pass stays total —
    # NaN follows Spark's NaN-largest ordering (counts as a duplicate
    # hit), so EVERY higher-id row compared against a zero vector is
    # dropped (1 vs 0 and 2 vs 0 are both NaN)
    import pytest

    df = _emb(spark, [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0])])
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        SF.semdedup(df, k=1, iters=1, eps=0.9).collect()
    vec = {r.vec_id: r.kept
           for r in C.semdedup(df, k=1, iters=1, eps=0.9).collect()}
    assert vec == {0: True, 1: False, 2: False}
