"""Unit tests for the relational operator library and text functions."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pink_spider_spark.functions import text as X
from pink_spider_spark.operators import relational as R
from tests import spec_forms as SF
from tests.spark_fixtures import spark_vs_oracle


@pytest.fixture(scope="module")
def people(spark):
    rows = [Row(k=i % 3, v=i, name=f"item{i}") for i in range(30)]
    return spark.createDataFrame(rows)


def test_paginate_stable_pages(spark, people):
    p0 = R.paginate(people, [F.desc("v")], page=0, per_page=10).collect()
    p1 = R.paginate(people, [F.desc("v")], page=1, per_page=10).collect()
    assert [r.v for r in p0] == list(range(29, 19, -1))
    assert [r.v for r in p1] == list(range(19, 9, -1))
    assert [r.page_index for r in p0] == list(range(1, 11))


def test_topk_per_key(spark, people):
    top2 = R.topk_per_key(people, ["k"], [F.desc("v")], 2).collect()
    got = {}
    for r in top2:
        got.setdefault(r.k, []).append(r.v)
    assert got == {0: [27, 24], 1: [28, 25], 2: [29, 26]}


def test_latest_per_key(spark, people):
    latest = R.latest_per_key(people, ["k"], [F.desc("v")]).collect()
    assert {r.k: r.v for r in latest} == {0: 27, 1: 28, 2: 29}


def test_find_or_create_keeps_existing(spark):
    existing = spark.createDataFrame([Row(pk="a", val=1), Row(pk="b", val=2)])
    incoming = spark.createDataFrame(
        [Row(pk="b", val=99), Row(pk="c", val=3), Row(pk="c", val=4)])
    merged = R.find_or_create(existing, incoming, ["pk"]).collect()
    by_key = {r.pk: r.val for r in merged}
    assert by_key["a"] == 1 and by_key["b"] == 2  # existing untouched
    assert by_key["c"] in (3, 4) and len(merged) == 3


def test_contains_filter_case_insensitive(spark, people):
    hits = R.contains_filter(people, "name", "ITEM2").collect()
    assert {r.name for r in hits} == {f"item{i}" for i in
                                      [2] + list(range(20, 30))}


def test_token_count_and_quality(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="the quick brown fox."),
                                Row(doc_id=2, text="a")])
    out = {r.doc_id: r for r in df.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n"),
        X.quality_score(F.col("text")).alias("q"),
        X.langid(F.col("text")).alias("lang"),
        X.fingerprint(F.col("text")).alias("fp"),
    ).collect()}
    assert out[1].n == 4 and out[2].n == 1
    assert 0.0 <= out[1].q <= 1.0
    assert out[1].lang == "en"
    import hashlib
    assert out[1].fp == hashlib.md5(b"the quick brown fox.").hexdigest()


def test_simhash_similar_docs_close(spark):
    a = "music discovery playlist curation weekly reviews melody rhythm"
    b = "music discovery playlist curation weekly reviews melody texture"
    c = "completely different words about sports cars and cooking recipes"
    df = spark.createDataFrame([Row(doc_id=1, text=a), Row(doc_id=2, text=b),
                                Row(doc_id=3, text=c)])
    sh = {r.doc_id: r.simhash for r in X.simhash(df).collect()}

    def hamming(x, y):
        return bin(x ^ y).count("1")

    assert hamming(sh[1], sh[2]) < hamming(sh[1], sh[3])


def test_minhash_lsh_finds_near_duplicates(spark):
    base = ("music discovery keeps shaping how listeners find brand new "
            "songs and artists every week across blogs and playlists")
    near = base + " today"
    far = "totally unrelated content about quantum chemistry simulations"
    df = spark.createDataFrame([
        Row(doc_id=1, text=base), Row(doc_id=2, text=near),
        Row(doc_id=3, text=far)])
    pairs = {(r.id_a, r.id_b) for r in X.minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="abcdefghij"),
                                Row(doc_id=2, text="abcdefghij"),
                                Row(doc_id=3, text="zzzzzzzzzz")])
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in X.ngram_jaccard_pairs(df, threshold=0.9).collect()}
    assert pairs == {(1, 2): 1.0}


def test_ngram_jaccard_prefix_equals_exact(spark):
    """Prefix-filtered (PPJoin) Jaccard must return EXACTLY the naive
    self-join's pairs — prefix filtering is lossless for J >= t."""
    rows = [Row(doc_id=1, text="abcdefghij"),
            Row(doc_id=2, text="abcdefghij"),
            Row(doc_id=3, text="zzzzzzzzzz"),
            Row(doc_id=4, text="abcdefghij KLMNOP"),
            Row(doc_id=5, text="the a the a the a common hot shingle"),
            Row(doc_id=6, text="the a the a the a common hot shingle"),
            Row(doc_id=7, text="the a unrelated tail of words here")]
    df = spark.createDataFrame(rows)
    for t in (0.3, 0.5, 0.9):
        exact = {(r.id_a, r.id_b): r.jaccard
                 for r in X.ngram_jaccard_pairs(df, threshold=t).collect()}
        pref = {(r.id_a, r.id_b): r.jaccard
                for r in X.ngram_jaccard_pairs_prefix(
                    df, threshold=t).collect()}
        assert pref == exact, f"threshold {t}: {pref} != {exact}"


def test_simhash_vectorized_bit_equal(spark):
    """The numpy mapInPandas SimHash must be bit-identical to the
    relational (explode) definition on real corpus text."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rel = {r.doc_id: r.simhash for r in SF.simhash(docs).collect()}
    vec = {r.doc_id: r.simhash for r in X.simhash(docs).collect()}
    assert rel == vec
    assert len(vec) > 0


def test_near_dup_lsh_subset_of_exact(spark):
    """LSH-bucketed near-dup pairs must be a subset of the exact all-pairs
    result (same threshold), with non-trivial recall on the test corpus."""
    from pink_spider_spark.functions import similarity as S
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lsh = {(r.id_a, r.id_b) for r in S.near_dup_pairs_lsh(emb).collect()}
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    exact = {(r.id_a, r.id_b) for r in (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("s", S.cosine(F.col("ea"), F.col("eb")))
        .filter(F.col("s") >= 0.3).select("id_a", "id_b").collect())}
    assert lsh <= exact
    assert len(lsh) > 0


def test_paginate_routes_agree(spark):
    """Window route and windowless offset route must return identical
    pages (rows AND page_index)."""
    from pink_spider_spark.operators import relational as R
    from pyspark.sql import functions as F

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    order_by = [F.desc("o_orderdate"), F.asc("o_orderkey")]
    for page in (0, 2, 7):
        a = R.paginate(orders, order_by, page, 25, window_threshold=None)
        b = R.paginate(orders, order_by, page, 25, window_threshold=0)
        ra = [(r.o_orderkey, r.page_index) for r in
              a.select("o_orderkey", "page_index").collect()]
        rb = [(r.o_orderkey, r.page_index) for r in
              b.orderBy("page_index").select("o_orderkey", "page_index").collect()]
        assert ra == rb and len(ra) == 25


def test_asof_join_hand_rows(spark):
    """Match/tie/no-match semantics of the as-of join."""
    from pink_spider_spark.operators import relational as R

    left = spark.createDataFrame(
        [(1, "u1", 100), (2, "u1", 205), (3, "u2", 50), (4, "u3", 10)],
        ["event_id", "user_id", "ts"])
    right = spark.createDataFrame(
        [("u1", 90, 1.0), ("u1", 200, 2.0), ("u1", 300, 3.0),
         ("u2", 50, 9.0)],                    # tie: right at exactly l.ts
        ["user_id", "ts", "value"])
    out = {r.event_id: r for r in
           R.asof_join(left, right, ["user_id"],
                       payload_cols=["value"]).collect()}
    assert (out[1].ts_asof, out[1].value_asof) == (90, 1.0)   # skips future
    assert (out[2].ts_asof, out[2].value_asof) == (200, 2.0)  # most recent
    assert (out[3].ts_asof, out[3].value_asof) == (50, 9.0)   # tie matches
    assert out[4].ts_asof is None and out[4].value_asof is None  # no match
    assert len(out) == 4  # every left row survives


def test_asof_join_single_shuffle_no_range_join(spark):
    from pink_spider_spark.operators import relational as R

    left = spark.createDataFrame([(1, "u1", 100)], ["event_id", "user_id", "ts"])
    right = spark.createDataFrame([("u1", 90, 1.0)], ["user_id", "ts", "value"])
    plan = (R.asof_join(left, right, ["user_id"], payload_cols=["value"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_bucketed_boundaries_and_spans(spark):
    from pink_spider_spark.operators import relational as R

    # interval A [10, 20) sits inside one bucket; B [95, 115) spans two
    points = spark.createDataFrame(
        [(1, 10.0), (2, 19.9), (3, 20.0), (4, 100.0), (5, 114.9),
         (6, 115.0), (7, 50.0)], ["pid", "pt"])
    intervals = spark.createDataFrame(
        [("A", 10.0, 20.0), ("B", 95.0, 115.0)], ["iid", "s", "e"])
    hits = {(r.pid, r.iid) for r in
            R.range_join_bucketed(points, intervals, "pt", "s", "e",
                                  bucket_width=100.0).collect()}
    assert hits == {(1, "A"), (2, "A"), (4, "B"), (5, "B")}
    # start inclusive (pid 1), end exclusive (pids 3 and 6), miss (7)


def test_range_join_matches_naive_predicate_join(spark):
    import random

    from pyspark.sql import functions as F

    from pink_spider_spark.operators import relational as R

    rng = random.Random(7)
    points = spark.createDataFrame(
        [(i, rng.uniform(0, 1000)) for i in range(300)], ["pid", "pt"])
    ivs = []
    for j in range(40):
        s = rng.uniform(0, 950)
        ivs.append((j, s, s + rng.uniform(0, 50)))
    intervals = spark.createDataFrame(ivs, ["iid", "s", "e"])
    fast = {(r.pid, r.iid) for r in
            R.range_join_bucketed(points, intervals, "pt", "s", "e",
                                  bucket_width=50.0).collect()}
    naive = {(r.pid, r.iid) for r in
             points.join(intervals, (F.col("pt") >= F.col("s"))
                         & (F.col("pt") < F.col("e"))).collect()}
    assert fast == naive and len(fast) > 0


def test_percentile_approx_bounded_error_low_accuracy(spark):
    # the genuinely-approximate regime (accuracy << n): GK guarantees
    # rank error <= n/accuracy, so with n=2000, accuracy=100 the
    # returned data value's rank is within 20 of the target rank
    import pyspark.sql.functions as SF
    n, acc = 2000, 100
    df = spark.range(n).select((SF.col("id") * 1.0).alias("v"))
    for p in (0.5, 0.9, 0.99):
        got = df.agg(SF.percentile_approx("v", SF.lit(p), SF.lit(acc))
                     .alias("q")).collect()[0].q
        exact = df.agg(SF.percentile("v", SF.lit(p)).alias("q")
                       ).collect()[0].q
        assert abs(got - exact) <= n / acc + 1, (p, got, exact)


def test_asof_join_duplicate_right_ts_deterministic(spark):
    # two right rows at the identical (key, ts): the window tie-break on
    # __p must make the pick deterministic (max payload struct wins)
    left = spark.createDataFrame([(1, 10)], ["k", "ts"])
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 5, "b")], ["k", "ts", "val"])
    outs = {
        R.asof_join(left, right, ["k"]).collect()[0].val_asof
        for _ in range(5)}
    assert outs == {"b"}


def test_banded_lsh_recall_vs_exact(spark):
    # banded pairs ⊆ exact pairs (rerank is exact) and recall >= 0.9 at
    # threshold 0.3 on the sandbox corpus — the VERDICT r2 item-4 gate
    from pink_spider_spark.functions import similarity as S
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("eb"))
    exact = {(r.id_a, r.id_b) for r in
             a.join(b, F.col("id_a") < F.col("id_b"))
             .filter(S.cosine(F.col("ea"), F.col("eb")) >= 0.3)
             .select("id_a", "id_b").collect()}
    banded = {(r.id_a, r.id_b) for r in
              S.near_dup_pairs_lsh_banded(emb).select("id_a", "id_b")
              .collect()}
    assert banded <= exact
    assert len(banded) / len(exact) >= 0.9, (len(banded), len(exact))
    # and it strictly dominates the single-bucket variant's recall
    single = {(r.id_a, r.id_b) for r in
              S.near_dup_pairs_lsh(emb).select("id_a", "id_b").collect()}
    assert len(banded) > len(single)


def test_ann_multiprobe_recall_dominates_single_probe(spark):
    """Planted-near-dup corpus: 8 perturbed copies of the query vector
    (cosine ~0.96) among 90 unrelated vectors.  With the deterministic
    planes, 5 copies share the query's exact bucket, 2 sit at Hamming
    distance 1, 1 at distance 2 — so single-probe ANN recalls 5/8 and
    radius-1 multi-probe recalls 7/8.  (The driver's embeddings table is
    a noise-regime corpus — max pairwise cosine ~0.48 — where absolute
    LSH recall is structurally low for any probe count; the planted
    corpus is the semantics check.)"""
    import hashlib
    from pink_spider_spark.functions import similarity as S

    def hvec(tag, dim=64):
        return [(int(hashlib.md5(f"{tag}-{d}".encode()).hexdigest()[:8],
                     16) % 2000) / 1000.0 - 1.0 for d in range(dim)]

    q = hvec("base-0")
    rows = []
    for j in range(1, 9):
        p = hvec(f"dup-{j}")
        rows.append((j, [a + 0.25 * b for a, b in zip(q, p)]))
    rows += [(10 + i, hvec(f"base-{1 + i}")) for i in range(90)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id: long, embedding: array<float>")

    exact = {r.vec_id for r in S.knn_brute_force(df, q, k=8).collect()}
    assert exact == set(range(1, 9))  # the planted dups ARE the top-8
    single = {r.vec_id for r in S.ann_topk(df, q, k=8).collect()}
    multi = {r.vec_id for r in S.ann_topk_multiprobe(df, q, k=8).collect()}
    # (single ⊄ multi as SETS: single's k=8 pads with low-sim bucket
    # fillers that multi's better candidates push out — recall is the
    # contract, not set containment)
    assert len(single & exact) == 5   # the 5 Hamming-0 planted dups
    assert len(multi & exact) == 7    # + the 2 at Hamming 1; H=2 missed
    assert len(multi & exact) >= len(single & exact)


def test_banded_lsh_signatures_vectorized_bit_equal(spark):
    # the numpy mapInPandas path must reproduce the relational spec's
    # buckets bit-for-bit (same sequential-fold rounding chain per
    # dimension), including sign decisions on near-zero dots
    from pink_spider_spark.functions import similarity as S

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rel = {(r.vec_id, r.band): r.bucket
           for r in SF.banded_lsh_signatures(df, 16, 4).collect()}
    vec = {(r.vec_id, r.band): r.bucket
           for r in S.banded_lsh_signatures(df, 16, 4).collect()}
    assert rel == vec and len(rel) > 0


def test_simhash_near_pairs_exact_recall_vs_brute_force(spark):
    """The Manku block-join candidate generation is EXACT for
    Hamming <= 3 (pigeonhole over 4 blocks): its output must equal the
    brute-force all-pairs Hamming filter over real corpus text."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = {r.doc_id: r.simhash
          for r in X.simhash(docs).collect()}
    ids = sorted(sh)
    brute = {(a, b): bin(sh[a] ^ sh[b]).count("1")
             for i, a in enumerate(ids) for b in ids[i + 1:]
             if bin(sh[a] ^ sh[b]).count("1") <= 3}
    got = {(r.id_a, r.id_b): r.hamming
           for r in X.simhash_near_pairs(docs).collect()}
    assert got == brute
    assert len(got) > 0          # the corpus actually has near-dups


def test_simhash_near_pairs_identical_docs_hamming_zero(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta"),
         Row(doc_id=2, text="alpha beta gamma delta"),
         Row(doc_id=3, text="unrelated cooking words entirely")])
    got = {(r.id_a, r.id_b): r.hamming
           for r in X.simhash_near_pairs(df).collect()}
    assert got.get((1, 2)) == 0
    assert all(a < b for a, b in got)          # canonical pair order


def test_simhash_near_pairs_multi_block_match_emitted_once(spark):
    # identical docs share ALL 4 blocks — the pair must still appear
    # exactly once (distinct before the Hamming verify)
    df = spark.createDataFrame(
        [Row(doc_id=1, text="x y z"), Row(doc_id=2, text="x y z")])
    rows = X.simhash_near_pairs(df).collect()
    assert len(rows) == 1 and rows[0].hamming == 0


def test_containment_detects_quote_that_jaccard_misses(spark):
    # B contains A wholesale but is much longer: containment(A,B) = 1.0
    # while J(A,B) is far below threshold — the asymmetric case
    a = "the quick brown fox jumps over the lazy dog"
    b = a + " " + "totally different continuation text " * 8
    df = spark.createDataFrame([Row(doc_id=1, text=a), Row(doc_id=2, text=b)])
    got = {(r.contained_id, r.container_id): r.containment
           for r in X.containment_pairs(df, k=5, threshold=0.9).collect()}
    assert got == {(1, 2): 1.0}        # directed: only A-in-B, not B-in-A
    jac = X.ngram_jaccard_pairs(df, k=5, threshold=0.9).collect()
    assert jac == []                   # symmetric jaccard misses it


def test_containment_prefix_filter_is_lossless(spark):
    """Prefix-filtered containment must equal the naive all-ordered-pairs
    brute force on real corpus text (exact recall of the prefix probe)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = {r.doc_id: set() for r in docs.collect()}
    for r in docs.collect():
        t = r.text
        sh[r.doc_id] = {t[i:i + 12] for i in range(len(t) - 11)}
    brute = {}
    for a, sa in sh.items():
        for b, sb in sh.items():
            if a != b and sa:
                c = round(len(sa & sb) / len(sa), 4)
                if c >= 0.8:
                    brute[(a, b)] = c
    got = {(r.contained_id, r.container_id): r.containment
           for r in X.containment_pairs(docs, k=12,
                                        threshold=0.8).collect()}
    assert got == brute and len(got) > 0


def test_containment_hot_shingle_salting_is_invisible(spark):
    """Planted hot-shingle corpus (VERDICT r4 'watch'): every doc
    shares one boilerplate sentence, so its shingles' posting lists
    span the whole corpus.  With hot_posting_cap forced below the
    posting length the salted join MUST split those lists (nsplit > 1)
    yet return exactly the same pairs as the unsalted run — salting
    may only change partitioning, never the candidate set."""
    boiler = "all rights reserved contact us for more information here"
    docs = [Row(doc_id=i, text=f"unique body {i} {i*7%13} " * 3 + boiler)
            for i in range(40)]
    # one true containment pair: doc 100 wholesale inside doc 101
    a = "the quick brown fox jumps over the lazy dog " + boiler
    docs += [Row(doc_id=100, text=a),
             Row(doc_id=101, text=a + " plus a much longer tail " * 6)]
    df = spark.createDataFrame(docs)
    kw = dict(k=12, threshold=0.8)
    salted = {(r.contained_id, r.container_id): r.containment
              for r in X.containment_pairs(
                  df, hot_posting_cap=4, **kw).collect()}
    plain = {(r.contained_id, r.container_id): r.containment
             for r in X.containment_pairs(
                 df, hot_posting_cap=1 << 30, **kw).collect()}
    assert salted == plain
    assert (100, 101) in salted and salted[(100, 101)] == 1.0
    # and the cap really engaged: boilerplate shingles have df=42 > 4
    from pink_spider_spark.functions.text import shingles
    hot_df = (shingles(df, "text", "doc_id", 12)
              .groupBy("shingle").count()
              .agg(F.max("count")).first()[0])
    assert hot_df > 4


def test_containment_extended_prefix_count_filter_is_lossless(spark):
    # prefix_ext=0 degenerates to the minimal prefix (m >= 1); any
    # larger extension must return the identical pair set (exact
    # recall of the count filter) on real corpus text
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = {(r.contained_id, r.container_id): r.containment
            for r in X.containment_pairs(
                docs, k=12, threshold=0.8, prefix_ext=0.0).collect()}
    ext = {(r.contained_id, r.container_id): r.containment
           for r in X.containment_pairs(
               docs, k=12, threshold=0.8, prefix_ext=2.0).collect()}
    assert base == ext and len(base) > 0


# ------------------------------------------------ JL random projection
def _jl_twin(vec, out_dim=16, in_dim=64):
    import hashlib
    out = []
    for j in range(out_dim):
        y6 = 0
        for i, x in enumerate(vec):
            h = int(hashlib.md5(f"jl-{j}-{i}".encode())
                    .hexdigest()[:15], 16)
            sgn = 1 if h % 2 == 0 else -1
            # replicate float->double widening + HALF_UP integerization
            from decimal import Decimal, ROUND_HALF_UP
            x6 = int(Decimal(float(x) * 1e6)
                     .quantize(Decimal(1), rounding=ROUND_HALF_UP))
            y6 += sgn * x6
        out.append((j, y6))
    return dict(out)


def test_jl_matches_python_twin(spark):
    from pink_spider_spark.functions import similarity as S
    vec = [((i * 37) % 100 - 50) / 40.0 for i in range(64)]
    df = spark.createDataFrame(
        [(0, [float(v) for v in vec])],
        "vec_id long, embedding array<float>")
    got = {r["j"]: r["y6"] for r in S.jl_project(df).collect()}
    want = _jl_twin([__import__("struct").unpack(
        "f", __import__("struct").pack("f", v))[0] for v in vec])
    assert got == want
    rows = S.jl_project(df).collect()
    for r in rows:
        assert r["y"] == r["y6"] / 4e6


def test_jl_preserves_pairwise_distances(spark):
    """JL property: squared distances preserved within the d'=16
    epsilon band (loose) on deterministic pseudo-random vectors."""
    import hashlib
    import math

    def vec(s):
        out = []
        for i in range(64):
            h = int(hashlib.md5(f"v{s}-{i}".encode()).hexdigest()[:8], 16)
            out.append((h % 2000) / 1000.0 - 1.0)
        return out

    from pink_spider_spark.functions import similarity as S
    vecs = {s: vec(s) for s in range(12)}
    df = spark.createDataFrame(
        [(s, [float(x) for x in v]) for s, v in vecs.items()],
        "vec_id long, embedding array<float>")
    proj = {}
    for r in S.jl_project(df).collect():
        proj.setdefault(r["vec_id"], {})[r["j"]] = r["y"]
    ratios = []
    for a in range(12):
        for b in range(a + 1, 12):
            d_orig = math.dist(vecs[a], vecs[b])
            d_proj = math.dist([proj[a][j] for j in range(16)],
                               [proj[b][j] for j in range(16)])
            ratios.append(d_proj / d_orig)
    med = sorted(ratios)[len(ratios) // 2]
    assert 0.6 < med < 1.4, med           # centered near 1
    assert all(0.3 < r < 1.9 for r in ratios), ratios


def test_jl_out_dim_must_be_square(spark):
    from pink_spider_spark.functions import similarity as S
    with pytest.raises(ValueError):
        S.jl_project(None, out_dim=12)


# ---------------------------------------------------------- z-order layout
def test_zorder_code_hand_values(spark):
    df = spark.createDataFrame([(5, 3), (0, 0), (7, 7), (1, 0), (0, 1)],
                               ["x", "y"])
    got = {(r["x"], r["y"]): r["code"] for r in df.select(
        "x", "y", R.zorder_code(F.col("x"), F.col("y"), bits=3)
        .alias("code")).collect()}
    # morton(5,3): x bits -> even positions, y bits -> odd = 0b011011
    assert got == {(5, 3): 27, (0, 0): 0, (7, 7): 63, (1, 0): 1,
                   (0, 1): 2}


def test_zorder_files_bound_both_dimensions(spark):
    # dense 64x64 grid, shift 10: within a file only the low 10
    # interleaved bits vary -> both dim spans <= 31
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, ["x", "y"])
    stats = R.zorder_file_stats(df, F.col("x"), F.col("y"),
                                bits=6, file_shift=10).collect()
    assert len(stats) == 4   # 12-bit codes, 4 files of 1024 cells
    for r in stats:
        assert r["max_x"] - r["min_x"] <= 31, r
        assert r["max_y"] - r["min_y"] <= 31, r
        assert r["n_rows"] == 1024
    # a single-column sort into equal files CANNOT bound the other dim:
    # sorting by x leaves full 0-63 y spans
    assert all(r["max_y"] - r["min_y"] == 63 for r in
               df.withColumn("file_id", F.floor(F.col("x") / 16))
               .groupBy("file_id")
               .agg(F.min("y").alias("min_y"), F.max("y").alias("max_y"))
               .collect())


# ------------------------------------------------------------- funnel
def test_funnel_strict_order_and_min_anchor(spark):
    import datetime as dt
    T = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        # u1 completes in order
        (1, T, "view"), (1, T + 2 * s, "click"), (1, T + 3 * s, "purchase"),
        # u2: click BEFORE view -> never reaches click stage
        (2, T, "click"), (2, T + s, "view"),
        # u3: view then purchase but no click -> stops at view
        (3, T, "view"), (3, T + s, "purchase"),
        # u4: two views; the EARLIEST anchors, so the click after the
        # first view counts even though it precedes the second view
        (4, T, "view"), (4, T + 5 * s, "view"), (4, T + 2 * s, "click"),
    ]
    ev = spark.createDataFrame(
        [(u, t, ty) for u, t, ty in rows], ["user_id", "ts", "event_type"])
    out = {r.stage: r for r in
           R.funnel(ev, ["view", "click", "purchase"]).collect()}
    assert out["view"].users == 4
    assert out["click"].users == 2           # u1 and u4
    assert out["purchase"].users == 1        # u1
    assert out["view"].conversion == 1.0
    assert out["purchase"].conversion == 0.25


def test_funnel_equal_timestamp_not_counted(spark):
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    ev = spark.createDataFrame(
        [(1, T, "view"), (1, T, "click")], ["user_id", "ts", "event_type"])
    out = {r.stage: r.users for r in R.funnel(ev, ["view", "click"]).collect()}
    assert out == {"view": 1, "click": 0}  # strictly-after contract


# -------------------------------------------------------- retention
def test_retention_cohort_day_windows(spark):
    import datetime as dt
    D = dt.datetime(2024, 1, 1, 12)
    day = dt.timedelta(days=1)
    ev = spark.createDataFrame(
        [(1, D), (1, D + 6 * day),          # u1: week 0 twice
         (1, D + 7 * day),                   # u1: week 1 (day 7 -> 7//7)
         (2, D), (2, D + 20 * day),          # u2: week 0 and week 2
         (3, D + day)],                      # u3: its own cohort, week 0
        ["user_id", "ts"])
    out = {(str(r.cohort_date), r.week_offset): r for r in
           R.retention_cohorts(ev).collect()}
    assert out[("2024-01-01", 0)].users == 2
    assert out[("2024-01-01", 1)].users == 1
    assert out[("2024-01-01", 2)].users == 1
    assert out[("2024-01-02", 0)].users == 1
    assert out[("2024-01-01", 1)].retention == 0.5
    assert out[("2024-01-01", 0)].retention == 1.0


# ------------------------------------------------------- fuzzy pairs
def test_fuzzy_pairs_blocking_and_verification(spark):
    df = spark.createDataFrame(
        [("cold anvil",), ("old anvil",), ("cold bolt",),
         ("green anvil",), ("zzz qqq",)], ["p_name"])
    out = {(r.name_a, r.name_b): r.dist for r in
           X.fuzzy_pairs(df, "p_name", max_dist=2).collect()}
    assert out[("cold anvil", "old anvil")] == 1
    # 'green anvil' shares the block token 'anvil' but dist > 2 -> out
    assert not any("green anvil" in p for p in out)
    # 'zzz qqq' shares no token with anything -> invisible (recall
    # contract of blocking)
    assert not any("zzz qqq" in p for p in out)


def test_fuzzy_pairs_messy_whitespace_no_empty_token_blocking(spark):
    # leading/trailing/double whitespace must not mint '' block tokens
    # that pair otherwise-unrelated names (ADVICE r4): these two share
    # no real token, only the '' a naive \s+ split would emit for both
    df = spark.createDataFrame(
        [(" alpha widget",), ("zebra  crate ",)], ["p_name"])
    assert X.fuzzy_pairs(df, "p_name", max_dist=2).count() == 0
    # and a true pair still matches when one side carries extra spaces
    # in an untouched token position
    df2 = spark.createDataFrame(
        [("cold anvil ",), ("old anvil ",)], ["p_name"])
    out = {(r.name_a, r.name_b): r.dist for r in
           X.fuzzy_pairs(df2, "p_name", max_dist=2).collect()}
    assert out[("cold anvil ", "old anvil ")] == 1


def test_fuzzy_pairs_length_filter_is_safe(spark):
    # length filter must never drop a true pair: dist<=2 implies
    # |len diff| <= 2
    df = spark.createDataFrame(
        [("red gear",), ("red gears",), ("red gearsxy",)], ["p_name"])
    out = {(r.name_a, r.name_b): r.dist for r in
           X.fuzzy_pairs(df, "p_name", max_dist=2).collect()}
    assert out[("red gear", "red gears")] == 1
    assert out[("red gears", "red gearsxy")] == 2  # len diff 2, kept


# ---------------------------------------------------------------- CUSUM
def test_cusum_matches_sequential_twin(spark):
    import datetime as dt
    T = dt.datetime(2024, 2, 1)
    hr = dt.timedelta(hours=1)
    # counts per hour: a level shift upward in the second half
    series = [3, 2, 3, 2, 3, 8, 9, 8, 9, 8]
    rows = []
    eid = 0
    for i, c in enumerate(series):
        for _ in range(c):
            rows.append(("t", T + i * hr + dt.timedelta(minutes=eid % 50)))
            eid += 1
    ev = spark.createDataFrame(rows, ["event_type", "ts"])
    r = R.cusum_anomaly(ev).collect()[0]
    # sequential twin (n-scaled)
    n, s = len(series), sum(series)
    st, mx, peak = 0, 0, None
    for i, c in enumerate(series):
        st = max(0, st + (n * c - s))
        if st > mx:
            mx, peak = st, T + i * hr
    assert r.n_hours == n
    assert r.peak_cusum == round(mx / n, 4)
    assert r.peak_hour == peak
    assert r.peak_hour == T + 9 * hr  # cusum peaks at the shift's end


def test_cusum_flat_series_is_zero(spark):
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    hr = dt.timedelta(hours=1)
    rows = [("t", T + i * hr) for i in range(6)]  # 1 event every hour
    r = R.cusum_anomaly(spark.createDataFrame(
        rows, ["event_type", "ts"])).collect()[0]
    assert r.peak_cusum == 0.0


def test_cusum_first_hour_positive_deviation_counts(spark):
    import datetime as dt
    # the S_1 = max(0, y_1) edge: a hot FIRST hour must register
    # (the empty-prefix 0 floor in the running min)
    T = dt.datetime(2024, 4, 1)
    hr = dt.timedelta(hours=1)
    rows = [("t", T + dt.timedelta(minutes=m)) for m in range(8)]
    rows += [("t", T + i * hr) for i in range(1, 5)]
    r = R.cusum_anomaly(spark.createDataFrame(
        rows, ["event_type", "ts"])).collect()[0]
    # series [8,1,1,1,1]: y_1 = 5*8-12 = 28 -> S_1 = 28, the max
    assert r.peak_hour == T and r.peak_cusum == round(28 / 5, 4)


# --------------------------------------------- Broder estimator audit
def test_minhash_estimate_identical_and_disjoint(spark):
    # identical docs: all 16 components agree, est = exact = 1.0
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the dog"),
         (2, "the quick brown fox jumps over the dog")],
        ["doc_id", "text"])
    r = X.minhash_estimate_pairs(df).collect()
    assert len(r) == 1 and r[0].agree_n == 16
    assert r[0].jaccard_est == 1.0 and r[0].jaccard_exact == 1.0


def test_minhash_estimate_tracks_exact_jaccard(spark):
    # near-dup pairs: the estimate must track exact jaccard within the
    # binomial std-err band (~ sqrt(J(1-J)/16) <= 0.125)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [(1, base), (2, base + " extra"), (3, base.replace("beta", "B")),
            (4, "totally different words entirely here now")]
    out = X.minhash_estimate_pairs(
        spark.createDataFrame(docs, ["doc_id", "text"])).collect()
    assert out  # the near-dups produce candidates
    for r in out:
        assert abs(r.jaccard_est - r.jaccard_exact) <= 3 * 0.125
        assert r.agree_n == round(r.jaccard_est * 16)


# --------------------------------------------------- Mann-Kendall trend
def test_mann_kendall_monotone_and_flat_series(spark):
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    hr = dt.timedelta(hours=1)
    rows = []
    # 'up': strictly increasing hourly counts 1..8 -> S = C(8,2) = 28,
    # no ties -> var18 = 8*7*21 = 1176, z = 27/sqrt(1176/18)
    for h in range(8):
        rows += [("up", T + h * hr)] * (h + 1)
    # 'flat': constant count 3 over 8 hours -> S = 0 and the tie
    # correction zeroes the variance entirely -> z = 0, trend none
    for h in range(8):
        rows += [("flat", T + h * hr)] * 3
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    out = {r.event_type: r for r in R.mann_kendall(df).collect()}
    assert out["up"].s_stat == 28 and out["up"].var18 == 1176
    import math
    assert out["up"].z == round(27 / math.sqrt(1176 / 18.0), 4)
    assert out["up"].trend == "increasing"
    assert out["flat"].s_stat == 0 and out["flat"].var18 == 0
    assert out["flat"].z == 0.0 and out["flat"].trend == "none"


def test_mann_kendall_matches_sequential_twin(spark):
    import datetime as dt
    import math
    T = dt.datetime(2024, 3, 1)
    hr = dt.timedelta(hours=1)
    # deterministic pseudo-random hourly counts with ties
    counts = [(i * 7) % 5 + 1 for i in range(12)]
    rows = []
    for h, c in enumerate(counts):
        rows += [("x", T + h * hr)] * c
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    (r,) = R.mann_kendall(df).collect()
    s = sum((cj > ci) - (cj < ci)
            for i, ci in enumerate(counts)
            for cj in counts[i + 1:])
    n = len(counts)
    from collections import Counter
    ties = sum(t * (t - 1) * (2 * t + 5)
               for t in Counter(counts).values())
    var18 = n * (n - 1) * (2 * n + 5) - ties
    z = 0.0 if s == 0 else (s - (1 if s > 0 else -1) * 1) / \
        math.sqrt(var18 / 18.0)
    assert r.s_stat == s and r.var18 == var18
    assert r.z == round(z, 4)


# ------------------------------------------------------------ load Gini
def test_load_gini_uniform_and_extreme(spark):
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    uniform = spark.createDataFrame(
        [(u, T) for u in range(10) for _ in range(4)], ["user_id", "ts"])
    (g,) = R.load_gini(uniform).collect()
    assert g.n_keys == 10 and g.total == 40
    assert g.gini == 0.0 and g.top_share == 0.1
    # one dominant entity: 91 of 100 events; exact rank-formula value
    skew = spark.createDataFrame(
        [(0, T)] * 91 + [(u, T) for u in range(1, 10)], ["user_id", "ts"])
    (g2,) = R.load_gini(skew).collect()
    xs = sorted([1] * 9 + [91])
    n, tot = len(xs), sum(xs)
    expect = round((2 * sum((i + 1) * x for i, x in enumerate(xs))
                    - (n + 1) * tot) / (n * tot), 6)
    assert g2.gini == expect and g2.top_share == 0.91


# --------------------------------------------------- two-proportion z
def test_ab_ztest_hand_values(spark):
    import datetime as dt
    import math
    T = dt.datetime(2024, 3, 1)
    # variant 0 (even ids): 10 users, 8 convert; variant 1: 10 users,
    # 2 convert -> p1=.8 p2=.2 pp=.5, se=sqrt(.25*.2), z=3/sqrt(.05)
    rows = []
    for u in range(20):
        rows.append((u, "view", T))
        conv = (u % 2 == 0 and u < 16) or (u % 2 == 1 and u < 4)
        if conv:
            rows.append((u, "purchase", T))
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    (r,) = R.ab_ztest(df).collect()
    assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (10, 8, 10, 2)
    assert r.rate_a == 0.8 and r.rate_b == 0.2
    assert r.z == round(0.6 / math.sqrt(0.5 * 0.5 * 0.2), 4)
    assert r.significant is True


def test_ab_ztest_no_difference_not_significant(spark):
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    rows = []
    for u in range(40):
        rows.append((u, "view", T))
        if u % 4 in (0, 1):  # 50% conversion in BOTH parities
            rows.append((u, "purchase", T))
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    (r,) = R.ab_ztest(df).collect()
    assert r.rate_a == r.rate_b == 0.5
    assert r.z == 0.0 and r.significant is False


def test_ab_ztest_negative_ids_match_oracle(spark, tmp_path):
    # odd negative ids: pmod gives 1 but DuckDB's % gives -1, which the
    # oracle's 2-variant combine dropped; abs(id % 2) buckets both alike
    got, want = spark_vs_oracle(
        spark, tmp_path, "events_ab_ztest",
        "SELECT u AS user_id, CASE WHEN u % 3 = 0 THEN 'purchase' "
        "ELSE 'view' END AS event_type, TIMESTAMP '2024-03-01' AS ts "
        "FROM range(-7, 7) t(u)")
    assert got == want
    assert got[0][0] + got[0][2] == 14  # n_a + n_b: every id bucketed


# ------------------------------------------------- association rules
def test_assoc_rules_hand_values(spark):
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    rows = []
    # 10 users: all 10 view; users 0-7 purchase; users 0-3 signup
    for u in range(10):
        rows.append((u, "view", T))
        if u < 8:
            rows.append((u, "purchase", T))
        if u < 4:
            rows.append((u, "signup", T))
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = {(r.ant, r.cons): r
           for r in R.assoc_rules(df, min_pair=1).collect()}
    r = out[("signup", "purchase")]
    # all 4 signup users purchased: confidence 1.0, lift 1/(8/10)=1.25
    assert r.n_ab == 4 and r.confidence == 1.0
    assert r.support == 0.4 and r.lift == 1.25
    r2 = out[("purchase", "signup")]
    assert r2.confidence == 0.5 and r2.lift == 1.25
    # view is universal: lift of anything -> view is exactly 1.0
    assert out[("purchase", "view")].lift == 1.0


# --------------------------------------------------- Markov transitions
def test_markov_transitions_hand_sequences(spark):
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    m = dt.timedelta(minutes=1)
    rows = []
    eid = 0
    # two users with the deterministic journey v->c->v->p
    for u in (1, 2):
        for i, t in enumerate(["view", "click", "view", "purchase"]):
            rows.append((eid, u, t, T + i * m))
            eid += 1
    df = spark.createDataFrame(rows,
                               ["event_id", "user_id", "event_type", "ts"])
    out = {(r.from_type, r.to_type): r for r in
           R.markov_transitions(df).collect()}
    # from view: ->click and ->purchase each once per user
    assert out[("view", "click")].n == 2
    assert out[("view", "purchase")].n == 2
    assert out[("view", "click")].p == 0.5
    assert out[("click", "view")].p == 1.0
    # purchase is terminal: no outgoing row
    assert not any(k[0] == "purchase" for k in out)


def test_markov_rows_sum_to_one(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rows = R.markov_transitions(ev).collect()
    from collections import defaultdict
    s = defaultdict(float)
    for r in rows:
        s[r.from_type] += r.p
    for ft, tot in s.items():
        assert abs(tot - 1.0) < 1e-4, (ft, tot)


# ---------------------------------------------------- Kaplan-Meier
def test_kaplan_meier_hand_curve(spark):
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    h = dt.timedelta(hours=1)
    rows = []
    # horizon anchor: user 99 active at the very end (censored, lt 0)
    rows += [(99, T + 200 * h), (99, T + 200 * h)]
    # uncensored lifetimes (hours): 10, 10, 20  (last events far from
    # horizon); user 50 censored with lifetime 15 (last event at end-12h)
    rows += [(1, T), (1, T + 10 * h)]
    rows += [(2, T), (2, T + 10 * h)]
    rows += [(3, T), (3, T + 20 * h)]
    rows += [(50, T + 173 * h), (50, T + 188 * h)]  # gap 12h -> censored
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {r.t_hours: r for r in R.kaplan_meier(df).collect()}
    # risk sets: t=10 -> users {1,2,3,50} at risk (lt >= 10) = 4, d=2
    # t=20 -> {3} (lt >= 20) = 1, d=1
    assert set(out) == {10, 20}
    assert out[10].n_risk == 4 and out[10].d == 2
    assert out[10].survival == 0.5
    assert out[20].n_risk == 1 and out[20].d == 1
    assert out[20].survival == 0.0


def test_kaplan_meier_censoring_changes_curve(spark):
    # the same lifetimes WITHOUT censoring give a different curve —
    # censored entities leave the risk set without a death event
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    h = dt.timedelta(hours=1)
    rows = [(99, T + 300 * h)]
    rows += [(1, T), (1, T + 10 * h)]
    rows += [(2, T), (2, T + 30 * h)]           # uncensored, lt 30
    rows += [(50, T + 250 * h), (50, T + 270 * h)]  # lt 20, censored
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {r.t_hours: r.survival for r in R.kaplan_meier(df).collect()}
    # at t=30 the censored lt-20 user has LEFT the risk set: n_risk=1
    # S(30) = S(10) * (1 - 1/1) = 0; S(10) = 1 - 1/3
    assert out[10] == round(1 - 1 / 3, 6) and out[30] == 0.0


# ------------------------------------------------------- hourly ACF
def test_hourly_acf_periodic_and_flat(spark):
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    h = dt.timedelta(hours=1)
    rows = []
    # 'per2': strict period-2 series 3,1,3,1,... over 48h -> acf(2)=1,
    # acf(1) = -1 (computed over the truncated overlap: see twin below)
    for t in range(48):
        rows += [("per2", T + t * h)] * (3 if t % 2 == 0 else 1)
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    out = {(r.event_type, r.lag): r.acf
           for r in R.hourly_acf(df).collect()}
    # sequential twin with the same truncated-overlap definition
    xs = [3 if t % 2 == 0 else 1 for t in range(48)]
    n, s = len(xs), sum(xs)
    c = [n * x - s for x in xs]
    den = sum(v * v for v in c)
    for k in (1, 2, 3, 6, 12, 24):
        num = sum(c[i] * c[i + k] for i in range(n - k))
        assert out[("per2", k)] == round(num / den, 6), k
    assert out[("per2", 2)] > 0.9 and out[("per2", 1)] < 0
    assert out[("per2", 24)] > 0.4


def test_hourly_acf_densifies_missing_hours(spark):
    import datetime as dt
    T = dt.datetime(2024, 3, 1)
    h = dt.timedelta(hours=1)
    # events only at t=0 and t=4: hours 1-3 MUST be zero-filled, so
    # n_hours = 5, not 2
    df = spark.createDataFrame(
        [("x", T), ("x", T + 4 * h)], ["event_type", "ts"])
    rows = R.hourly_acf(df, lags=(1, 4)).collect()
    assert all(r.n_hours == 5 for r in rows)
    got = {r.lag: r.acf for r in rows}
    xs = [1, 0, 0, 0, 1]
    n, s = len(xs), sum(xs)
    c = [n * x - s for x in xs]
    den = sum(v * v for v in c)
    assert got[4] == round(sum(c[i] * c[i + 4]
                               for i in range(n - 4)) / den, 6)
