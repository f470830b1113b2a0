"""Unit tests for functions/webtext.py (Gopher signals, line dedup,
connected components, PII scrub, int8 quantization)."""

from pyspark.sql import functions as F

from pink_spider_spark.functions import webtext as W
from tests import spec_forms as SF


def test_gopher_signals_hand_doc(spark):
    df = spark.createDataFrame([(1, "aa aa aa bb")], ["doc_id", "text"])
    r = W.gopher_signals(df).collect()[0]
    assert r.n_words == 4
    assert r.mean_word_len == 2.0
    assert r.ttr == 0.5
    assert r.top_token_frac == 0.75
    assert r.passes_gopher is False  # n_words < 40


def test_gopher_signals_case_insensitive(spark):
    df = spark.createDataFrame([(1, "The THE the")], ["doc_id", "text"])
    r = W.gopher_signals(df).collect()[0]
    assert r.ttr == 0.3333 and r.top_token_frac == 1.0


def test_gopher_top_token_frac_long_high_ttr_doc(spark):
    # Pathological case for the old O(n_tokens * n_distinct) form:
    # 5000 tokens, ~4900 distinct (high TTR), one token repeated 101x.
    # The run-length fold must find the repeated token's multiplicity.
    words = [f"w{i}" for i in range(4899)] + ["dup"] * 101
    # interleave deterministically so sorted order differs from doc order
    doc = " ".join(words[i % 2 :: 2][i // 2] if False else words[i]
                   for i in range(len(words)))
    df = spark.createDataFrame([(1, doc)], ["doc_id", "text"])
    r = W.gopher_signals(df).collect()[0]
    assert r.n_words == 5000
    assert r.top_token_frac == round(101 / 5000, 4)
    assert r.ttr == round(4900 / 5000, 4)


def test_gopher_signals_whitespace_only_doc(spark):
    # the tokenizer yields [''] for whitespace-only text (split semantics),
    # so n_words == 1 and the single empty token is the "top" token — this
    # pins that the run-length fold's prev-init ('') does not double-count
    # a leading empty token
    df = spark.createDataFrame([(1, "   ")], ["doc_id", "text"])
    r = W.gopher_signals(df).collect()[0]
    assert r.n_words == 1 and r.top_token_frac == 1.0
    assert r.passes_gopher is False


def test_wrap_lines_clips_last_line(spark):
    df = spark.createDataFrame([("a b c d e",)], ["text"])
    (lines,) = df.select(W.wrap_lines(F.col("text"), k=2).alias("l")).first()
    assert lines == ["a b", "c d", "e"]


def test_dedup_lines_first_seen_wins(spark):
    # doc 1: [X, Y]; doc 2: [X, Z] -> doc 2 keeps only Z
    df = spark.createDataFrame(
        [(1, "x1 x2 y1 y2"), (2, "x1 x2 z1 z2")], ["doc_id", "text"])
    out = {r.doc_id: r for r in W.dedup_lines(df, k=2).collect()}
    assert out[1].kept_lines == 2 and out[1].dedup_text == "x1 x2\ny1 y2"
    assert out[2].kept_lines == 1 and out[2].dedup_text == "z1 z2"


def test_dedup_lines_fully_duplicate_doc_vanishes(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], ["doc_id", "text"])
    out = W.dedup_lines(df, k=2).collect()
    assert len(out) == 1 and out[0].doc_id == 1


def test_dedup_lines_reassembly_preserves_position_order(spark):
    df = spark.createDataFrame([(1, "b1 b2 a1 a2 c1 c2")], ["doc_id", "text"])
    (row,) = W.dedup_lines(df, k=2).collect()
    assert row.dedup_text == "b1 b2\na1 a2\nc1 c2"  # position order, not lexical


def test_connected_components_hand_graph(spark):
    nodes = spark.createDataFrame([(n,) for n in (1, 2, 3, 10, 11, 20)],
                                  ["node"])
    edges = spark.createDataFrame([(2, 1), (2, 3), (10, 11)], ["src", "dst"])
    got = {r.node: r.label
           for r in W.connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_chain_converges(spark):
    # path graph 0-1-2-...-7: needs several propagation rounds
    nodes = spark.createDataFrame([(n,) for n in range(8)], ["node"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(7)],
                                  ["src", "dst"])
    got = {r.node: r.label
           for r in W.connected_components(nodes, edges).collect()}
    assert got == {n: 0 for n in range(8)}


def test_dedup_clusters_exact_duplicates_cluster_together(spark):
    txt = "alpha beta gamma delta epsilon zeta eta theta " * 4
    other = "one two three four five six seven eight nine ten " * 4
    df = spark.createDataFrame(
        [(0, txt), (1, txt), (2, other)], ["doc_id", "text"])
    got = {r.doc_id: (r.cluster_id, r.cluster_size)
           for r in W.dedup_clusters(df).collect()}
    assert got[0] == (0, 2) and got[1] == (0, 2)
    assert got[2] == (2, 1)


def test_pii_scrub_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@sub.example.org or 555-0142 ok")],
        ["doc_id", "text"])
    ne, np_ = W.pii_counts(F.col("text"))
    r = df.select(ne.alias("e"), np_.alias("p"),
                  W.scrub_pii(F.col("text")).alias("s")).first()
    assert r.e == 1 and r.p == 1
    assert r.s == "mail me at <EMAIL> or <PHONE> ok"


def test_pii_scrub_no_matches_is_identity(spark):
    df = spark.createDataFrame([(1, "nothing sensitive here")],
                               ["doc_id", "text"])
    r = df.select(W.scrub_pii(F.col("text")).alias("s")).first()
    assert r.s == "nothing sensitive here"


def test_int8_quant_stats_hand_vector(spark):
    df = spark.createDataFrame([(1, [1.0, -0.5, 0.25, 0.0])],
                               ["vec_id", "embedding"])
    sc, l1, sat = W.int8_quant_stats(F.col("embedding"))
    r = df.select(sc, l1, sat).first()
    assert abs(r.scale - 1.0 / 127.0) <= 5e-9  # scale is rounded to 8 dp
    # q = [127, -64 (63.5 rounds half-up away from zero), 32 (31.75->32), 0]
    assert r.q_l1 == 127 + 64 + 32
    assert r.saturated == 1


def test_repetition_signals_hand_doc(spark):
    # tokens: a b a b a  -> bigrams: ab, ba, ab, ba (top 2/4); trigrams:
    # aba, bab, aba -> dup occurrences 2/3
    df = spark.createDataFrame([(1, "a b a b a")], ["doc_id", "text"])
    r = W.repetition_signals(df).collect()[0]
    assert r.top_bigram_frac == 0.5
    assert r.dup_trigram_frac == 0.6667


def test_repetition_signals_no_repeats(spark):
    df = spark.createDataFrame([(1, "q w e r t y")], ["doc_id", "text"])
    r = W.repetition_signals(df).collect()[0]
    assert r.top_bigram_frac == 0.2  # every bigram unique: 1/5
    assert r.dup_trigram_frac == 0.0


def test_distinctive_terms_rank_key(spark):
    # doc 1: 'x' tf=2; 'common' tf=2 but df=2 -> x (df=1) ranks first
    df = spark.createDataFrame(
        [(1, "x x common common y"), (2, "common z")], ["doc_id", "text"])
    out = {(r.doc_id, r.rank): r for r in
           W.distinctive_terms_topk(df, k=2).collect()}
    assert out[(1, 1)].token == "x" and out[(1, 1)].tf == 2
    assert out[(1, 2)].token == "common" and out[(1, 2)].df == 2
    # tfidf = tf * ln((N+1)/(df+1)) = 2*ln(3/2) for x
    import math
    assert abs(out[(1, 1)].tfidf - round(2 * math.log(3 / 2), 4)) < 1e-9


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out1 = {r.doc_id for r in
            W.stratified_sample(df, "lang", {"en": 0.5}, default_rate=0.1)
            .collect()}
    out2 = {r.doc_id for r in
            W.stratified_sample(df, "lang", {"en": 0.5}, default_rate=0.1)
            .collect()}
    assert out1 == out2  # deterministic
    en = sum(1 for i in out1 if i % 2 == 0)
    fr = len(out1) - en
    assert 400 <= en <= 600    # ~50% of 1000
    assert 50 <= fr <= 150     # ~10% of 1000


def test_contamination_hand_docs(spark):
    bench = spark.createDataFrame([(100, "alpha beta gamma delta")],
                                  ["doc_id", "text"])
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),       # exact copy -> frac 1.0
         (2, "alpha beta gamma nine ten"),    # 1 of 3 distinct 3-grams
         (3, "one two three four five")],     # no overlap
        ["doc_id", "text"])
    out = {r.doc_id: r for r in W.contamination(docs, bench, n=3).collect()}
    assert out[1].contamination_frac == 1.0 and out[1].contaminated
    assert out[2].n_grams == 3 and out[2].hit_grams == 1
    assert out[2].contamination_frac == 0.3333 and not out[2].contaminated
    assert out[3].hit_grams == 0 and not out[3].contaminated


def test_contamination_distinct_gram_semantics(spark):
    # repeated gram in the candidate counts once (distinct semantics)
    bench = spark.createDataFrame([(9, "x y z")], ["doc_id", "text"])
    docs = spark.createDataFrame([(1, "x y z x y z")], ["doc_id", "text"])
    r = W.contamination(docs, bench, n=3).collect()[0]
    # distinct grams of doc 1: "x y z", "y z x", "z x y" -> 1 hit of 3
    assert r.n_grams == 3 and r.hit_grams == 1


def test_unigram_logprob_hand_corpus(spark):
    import math
    df = spark.createDataFrame([(1, "a a b"), (2, "b c")],
                               ["doc_id", "text"])
    out = {r.doc_id: r for r in W.unigram_logprob(df).collect()}
    # counts: a=2 b=2 c=1, total=5
    assert out[1].n_tokens == 3
    assert out[1].bits_per_token == round(-math.log2(2 / 5), 4)
    assert out[2].bits_per_token == round(
        -(math.log2(2 / 5) + math.log2(1 / 5)) / 2, 4)


def test_filter_pipeline_component_verdicts(spark):
    passing = " ".join(f"tok{i:02d}" for i in range(40))
    bench_text = " ".join(f"bch{i:02d}" for i in range(40))
    contaminated = bench_text + " extra words here now"
    docs = spark.createDataFrame(
        [(1, passing),            # kept
         (2, passing),            # dup of 1 -> dropped
         (3, bench_text),         # the benchmark doc itself -> dropped
         (4, contaminated),       # gopher-passing but contaminated
         (5, "a a a")],           # fails gopher
        ["doc_id", "text"])
    bench = docs.filter("doc_id = 3")
    out = {r.doc_id: r for r in
           W.filter_pipeline(docs, bench, n=3).collect()}
    assert out[1].kept and out[1].passes_gopher and not out[1].is_dup
    assert out[2].is_dup and not out[2].kept
    assert out[3].in_benchmark and not out[3].kept
    assert out[4].passes_gopher and out[4].contaminated and not out[4].kept
    assert not out[5].passes_gopher and not out[5].kept
    assert sum(1 for r in out.values() if r.kept) == 1


def test_contamination_plan_is_broadcast(spark):
    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    plan = (W.contamination(docs, docs, n=2)._jdf.queryExecution()
            .executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_wrap_lines_and_ngrams_degenerate_docs(spark):
    # empty / whitespace-only docs wrap to ZERO lines; 1-token docs
    # produce no bigrams, 2-token docs no trigrams (no concat_ws
    # null-skipped partial grams)
    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "one"), (3, "one two"),
         (4, "one two three")],
        ["doc_id", "text"])
    rows = {r.doc_id: r for r in df.select(
        "doc_id",
        W.wrap_lines(F.col("text")).alias("lines"),
        SF.bigrams(F.col("text")).alias("bi"),
        SF.trigrams(F.col("text")).alias("tri")).collect()}
    assert rows[0].lines == [] and rows[1].lines == []
    assert rows[2].lines == ["one"]
    assert rows[2].bi == [] and rows[2].tri == []
    assert rows[3].bi == ["one two"] and rows[3].tri == []
    assert rows[4].tri == ["one two three"]
    # empty-line docs vanish from the dedup output entirely
    out = W.dedup_lines(df).collect()
    assert {r.doc_id for r in out} == {2, 3, 4}


def test_stratified_sample_rate_rounding(spark):
    # 0.3 * 10000 = 2999.9999999999995 as a double: the threshold must
    # round to 3000, not truncate to 2999 (hash 2999 rows stay in on
    # both engines)
    df = spark.range(10000).select(F.col("id").alias("doc_id"),
                                   F.lit("en").alias("lang"))
    got = W.stratified_sample(df, "lang", {"en": 0.3}).count()
    import duckdb
    want = duckdb.sql(
        "SELECT count(*) FROM range(10000) t(doc_id) WHERE "
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
        "% 10000 < CAST(round(0.3 * 10000) AS BIGINT)").fetchone()[0]
    assert got == want


def test_exact_substring_dedup_semantics(spark):
    # 6-token windows; doc 1 repeats doc 0's opening run verbatim, doc 2
    # is unique, doc 3 is shorter than k, doc 4 is blank.
    shared = "a b c d e f"          # the duplicated 6-token run
    df = spark.createDataFrame(
        [(0, shared + " tail0 x y z"),
         (1, shared + " tail1 p q r"),
         (2, "u v w unique only here words"),
         (3, "too short"),
         (4, "   ")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in
           W.exact_substring_dedup(df, k=6).collect()}
    # blank doc vanishes; short doc passes through untouched
    assert set(out) == {0, 1, 2, 3}
    assert out[3].removed_tokens == 0 and out[3].kept_text == "too short"
    # first occurrence (doc 0) keeps everything
    assert out[0].removed_tokens == 0
    assert out[0].kept_text == shared + " tail0 x y z"
    # doc 1 loses exactly the 6 tokens of the duplicated window
    assert out[1].removed_tokens == 6
    assert out[1].kept_text == "tail1 p q r"
    assert out[2].removed_tokens == 0


def test_exact_substring_dedup_overlap_and_within_doc(spark):
    # within-doc repeat: "a b c a b c a b c" with k=3 — windows at
    # positions 1..7; "a b c" (pos 1) repeats at pos 4 and 7, "b c a"
    # (pos 2) at pos 5, "c a b" (pos 3) at pos 6.  First occurrences
    # are pos 1-3; duplicates cover positions 4..9 → 6 tokens removed,
    # overlapping spans unioned (not double-counted).
    df = spark.createDataFrame([(0, "a b c a b c a b c")],
                               ["doc_id", "text"])
    r = W.exact_substring_dedup(df, k=3).collect()[0]
    assert r.n_tokens == 9
    assert r.removed_tokens == 6
    assert r.kept_text == "a b c"


def test_token_window_hashes_vectorized_equals_relational(spark):
    # the Arrow pass must be byte-equal to the relational
    # (tokens, window_hashes) spec on real corpus text — every token
    # array and every window md5 (same policy pin as simhash)
    from pyspark.sql import functions as F

    from pink_spider_spark.functions import text as X

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.trim(F.col("text")) != ""))
    rel = {r.doc_id: (r.tk, r.whs) for r in docs.select(
        "doc_id", X.tokens(F.col("text")).alias("tk"),
        SF.window_hashes(F.col("text"), 5).alias("whs")).collect()}
    vec = {r.doc_id: (r.tk, r.whs) for r in
           W._token_window_hashes(
               docs, "text", "doc_id", 5).collect()}
    assert rel == vec and len(rel) > 0


def test_exact_substring_dedup_all_covered(spark):
    # a doc that is entirely a copy of an earlier doc: every token is
    # covered, kept_text collapses to the empty string
    t = "q w e r t y u i"
    df = spark.createDataFrame([(0, t), (1, t)], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           W.exact_substring_dedup(df, k=4).collect()}
    assert out[0].removed_tokens == 0 and out[0].kept_text == t
    assert out[1].removed_tokens == 8 and out[1].kept_text == ""


def test_pack_shards_hand_offsets(spark):
    # docs of 3, 4, 2, 5 tokens; shard budget 5:
    # offsets 0,3,7,9 -> shards 0,0,1,1 (doc 2 straddles 5 but starts in 0)
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i"), (4, "j k l m n")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in W.pack_shards(df, shard_tokens=5).collect()}
    assert [(out[i].token_offset, out[i].shard_id) for i in (1, 2, 3, 4)] \
        == [(0, 0), (3, 0), (7, 1), (9, 1)]


def test_pack_shards_doc_straddling_boundary_stays_whole(spark):
    # doc 2 starts at offset 4 (< 5) and runs to 9: assigned to shard 0,
    # never split -- shard 1 starts with doc 3 at offset 9
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h i"), (3, "j")], ["doc_id", "text"])
    out = {r.doc_id: r for r in W.pack_shards(df, shard_tokens=5).collect()}
    assert out[2].shard_id == 0 and out[3].shard_id == 1


def test_pack_shards_distributed_path_equals_window_path(spark):
    rows = [(i, " ".join(["w"] * ((i * 7) % 11 + 1))) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    single = sorted(W.pack_shards(df, shard_tokens=50,
                                  distributed_threshold=None).collect())
    dist = sorted(W.pack_shards(df, shard_tokens=50,
                                distributed_threshold=0).collect())
    assert single == dist


def test_pack_shards_blank_docs_zero_tokens(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "   "), (3, ""), (4, "c")], ["doc_id", "text"])
    out = {r.doc_id: r for r in W.pack_shards(df, shard_tokens=10).collect()}
    assert out[2].n_tokens == 0 and out[3].n_tokens == 0
    assert out[4].token_offset == 2  # blanks consume no budget


# ------------------------------------------------- ccnet buckets
def test_ccnet_buckets_per_lang_terciles(spark):
    # lang A: 6 docs whose bits/token strictly increase with doc_id
    # (unique tokens get rarer) -> terciles are 2/2/2 by construction;
    # lang B: single doc -> its own cut -> head
    rows = [
        (0, "aa aa aa aa", "A"),      # most common tokens -> lowest bpt
        (1, "aa aa aa bb", "A"),
        (2, "aa aa bb cc", "A"),
        (3, "aa bb cc dd", "A"),
        (4, "bb cc dd ee", "A"),
        (5, "cc dd ee ff", "A"),
        (6, "zz zz zz zz", "B"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r.bucket for r in W.ccnet_buckets(df).collect()}
    assert out[6] == "head"  # single-doc language: cut == own value
    # per-language ordering: buckets are monotone in bits/token
    order = [out[i] for i in range(6)]
    assert order == sorted(order, key=["head", "middle", "tail"].index)
    assert order[0] == "head" and order[-1] == "tail"


def test_ccnet_buckets_lang_isolation(spark):
    # cut tables are PER LANGUAGE, never global: docs 0/1/2 all score
    # the same bits/token, yet bucket differently by language.  Doc 3's
    # "cc dd" repetitions make cc/dd corpus-COMMON tokens (low bits ->
    # B's head), pushing the identical-scored doc 2 into B's tail,
    # while in lang A that same score is the head cut itself.
    rows = [(0, "aa bb", "A"), (1, "aa bb", "A"),
            (2, "aa bb", "B"), (3, "cc dd " * 5 + "ee", "B")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in W.ccnet_buckets(df).collect()}
    assert out[0].bits_per_token == out[2].bits_per_token
    assert out[0].bucket == "head" and out[1].bucket == "head"
    assert out[2].bucket == "tail"
    assert out[3].bucket == "head"


# ------------------------------------------------- dsir weights
def test_dsir_weights_target_like_sign(spark):
    # target = docs 0/1 sharing bigram "t t"; doc 2 is pure off-target.
    # n_buckets=10 keeps the add-one smoothing mass proportionate to the
    # micro-fixture (at the default 10007 the smoothing swamps counts
    # this small); with it, a doc of target-dominant bigrams scores
    # positive and a raw-only doc negative.
    rows = [(0, "t t t t t", True), (1, "t t t t", True),
            (2, "r r r r r", False), (3, "t t t", False)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "tgt"])
    out = {r.doc_id: r for r in
           W.dsir_weights(df, F.col("tgt"), n_buckets=10).collect()}
    assert out[3].target_like and out[3].dsir_logweight > 0
    assert not out[2].target_like and out[2].dsir_logweight < 0
    # ordering holds regardless: target-gram docs above raw-gram docs
    assert out[0].dsir_logweight > out[2].dsir_logweight
    # n_grams counts OCCURRENCES (DSIR sums over occurrences, not set)
    assert out[0].n_grams == 4 and out[3].n_grams == 2


def test_dsir_weights_short_doc_empty(spark):
    # a 1-token doc has no bigrams -> no row (nothing to weigh)
    df = spark.createDataFrame(
        [(0, "solo", True), (1, "a b", True)], ["doc_id", "text", "tgt"])
    out = W.dsir_weights(df, F.col("tgt")).collect()
    assert {r.doc_id for r in out} == {1}


# ------------------------------------------------- tfidf cosine pairs
def test_tfidf_cosine_identical_docs_cos1(spark):
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c d"), (2, "x y z w")],
        ["doc_id", "text"])
    out = W.tfidf_cosine_pairs(df, threshold=0.5, max_df_frac=0.9).collect()
    assert [(r.id_a, r.id_b, r.cosine) for r in out] == [(0, 1, 1.0)]


def test_tfidf_cosine_df_cut_prunes_stop_terms(spark):
    # bigram "s s" appears in 2 of 3 docs (df=2); with max_df_frac=0.5
    # it is pruned, so docs 0/1's ONLY shared term vanishes -> no pairs
    df = spark.createDataFrame(
        [(0, "s s a"), (1, "s s b"), (2, "x y c")], ["doc_id", "text"])
    assert W.tfidf_cosine_pairs(df, threshold=0.05,
                                max_df_frac=0.5).count() == 0
    # without the cut the shared term links docs 0 and 1 (a term in
    # EVERY doc would still contribute nothing: idf = log2(n/n) = 0)
    out = W.tfidf_cosine_pairs(df, threshold=0.05,
                               max_df_frac=1.0).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]


# ------------------------------------- star-form connected components
def test_cc_star_equals_min_label_and_is_logarithmic(spark):
    # 48-node path: min-label propagation needs DIAMETER (47) rounds;
    # the star form must give the identical labeling in a handful
    nodes = spark.createDataFrame([(i,) for i in range(48)], ["node"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(47)],
                                  ["src", "dst"])
    plain = {r.node: r.label for r in
             W.connected_components(nodes, edges, max_iter=60).collect()}
    star_df, rounds = W.connected_components_star(nodes, edges)
    star = {r.node: r.label for r in star_df.collect()}
    assert star == plain == {i: 0 for i in range(48)}
    assert rounds <= 8  # O(log^2 n), not O(diameter)


def test_cc_star_raises_on_exhausted_max_iter(spark):
    import pytest

    # a 16-node path cannot reach the star fixed point in 1 round; the
    # operator must raise rather than silently return non-minimal labels
    nodes = spark.createDataFrame([(i,) for i in range(16)], ["node"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(15)],
                                  ["src", "dst"])
    with pytest.raises(RuntimeError, match="star fixed"):
        W.connected_components_star(nodes, edges, max_iter=1)


def test_cc_star_isolated_nodes_and_cliques(spark):
    nodes = spark.createDataFrame([(i,) for i in range(12)], ["node"])
    edges = spark.createDataFrame(
        [(i, j) for i in range(4) for j in range(i + 1, 4)]  # clique 0-3
        + [(7, 9), (9, 8)],                                   # chain 7-9
        ["src", "dst"])
    star_df, _ = W.connected_components_star(nodes, edges)
    got = {r.node: r.label for r in star_df.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 6,
                   7: 7, 8: 7, 9: 7, 10: 10, 11: 11}


# ------------------------------------------------------ zipf stats
def test_zipf_stats_hand_corpus(spark):
    import math

    # freqs: a=4 (rank 1), b=2 (rank 2), c=1 (rank 3); expected slope
    # recomputed with the operator's own integerization (floor(ln*1e6))
    df = spark.createDataFrame([(1, "a a a a b b c")], ["doc_id", "text"])
    r = W.zipf_stats(df).collect()[0]
    assert r.vocab_size == 3 and r.total_tokens == 7
    assert r.top_token == "a" and r.top_freq == 4
    xs = [math.floor(math.log(k) * 1e6) for k in (1, 2, 3)]
    ys = [math.floor(math.log(f) * 1e6) for f in (4, 2, 1)]
    n = 3
    num = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
    den = n * sum(x * x for x in xs) - sum(xs) ** 2
    assert r.zipf_slope == num / den
    assert r.zipf_slope < -1  # steeper than Zipf: tiny skewed corpus


def test_zipf_stats_top_token_tie_breaks_lexicographically(spark):
    df = spark.createDataFrame([(1, "z z y y x")], ["doc_id", "text"])
    r = W.zipf_stats(df).collect()[0]
    assert r.top_token == "y" and r.top_freq == 2  # smallest among ties

def test_repetition_signals_vectorized_equals_relational(spark):
    # the in-row Arrow pass must reproduce the relational explode+agg
    # spec form (tests/spec_forms.py) — pin row-by-row
    # equality (values AND the ≥3-token row-drop) on real corpus text
    # plus degenerate 0/1/2/3-token docs
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extra = spark.createDataFrame(
        [(10**9, ""), (10**9 + 1, "one"), (10**9 + 2, "one two"),
         (10**9 + 3, "one two three"), (10**9 + 4, "A a B a b A")],
        ["doc_id", "text"])
    docs = corpus.select("doc_id", "text").unionByName(extra)
    rel = {r.doc_id: (r.top_bigram_frac, r.dup_trigram_frac)
           for r in SF.repetition_signals(docs).collect()}
    vec = {r.doc_id: (r.top_bigram_frac, r.dup_trigram_frac)
           for r in W.repetition_signals(docs).collect()}
    assert rel == vec and len(rel) > 100
    assert 10**9 + 3 in rel and 10**9 + 2 not in rel


def test_contamination_vectorized_equals_relational(spark):
    # the corpus-side distinct-gram Arrow pass must reproduce the
    # relational explode(array_distinct(word_ngrams)) rows exactly —
    # pinned via full contamination output equality on real corpus text
    # with a benchmark sliced from the same corpus (guaranteed hits)
    corpus = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
              .select("doc_id", "text"))
    bench = corpus.filter("doc_id % 17 = 0")
    rel = {r.doc_id: (r.n_grams, r.hit_grams, r.contamination_frac,
                      r.contaminated)
           for r in SF.contamination(corpus, bench, n=3).collect()}
    vec = {r.doc_id: (r.n_grams, r.hit_grams, r.contamination_frac,
                      r.contaminated)
           for r in W.contamination(corpus, bench, n=3).collect()}
    assert rel == vec and len(rel) > 100
    assert any(v[3] for v in rel.values())


# ------------------------------------------- Kneser-Ney bigram LM
def test_kn_bigram_hand_corpus(spark):
    # doc1 = "a b a b": occ (a,b)x2 (b,a)x1 ; doc2 = "a b c"
    # c2: (a,b)=3 (b,a)=1 (b,c)=1 ; c1: a=(3,1) b=(2,2) ; n1b: a=b=c=1 ; T=3
    # P(b|a) = 2.25/3 + (0.75/3)(1/3) = 5/6
    # P(a|b) = P(c|b) = 0.25/2 + 0.75*(1/3) = 0.375
    import math
    df = spark.createDataFrame([(1, "a b a b"), (2, "a b c")],
                               ["doc_id", "text"])
    out = {r.doc_id: r for r in W.kn_bigram_bits(df).collect()}
    assert out[1].n_bigrams == 3 and out[2].n_bigrams == 2
    p_ab, p_ba = 5.0 / 6.0, 0.375
    assert out[1].kn_bits == round(
        -(2 * math.log2(p_ab) + math.log2(p_ba)) / 3, 4)    # 0.647
    assert out[2].kn_bits == round(
        -(math.log2(p_ab) + math.log2(p_ba)) / 2, 4)        # 0.839


def test_kn_bigram_short_docs_emit_nothing(spark):
    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None), (4, "two tokens")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in W.kn_bigram_bits(df).collect()}
    assert set(out) == {4}
    assert out[4].n_bigrams == 1 and out[4].kn_bits == 0.0  # P=1 exactly


def test_kn_bigram_python_twin_on_corpus(spark):
    """Spark == a pure-Python KN twin on real corpus text, doc by doc."""
    import math
    from collections import Counter
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    occ = []
    for did, text in rows:
        tk = text.lower().strip(" ").split()
        tk = __import__("re").split(r"\s+", text.lower().strip(" "))
        occ += [(did, tk[i], tk[i + 1]) for i in range(len(tk) - 1)]
    c2 = Counter((w1, w2) for _, w1, w2 in occ)
    c1, n1f, n1b = Counter(), Counter(), Counter()
    for (w1, w2), c in c2.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    t = float(len(c2))
    exp = {}
    for did in {d for d, _, _ in occ}:
        ps = [((c2[(w1, w2)] - 0.75) / c1[w1])
              + ((0.75 * n1f[w1] / c1[w1]) * (n1b[w2] / t))
              for d, w1, w2 in occ if d == did]
        exp[did] = round(-sum(math.log2(p) for p in ps) / len(ps), 4)
    got = {r.doc_id: r.kn_bits for r in W.kn_bigram_bits(docs).collect()}
    assert got == exp and len(got) > 0


def test_kn_continuation_beats_raw_frequency(spark):
    """The defining KN property: Pcont scores a word by DISTINCT left
    contexts, not raw frequency — 'francisco' (frequent, one context)
    must get a SMALLER continuation share than 'city' (same frequency,
    many contexts)."""
    text = ("san francisco san francisco san francisco san francisco "
            "new city old city big city small city")
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    tk = text.split()
    occ = [(tk[i], tk[i + 1]) for i in range(len(tk) - 1)]
    from collections import Counter
    c2 = Counter(occ)
    n1b = Counter(w2 for (_, w2) in c2)
    assert n1b["francisco"] == 1 and n1b["city"] == 4
    # and the operator runs green over it
    out = W.kn_bigram_bits(df).collect()
    assert len(out) == 1 and out[0].n_bigrams == len(occ)


# ------------------------------------------- source-mixture rebalance
def test_rebalance_uniform_balanced_corpus_keeps_everything(spark):
    rows = [(i, f"s{i % 4}") for i in range(200)]   # 4 strata x 50
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = W.rebalance_to_mixture(df).collect()
    assert len(kept) == 200        # p_s = 1 for every stratum


def test_rebalance_python_twin_and_bottleneck_kept_whole(spark):
    import hashlib
    rows = ([(i, "big") for i in range(300)]
            + [(1000 + i, "small") for i in range(60)])
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = {(r.doc_id, r.source)
            for r in W.rebalance_to_mixture(df).collect()}
    # twin: c*=60 (small), keep iff h60('mix-'||id) * c_s < 60 * 2^60

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    exp = {(i, s) for i, s in rows
           if h60(f"mix-{i}") * (300 if s == "big" else 60) < 60 * 2 ** 60}
    assert kept == exp
    assert {(i, s) for i, s in rows if s == "small"} <= kept  # whole
    n_big = sum(1 for _, s in kept if s == "big")
    assert 40 <= n_big <= 80       # ~60 expected, hash-deterministic


def test_rebalance_weighted_targets(spark):
    import hashlib
    rows = ([(i, "a") for i in range(120)]
            + [(500 + i, "b") for i in range(120)])
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = {(r.doc_id, r.source) for r in
            W.rebalance_to_mixture(df, weights={"a": 3, "b": 1}).collect()}
    # ratios c/w: a 40, b 120 -> bottleneck a (kept whole);
    # p_b = (120*1)/(3*120) = 1/3

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    exp = {(i, s) for i, s in rows
           if s == "a"
           or h60(f"mix-{i}") * 3 * 120 < 120 * 1 * 2 ** 60}
    assert kept == exp
    assert {(i, s) for i, s in rows if s == "a"} <= kept


def test_rebalance_missing_weight_raises(spark):
    import pytest
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "source"])
    with pytest.raises(ValueError):
        W.rebalance_to_mixture(df, weights={"a": 1}).collect()


# ------------------------------------------------------------- C4 cleaning
def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_c4_clean_each_rule_fires(spark):
    good = ("the quick brown fox jumps over dogs.\n"
            "a second proper sentence with many words!\n"
            "and a third full sentence right here?")
    rows = [
        (0, good),                                          # kept whole
        (1, good + "\nno terminal punctuation here at all"),  # line drop
        (2, good + "\ntoo few words."),                     # <5 words drop
        (3, good + "\nthis line mentions JavaScript APIs today."),
        (4, good + "\nlorem ipsum dolor sit amet."),        # page drop
        (5, good + "\nvar f = function() { return. }"),     # page drop
        (6, "only one good sentence with five words.\n"
            "second good sentence with five words."),       # <3 sentences
    ]
    got = {r["doc_id"]: r for r in
           W.c4_clean(_mk_docs(spark, rows)).collect()}
    assert got[0]["keep"] and got[0]["clean_text"] == good
    assert got[0]["n_lines"] == 3 and got[0]["kept_lines"] == 3
    # the bad line is dropped but the page survives (3 good lines remain)
    for d in (1, 2, 3):
        assert got[d]["keep"], d
        assert got[d]["kept_lines"] == 3, d
        assert got[d]["clean_text"] == good, d
    # page-level markers discard the page outright, clean_text NULL
    for d in (4, 5):
        assert not got[d]["keep"], d
        assert got[d]["clean_text"] is None, d
    assert not got[6]["keep"] and got[6]["kept_lines"] == 2


def test_c4_clean_terminal_quote_counts(spark):
    rows = [(0, 'he said the full quote ends now."\n'
                "plain sentence with enough words here.\n"
                "third full sentence with enough words.")]
    got = W.c4_clean(_mk_docs(spark, rows)).collect()[0]
    assert got["keep"] and got["kept_lines"] == 3


def test_c4_span_dedup_quote_and_overlap(spark):
    a = "\n".join(f"alpha sentence number {i} words" for i in range(5))
    a_lines = a.split("\n")
    # doc 1 embeds doc 0's sentences 1-3 verbatim as a span
    b = "\n".join(["bravo opening line one", *a_lines[1:4],
                   "bravo closing line two"])
    c = "charlie unrelated one\ncharlie unrelated two\ncharlie three"
    got = {r["doc_id"]: r for r in
           W.c4_span_dedup(_mk_docs(spark, [(0, a), (1, b), (2, c)]))
           .collect()}
    assert got[0]["removed_sentences"] == 0
    assert got[0]["clean_text"] == a
    assert got[1]["n_sentences"] == 5
    assert got[1]["removed_sentences"] == 3
    assert got[1]["clean_text"] == ("bravo opening line one\n"
                                    "bravo closing line two")
    assert got[2]["removed_sentences"] == 0 and got[2]["clean_text"] == c


def test_c4_span_dedup_overlapping_dup_spans_union_positions(spark):
    # doc 1 repeats doc 0's sentences 0-4: dup spans at positions 0,1,2
    # cover sentences 0-4 as a UNION (5 removals, not 9)
    a = "\n".join(f"delta sentence number {i} here" for i in range(5))
    b = a + "\nunique bravo tail sentence one"
    got = {r["doc_id"]: r for r in
           W.c4_span_dedup(_mk_docs(spark, [(0, a), (1, b)])).collect()}
    assert got[0]["removed_sentences"] == 0
    assert got[1]["removed_sentences"] == 5
    assert got[1]["clean_text"] == "unique bravo tail sentence one"


def test_c4_span_dedup_fully_duplicate_doc_keeps_empty_row(spark):
    a = "\n".join(f"echo sentence number {i} text" for i in range(3))
    got = {r["doc_id"]: r for r in
           W.c4_span_dedup(_mk_docs(spark, [(0, a), (1, a)])).collect()}
    assert got[1]["removed_sentences"] == 3
    assert got[1]["clean_text"] == ""
    assert got[0]["clean_text"] == a


def test_c4_span_dedup_within_doc_repeat(spark):
    reps = [f"fox sentence number {i} body" for i in range(3)]
    a = "\n".join(reps + ["a separator sentence body here"] + reps)
    got = W.c4_span_dedup(_mk_docs(spark, [(0, a)])).collect()[0]
    assert got["n_sentences"] == 7
    assert got["removed_sentences"] == 3
    assert got["clean_text"] == "\n".join(
        reps + ["a separator sentence body here"])


def test_c4_span_dedup_short_docs_no_spans(spark):
    got = W.c4_span_dedup(
        _mk_docs(spark, [(0, "one line\ntwo line"), (1, "solo")])).collect()
    by = {r["doc_id"]: r for r in got}
    assert by[0]["n_sentences"] == 2 and by[0]["removed_sentences"] == 0
    assert by[1]["clean_text"] == "solo"


# ----------------------------------------- weighted reservoir sampling
def _es_key(salt, doc_id, w):
    import hashlib
    import math
    h = int(hashlib.md5(f"{salt}-{doc_id}".encode()).hexdigest()[:15], 16)
    return math.log((h + 1) / 2 ** 60) / w


def test_weighted_sample_matches_python_twin(spark):
    rows = [(i, 1 + (i * 7) % 5) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = W.weighted_sample(df, "w", k=10).collect()
    want = sorted(rows, key=lambda r: (-_es_key("ws", r[0], r[1]), r[0]))[:10]
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r in got:
        assert abs(r["ws_key"] - _es_key("ws", r["doc_id"], r["w"])) < 1e-12


def test_weighted_sample_k_exceeds_n_returns_all(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], ["doc_id", "w"])
    assert W.weighted_sample(df, "w", k=10).count() == 2


def test_weighted_sample_inclusion_proportional_to_weight():
    """A-Res k=1 property: P(item wins) = w_i / sum(w) exactly — over 600
    independent salted draws the weight-3 item must win ~75%."""
    wins = sum(
        1 for s in range(600)
        if _es_key(f"s{s}", 1, 3) > _es_key(f"s{s}", 2, 1))
    assert 0.70 < wins / 600 < 0.80, wins


def test_weighted_sample_heavier_weight_shrinks_key_magnitude():
    # same u: ln(u)/w rises toward 0 as w grows — heavier items rank higher
    assert _es_key("x", 7, 10) > _es_key("x", 7, 1)


# --------------------------------------------------- label propagation
def _lpa_twin(nodes, edges, rounds, colors=None):
    """Pure-python semi-synchronous LPA twin (min-label tie-break)."""
    sym = set()
    for s, d in edges:
        if s != d:
            sym.add((s, d)); sym.add((d, s))
    nbrs = {}
    for s, d in sym:
        nbrs.setdefault(d, []).append(s)
    lbl = {n: n for n, _ in nodes}
    color = dict(nodes)
    for _ in range(rounds):
        for c in (colors if colors is not None else [None]):
            targets = [n for n in lbl
                       if c is None or color[n] == c]
            snapshot = dict(lbl)
            src_lbl = snapshot if c is None else lbl  # semi-sync reads live
            for n in targets:
                if n not in nbrs:
                    continue
                counts = {}
                for m in nbrs[n]:
                    counts[lbl[m] if c is not None else snapshot[m]] = \
                        counts.get(lbl[m] if c is not None
                                   else snapshot[m], 0) + 1
                best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                lbl[n] = best[0]
    return lbl


def test_lpa_two_cliques_find_their_communities(spark):
    edges = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
             ("b4", "b5"), ("b5", "b6"), ("b4", "b6"), ("a3", "b4")]
    nodes = sorted({n for e in edges for n in e})
    got = {r["node"]: (r["label"], r["community_size"]) for r in
           W.label_propagation(
               spark.createDataFrame([(n,) for n in nodes], ["node"]),
               spark.createDataFrame(edges, ["src", "dst"]),
               rounds=3).collect()}
    labels_a = {got[n][0] for n in ("a1", "a2", "a3")}
    labels_b = {got[n][0] for n in ("b4", "b5", "b6")}
    assert len(labels_a) == 1 and len(labels_b) == 1
    assert labels_a != labels_b
    assert got["a1"][1] == 3 and got["b5"][1] == 3


def test_lpa_matches_python_twin_synchronous(spark):
    edges = [(f"n{i}", f"n{(i * 3 + 1) % 17}") for i in range(17)] + \
            [(f"n{i}", f"n{(i + 5) % 17}") for i in range(0, 17, 2)]
    nodes = sorted({n for e in edges for n in e})
    got = {r["node"]: r["label"] for r in
           W.label_propagation(
               spark.createDataFrame([(n,) for n in nodes], ["node"]),
               spark.createDataFrame(edges, ["src", "dst"]),
               rounds=3).collect()}
    want = _lpa_twin([(n, None) for n in nodes], edges, 3)
    assert got == want


def test_lpa_matches_python_twin_semi_synchronous(spark):
    # bipartite: left li, right rj
    edges = [(f"l{i}", f"r{(i * 5 + j) % 7}")
             for i in range(6) for j in range(2)]
    nodes = [(n, 0 if n.startswith("l") else 1)
             for n in sorted({x for e in edges for x in e})]
    got = {r["node"]: r["label"] for r in
           W.label_propagation(
               spark.createDataFrame(nodes, ["node", "color"]),
               spark.createDataFrame(edges, ["src", "dst"]),
               rounds=2, colors=(0, 1)).collect()}
    want = _lpa_twin(nodes, edges, 2, colors=(0, 1))
    assert got == want


def test_lpa_semi_sync_converges_where_sync_oscillates(spark):
    """K_{2,2}: synchronous LPA flips labels between sides forever;
    the 2-colored schedule reaches a fixed point."""
    edges = [("l0", "r0"), ("l0", "r1"), ("l1", "r0"), ("l1", "r1")]
    nodes = [(n, 0 if n.startswith("l") else 1)
             for n in ("l0", "l1", "r0", "r1")]
    ndf = spark.createDataFrame(nodes, ["node", "color"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    two = {r["node"]: r["label"] for r in
           W.label_propagation(ndf, edf, rounds=2,
                               colors=(0, 1)).collect()}
    three = {r["node"]: r["label"] for r in
             W.label_propagation(ndf, edf, rounds=3,
                                 colors=(0, 1)).collect()}
    assert two == three  # fixed point
    # color 0 (left) updates first: l* tie-break to min right label 'r0',
    # the right side then adopts it — one community labeled r0
    assert set(two.values()) == {"r0"}
    # synchronous on the same graph oscillates: round counts of equal
    # parity agree, adjacent ones differ
    sync2 = {r["node"]: r["label"] for r in
             W.label_propagation(ndf.drop("color"), edf,
                                 rounds=2).collect()}
    sync3 = {r["node"]: r["label"] for r in
             W.label_propagation(ndf.drop("color"), edf,
                                 rounds=3).collect()}
    assert sync2 != sync3


def test_lpa_isolated_node_keeps_own_label(spark):
    nodes = [("x", 0), ("y", 1), ("z", 0)]
    got = {r["node"]: (r["label"], r["community_size"]) for r in
           W.label_propagation(
               spark.createDataFrame(nodes, ["node", "color"]),
               spark.createDataFrame([("x", "y")], ["src", "dst"]),
               rounds=2, colors=(0, 1)).collect()}
    assert got["z"] == ("z", 1)
    # x (color 0) adopts y's label first, y then keeps it
    assert got["x"][0] == got["y"][0] == "y"
    assert got["x"][1] == 2


# ----------------------------------------------------- triangle counting
def _tri_brute(edges):
    import itertools
    adj = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    tri = {n: 0 for n in adj}
    for x, y, z in itertools.combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            tri[x] += 1; tri[y] += 1; tri[z] += 1
    return {n: (len(adj[n]), tri[n]) for n in adj}


def test_triangles_match_brute_force(spark):
    # ring + chords + hub on 24 nodes, incl. duplicate and reversed edges
    n = 24
    edges = ([(i, (i + 1) % n) for i in range(n)]
             + [(i, (i + 2) % n) for i in range(n)]
             + [(0, i) for i in range(2, n, 5)]
             + [((i + 1) % n, i) for i in range(0, n, 3)]   # reversed dups
             + [(7, 7)])                                    # self-loop
    got = {r["node"]: (r["degree"], r["triangles"]) for r in
           W.triangle_counts(
               spark.createDataFrame(edges, ["src", "dst"])).collect()}
    assert got == _tri_brute(edges)


def test_triangles_single_and_none(spark):
    got = {r["node"]: r["triangles"] for r in W.triangle_counts(
        spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], ["src", "dst"])).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 0}


def test_triangles_k4_counts_three_per_node(spark):
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = {r["node"]: (r["degree"], r["triangles"]) for r in
           W.triangle_counts(
               spark.createDataFrame(edges, ["src", "dst"])).collect()}
    assert got == {i: (3, 3) for i in range(4)}


def test_triangles_hub_star_has_none(spark):
    # pure star: hub degree n-1, zero triangles — the orientation sends
    # every edge INTO the hub, so the hub emits no wedges at all
    edges = [(0, i) for i in range(1, 30)]
    got = {r["node"]: r["triangles"] for r in W.triangle_counts(
        spark.createDataFrame(edges, ["src", "dst"])).collect()}
    assert set(got.values()) == {0}


# -------------------------------------------------------------- TextRank
def _textrank_twin(text, iters=3):
    """Integer-trajectory twin of textrank_keywords for one document."""
    import re
    tk = re.split(r"\s+", text.strip().lower())
    S = 10 ** 8
    pairs = [(a, b) for a, b in zip(tk, tk[1:]) if a != b]
    ed = {}
    for a, b in pairs:
        ed[(a, b)] = ed.get((a, b), 0) + 1
        ed[(b, a)] = ed.get((b, a), 0) + 1
    nodes = sorted(set(tk))
    n = len(nodes)
    base = (15 * S) // (100 * n)
    wsum = {}
    for (a, _), w in ed.items():
        wsum[a] = wsum.get(a, 0) + w
    r = {v: S // n for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for (a, b), w in ed.items():
            s[b] += (r[a] * w) // wsum[a]
        r = {v: base + (85 * s[v]) // 100 for v in nodes}
    return r


def test_textrank_matches_integer_twin(spark):
    docs = [(0, "a b a b c"), (1, "solo"), (2, "x y x y x z x"),
            (3, ""), (4, "spark table scan spark table join spark")]
    got = {}
    for row in W.textrank_keywords(
            spark.createDataFrame(docs, ["doc_id", "text"]),
            iters=3, k=100).collect():
        got.setdefault(row["doc_id"], {})[row["word"]] = row["rank_scaled"]
    for did, text in docs:
        assert got[did] == _textrank_twin(text), (did, text)


def test_textrank_topk_order_and_tiebreak(spark):
    rows = W.textrank_keywords(
        spark.createDataFrame([(0, "a b a b c")], ["doc_id", "text"]),
        iters=3, k=3).collect()
    assert [(r["rk"], r["word"]) for r in
            sorted(rows, key=lambda r: r["rk"])] == \
        [(1, "b"), (2, "a"), (3, "c")]  # b is the adjacency hub


def test_textrank_single_token_doc_gets_base_rank(spark):
    r = W.textrank_keywords(
        spark.createDataFrame([(9, "alone")], ["doc_id", "text"]),
        iters=2, k=3).collect()
    assert len(r) == 1
    assert (r[0]["word"], r[0]["rk"], r[0]["rank_scaled"]) == \
        ("alone", 1, 15 * 10 ** 8 // 100)


# ---------------------------------------------- temperature rebalancing
def _temp_twin(rows, alpha):
    import hashlib
    num, den = alpha
    e = den - num
    B = (126 - e * 40) // den
    cnt = {}
    for _, s in rows:
        cnt[s] = cnt.get(s, 0) + 1
    c_min = min(cnt.values())
    kept = set()
    for i, s in rows:
        h = int(hashlib.md5(f"temp-{i}".encode()).hexdigest()[:15], 16)
        hb = h // 2 ** (60 - B)
        if hb ** den * cnt[s] ** e < c_min ** e * 2 ** (B * den):
            kept.add((i, s))
    return kept


def _skewed_rows():
    return ([(i, "en") for i in range(400)]
            + [(i + 1000, "de") for i in range(100)]
            + [(i + 2000, "fr") for i in range(25)])


def test_temperature_matches_python_twin_both_alphas(spark):
    rows = _skewed_rows()
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    for alpha in ((1, 2), (2, 3), (1, 3)):
        got = {(r["doc_id"], r["lang"]) for r in
               W.temperature_rebalance(df, "lang", "doc_id",
                                       alpha).collect()}
        assert got == _temp_twin(rows, alpha), alpha


def test_temperature_smallest_stratum_kept_whole(spark):
    rows = _skewed_rows()
    got = W.temperature_rebalance(
        spark.createDataFrame(rows, ["doc_id", "lang"]), "lang",
        "doc_id", (1, 2)).groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in got}
    assert by["fr"] == 25  # c_min stratum: rate exactly 1
    # expected kept: c_min^(1-a) * c_s^a = 5*sqrt(c_s)
    assert abs(by["en"] - 5 * 400 ** 0.5) < 25
    assert abs(by["de"] - 5 * 100 ** 0.5) < 15


def test_temperature_alpha_validation():
    import pytest
    df = None
    for bad in ((0, 2), (2, 2), (3, 2), (1, 4)):
        with pytest.raises(ValueError):
            W.temperature_rebalance(df, alpha=bad)


# ------------------------------------------------------ PMI collocations
def test_pmi_hand_corpus(spark):
    import math
    # 'new york' always adjacent (c2=6); 'the the' frequent but expected
    text = " ".join(["new york"] * 6 + ["the cat", "the dog", "the fish",
                                        "a cat", "a dog", "a fish"])
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    rows = W.pmi_collocations(df, min_count=2, k=5).collect()
    top = rows[0]
    assert (top["w1"], top["w2"]) == ("new", "york")
    # exact expectation: N tokens, N2 bigrams, c-counts from the corpus
    toks = text.split()
    n = len(toks)
    bigrams = list(zip(toks, toks[1:]))
    n2 = sum(1 for bg in set(bigrams)
             if bigrams.count(bg) >= 2 for _ in [0]
             ) and sum(c for c in
                       [bigrams.count(b) for b in set(bigrams)] if c >= 2)
    c1 = {w: toks.count(w) for w in set(toks)}
    want = round(math.log((6 * n * n) / (n2 * c1["new"] * c1["york"])), 4)
    assert abs(top["pmi"] - want) < 1e-9
    assert top["c2"] == 6


def test_pmi_min_count_cut(spark):
    df = spark.createDataFrame(
        [(0, "rare pair rare pair unique singleton here")],
        ["doc_id", "text"])
    rows = W.pmi_collocations(df, min_count=2, k=10).collect()
    pairs = {(r["w1"], r["w2"]) for r in rows}
    assert ("unique", "singleton") not in pairs
    assert ("rare", "pair") in pairs


def test_pmi_ranking_is_ratio_not_count(spark):
    # frequent-but-expected pair ranks below exclusive rare-ish pair
    text = " ".join(["x y"] * 3 + ["q r q r q r q r"] * 1 + ["q q r r"])
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    rows = W.pmi_collocations(df, min_count=2, k=10).collect()
    order = [(r["w1"], r["w2"]) for r in rows]
    assert order.index(("x", "y")) < order.index(("q", "r"))


# ------------------------------------------- content-defined chunking
def _pseudo_text(n, seed="t"):
    import hashlib
    out = []
    while len(out) < n:
        h = hashlib.md5(f"{seed}-{len(out)}".encode()).hexdigest()
        out.extend(h)
    return "".join(out[:n])


def test_cdc_insertion_shifts_only_the_head(spark):
    """THE content-defined property: prepending text re-chunks only the
    prefix — every chunk after the first content boundary realigns and
    dedups against the original.  A fixed-size blocker loses all
    alignment (pinned inline)."""
    a = _pseudo_text(600)
    b = "inserted! " + a
    got = {r["doc_id"]: (r["n_chunks"], r["dup_chunks"]) for r in
           W.cdc_chunks(spark.createDataFrame(
               [(0, a), (1, b)], ["doc_id", "text"])).collect()}
    n_a, dup_a = got[0]
    n_b, dup_b = got[1]
    assert n_a >= 4            # corpus long enough to chunk
    assert dup_a == 0
    assert dup_b >= n_b - 2    # only the head chunk (maybe two) is new
    # fixed-size 64-char blocking: the same insertion misaligns every
    # block — at most the accidental tail block survives
    fixed_a = {a[i:i + 64] for i in range(0, len(a), 64)}
    fixed_b = [b[i:i + 64] for i in range(0, len(b), 64)]
    assert sum(1 for c in fixed_b if c in fixed_a) <= 1


def test_cdc_identical_docs_fully_dedup(spark):
    a = _pseudo_text(400)
    got = {r["doc_id"]: (r["n_chunks"], r["dup_chunks"]) for r in
           W.cdc_chunks(spark.createDataFrame(
               [(0, a), (1, a)], ["doc_id", "text"])).collect()}
    assert got[0][1] == 0
    assert got[1] == (got[0][0], got[0][0])  # every chunk a duplicate


def test_cdc_short_and_empty_docs(spark):
    got = {r["doc_id"]: (r["n_chunks"], r["dup_chunks"]) for r in
           W.cdc_chunks(spark.createDataFrame(
               [(0, "tiny"), (1, "")], ["doc_id", "text"])).collect()}
    assert got == {0: (1, 0)}  # one whole-doc chunk; empty doc absent


def test_cdc_chunks_reassemble_exactly(spark):
    """Boundaries partition the document: chunk count and coverage are
    consistent with a python twin of the window-fingerprint rule."""
    import hashlib
    a = _pseudo_text(500, seed="r")
    got = W.cdc_chunks(spark.createDataFrame(
        [(0, a)], ["doc_id", "text"])).collect()[0]

    bounds = [0]
    for p in range(8, len(a) + 1):
        w = a[p - 8:p]
        h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        if h % 64 == 0:
            bounds.append(p)
    if bounds[-1] != len(a):
        bounds.append(len(a))
    assert got["n_chunks"] == len(bounds) - 1


# --------------------------------------------------------- BFS distances
def test_bfs_hand_graph_and_unreached(spark):
    # path 1-2-3-4-5 plus isolated 9: distances from 1, 2 rounds
    edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
    nodes = spark.createDataFrame([(n,) for n in (1, 2, 3, 4, 5, 9)],
                                  ["node"])
    got = {r["node"]: r["hops"] for r in
           W.bfs_hops(nodes, spark.createDataFrame(edges, ["src", "dst"]),
                      source=1, rounds=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: None, 5: None, 9: None}
    # more rounds reach the tail; distances are stable once assigned
    got4 = {r["node"]: r["hops"] for r in
            W.bfs_hops(nodes, spark.createDataFrame(edges,
                                                    ["src", "dst"]),
                       source=1, rounds=4).collect()}
    assert got4 == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 9: None}


def test_bfs_matches_python_twin_on_fixture_slice(spark):
    import collections
    n = 60
    edges = ([(i, (i + 1) % n) for i in range(n)]
             + [(i, (i + 2) % n) for i in range(n)]
             + [(0, i) for i in range(5, n, 5)])
    nodes = sorted({x for e in edges for x in e})
    got = {r["node"]: r["hops"] for r in
           W.bfs_hops(spark.createDataFrame([(x,) for x in nodes],
                                            ["node"]),
                      spark.createDataFrame(edges, ["src", "dst"]),
                      source=0, rounds=3).collect()}
    adj = collections.defaultdict(set)
    for s, d in edges:
        adj[s].add(d); adj[d].add(s)
    dist = {0: 0}
    frontier = [0]
    for hop in (1, 2, 3):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = hop
                    nxt.append(v)
        frontier = nxt
    assert got == {x: dist.get(x) for x in nodes}


# -------------------------------------------------------- entropy signals
def test_entropy_hand_values(spark):
    import math
    got = {r["doc_id"]: r for r in W.entropy_signals(
        spark.createDataFrame([(0, "aa bb"), (1, "aaaa"), (2, "abcd")],
                              ["doc_id", "text"])).collect()}
    want0 = round(math.log2(5) - (2 * 1 + 2 * 1 + 1 * 0) / 5, 4)
    assert got[0]["n_chars"] == 5
    assert abs(got[0]["char_entropy"] - want0) < 1e-9
    assert got[0]["n_tokens"] == 2 and got[0]["token_entropy"] == 1.0
    assert got[1]["char_entropy"] == 0.0    # single symbol
    assert got[2]["char_entropy"] == 2.0    # uniform over 4


def test_entropy_orders_quality(spark):
    noisy = "kj3H9x2Qz8vR4mT7nW1pL5cY6bD0gF"   # base64-ish
    boiler = "click here click here click here click here"
    got = {r["doc_id"]: r for r in W.entropy_signals(
        spark.createDataFrame([(0, noisy), (1, boiler)],
                              ["doc_id", "text"])).collect()}
    assert got[0]["char_entropy"] > got[1]["char_entropy"]
    assert got[1]["token_entropy"] == 1.0   # two distinct tokens, even


# ------------------------------------------------ winnowing fingerprints
def _winnow_py(text, k=8, w=4):
    """Sequential twin of the MOSS winnowing spec (rightmost-min)."""
    import hashlib
    n = len(text)
    if n < k + w - 1:
        return set()
    hs = [int(hashlib.md5(text[p:p + k].encode()).hexdigest()[:15], 16)
          for p in range(n - k + 1)]
    sel = set()
    for s in range(len(hs) - w + 1):
        best, bp = None, None
        for j in range(s, s + w):
            if best is None or hs[j] <= best:
                best, bp = hs[j], j
        sel.add(bp)
    return {hs[p] for p in sel}


def test_winnow_matches_python_twin(spark):
    docs = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs today"),
            (3, "the quick brown fox naps under the shady tree")]
    tw = {i: _winnow_py(t) for i, t in docs}
    out = {r.doc_id: r for r in
           W.winnow_fingerprints(
               spark.createDataFrame(docs, ["doc_id", "text"])).collect()}
    for i, t in docs:
        assert out[i].n_fp == len(tw[i])
        others = set().union(*(tw[j] for j, _ in docs if j != i))
        assert out[i].shared_fp == len(tw[i] & others)


def test_winnow_shared_substring_guarantee(spark):
    # the paper's guarantee: a shared substring of length >= k+w-1 (11)
    # yields at least one shared fingerprint
    shared = "XYZABCDEFGHIJKLMNOP"  # 19 chars embedded in both
    df = spark.createDataFrame(
        [(1, "aaaa " + shared + " bbbb bbbb bbbb"),
         (2, "cccc cccc " + shared + " dddd")], ["doc_id", "text"])
    out = {r.doc_id: r for r in W.winnow_fingerprints(df).collect()}
    assert out[1].shared_fp >= 1 and out[2].shared_fp >= 1


def test_winnow_identical_docs_fully_shared_and_short_absent(spark):
    df = spark.createDataFrame(
        [(1, "identical winnowing corpus text sample"),
         (2, "identical winnowing corpus text sample"),
         (3, "tiny")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in W.winnow_fingerprints(df).collect()}
    assert 3 not in rows  # < k+w-1 chars: no full window, absent
    assert rows[1].n_fp == rows[2].n_fp == rows[1].shared_fp


# ------------------------------------------------ multinomial Naive Bayes
def test_nb_hand_computed_scores_and_predictions(spark):
    import math
    df = spark.createDataFrame(
        [(1, "a", "x x y"), (2, "b", "z z")], ["doc_id", "lang", "text"])
    out = {r.doc_id: r for r in W.nb_classify(df).collect()}
    # V=3; den_a = 3+3 = 6, den_b = 2+3 = 5; priors ln(1/2)
    pr = round(math.log(0.5) * 1e6)
    sc1 = (pr + 2 * round(math.log(2 / 6) * 1e6)
           + round(math.log(2 / 6) * 1e6))  # x:ntc=2 -> (2+1)/6; y -> 2/6
    # doc1: x appears twice (tf=2, ntc(x,a)=2 -> lam=ln(3/6)), y once
    sc1 = (pr + 2 * round(math.log(3 / 6) * 1e6)
           + round(math.log(2 / 6) * 1e6))
    assert out[1].pred_lang == "a" and out[1].score_micro == sc1
    sc2 = pr + 2 * round(math.log(3 / 5) * 1e6)
    assert out[2].pred_lang == "b" and out[2].score_micro == sc2


def test_nb_disjoint_vocab_perfect_self_classification(spark):
    rows = [(i, "en", "alpha beta gamma delta") for i in range(10)]
    rows += [(i + 10, "fr", "un deux trois quatre") for i in range(10)]
    out = W.nb_classify(
        spark.createDataFrame(rows, ["doc_id", "lang", "text"])).collect()
    assert all(r.pred_lang == r.lang for r in out)


def test_nb_empty_doc_scores_prior_and_tie_breaks_smallest(spark):
    # equal priors (2 docs per class); the empty doc has no tokens so
    # its score is the prior alone in both classes -> exact tie ->
    # the lexicographically smallest class wins
    import math
    df = spark.createDataFrame(
        [(1, "a", "qq qq"), (2, "b", "zz zz"), (3, "a", ""),
         (4, "b", "ww")], ["doc_id", "lang", "text"])
    out = {r.doc_id: r for r in W.nb_classify(df).collect()}
    assert out[3].pred_lang == "a"
    assert out[3].score_micro == round(math.log(2 / 4) * 1e6)


# ---------------------------------------------------------------- k-core
def _coreness_py(edges):
    """Sequential peeling twin (Batagelj-Zaversnik semantics)."""
    from collections import defaultdict
    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    res = {}
    remaining = set(adj)
    deg = {v: len(adj[v]) for v in adj}
    while remaining:
        k = min(deg[v] for v in remaining)
        peel = {v for v in remaining if deg[v] <= k}
        while peel:
            v = peel.pop()
            res[v] = k
            remaining.discard(v)
            for u in adj[v]:
                if u in remaining:
                    deg[u] -= 1
                    if deg[u] <= k:
                        peel.add(u)
    return res


def test_coreness_clique_plus_pendant(spark):
    # K4 (coreness 3 each) with a pendant hanging off node 0 (coreness 1)
    E = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(0, 9)]
    edges = spark.createDataFrame(E, ["src", "dst"])
    out = {r.node: r.coreness for r in
           W.coreness(None, edges, rounds=4).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3, 9: 1}


def test_coreness_matches_peeling_twin_after_convergence(spark):
    # ring of 12 + chords + a K5 attached: run enough rounds to converge
    E = [(i, (i + 1) % 12) for i in range(12)]
    E += [(i, (i + 3) % 12) for i in range(0, 12, 2)]
    E += [(20 + a, 20 + b) for a in range(5) for b in range(a + 1, 5)]
    E += [(0, 20)]
    truth = _coreness_py(E)
    out = {r.node: r.coreness for r in
           W.coreness(None, spark.createDataFrame(E, ["src", "dst"]),
                      rounds=8).collect()}
    assert out == truth


def test_coreness_monotone_nonincreasing_rounds(spark):
    E = [(i, (i + 1) % 10) for i in range(10)] + [(0, 5), (2, 7)]
    df = spark.createDataFrame(E, ["src", "dst"])
    r1 = {r.node: r.coreness for r in W.coreness(None, df, rounds=1).collect()}
    r3 = {r.node: r.coreness for r in W.coreness(None, df, rounds=3).collect()}
    assert all(r3[n] <= r1[n] for n in r1)


def test_coreness_isolated_node_zero_via_nodes_frame(spark):
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    nodes = spark.createDataFrame([(1,), (2,), (99,)], ["node"])
    out = {r.node: r.coreness for r in
           W.coreness(nodes, edges, rounds=2).collect()}
    assert out == {1: 1, 2: 1, 99: 0}


# --------------------------------------------- BPE pre-tokenizer stats
def test_bpe_pretokens_hand_segmentation(spark):
    # contractions split, letter runs keep their leading space, digit
    # and punct runs separate
    df = spark.createDataFrame(
        [(1, "I'll see 42 cats... now")], ["doc_id", "text"])
    r = W.bpe_pretoken_stats(df).collect()[0]
    # ["I", "'ll", " see", " 42", " cats", "...", " now"] = 7
    assert r.n_pretokens == 7
    assert r.n_distinct_pretokens == 7
    assert r.n_chars == 23
    assert r.chars_per_pretoken == round(23 / 7, 4)


def test_bpe_pretokens_digit_soup_tokenizes_short(spark):
    df = spark.createDataFrame(
        [(1, "the quiet mornings drift slowly onward"),
         (2, "a1 b2 c3 d4 e5 f6 g7 h8 i9 j0 k1 l2")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in W.bpe_pretoken_stats(df).collect()}
    # digit-interleaved text fragments into many short pretokens
    assert out[2].chars_per_pretoken < out[1].chars_per_pretoken


def test_bpe_pretokens_empty_doc_absent(spark):
    df = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    assert W.bpe_pretoken_stats(df).count() == 0


# ------------------------------------------------- rendezvous hashing
def test_rendezvous_minimal_movement_property(spark):
    from pyspark.sql import functions as F
    df = spark.range(0, 2000).select(F.col("id"))
    out = (df.select(
        W.rendezvous_shard(F.col("id"), 10).alias("s10"),
        W.rendezvous_shard(F.col("id"), 11).alias("s11")).collect())
    moved = [r for r in out if r.s10 != r.s11]
    # expected 1/11 ≈ 182 movers; generous band
    assert 90 <= len(moved) <= 300
    # EVERY mover lands on the new shard — the HRW guarantee
    assert all(r.s11 == 10 for r in moved)
    # and shards are reasonably balanced under 10 shards
    from collections import Counter
    c = Counter(r.s10 for r in out)
    assert len(c) == 10 and min(c.values()) > 120


def test_rendezvous_matches_python_twin(spark):
    import hashlib
    from pyspark.sql import functions as F

    def twin(key, n):
        return max(range(n), key=lambda s: int(
            hashlib.md5(f"hrw-{s}-{key}".encode()).hexdigest()[:15], 16))
    df = spark.range(0, 50).select(F.col("id"))
    out = {r.id: r.s for r in
           df.select("id", W.rendezvous_shard(F.col("id"), 7)
                     .alias("s")).collect()}
    assert out == {k: twin(k, 7) for k in range(50)}


# ------------------------------------------------------------------ RAKE
def test_rake_hand_scores(spark):
    # "deep learning" phrase vs single words; stopword 'of' separates.
    # phrases: [deep learning], [deep learning], [systems]
    # deg(deep)=4 freq=2 -> 2.0; deg(learning)=4 freq=2 -> 2.0;
    # deg(systems)=1 freq=1 -> 1.0
    # scores: "deep learning" = 4.0e6, "systems" = 1.0e6
    df = spark.createDataFrame(
        [(1, "deep learning of deep learning of systems")],
        ["doc_id", "text"])
    out = {r.phrase: r.score6 for r in W.rake_keywords(df).collect()}
    assert out == {"deep learning": 4_000_000, "systems": 1_000_000}


def test_rake_punctuation_separates_and_case_folds(spark):
    # '...' token cleans to empty -> separator, like a stopword
    df = spark.createDataFrame(
        [(1, "Neural Networks ... gradient descent")], ["doc_id", "text"])
    out = sorted(r.phrase for r in W.rake_keywords(df).collect())
    assert out == ["gradient descent", "neural networks"]


def test_rake_topk_and_tiebreak(spark):
    # four 1-word phrases, equal scores -> top-3 by phrase asc
    df = spark.createDataFrame(
        [(1, "zebra of yak of walrus of vole")], ["doc_id", "text"])
    out = [r.phrase for r in W.rake_keywords(df, k=3).collect()]
    assert sorted(out) == ["vole", "walrus", "yak"]  # zebra loses the tie


# ------------------------------------------------------ lexical richness
def test_yule_hand_values(spark):
    # "aa aa bb": counts {aa:2, bb:1}; M1=3, M2=5
    # K = 1e4*(5-3)/9 ; D = (5-3)/(3*2) = 1/3
    df = spark.createDataFrame([(1, "aa aa bb")], ["doc_id", "text"])
    r = W.yule_richness(df).collect()[0]
    assert r.n_tokens == 3
    assert r.yule_k == round(1e4 * 2 / 9, 4)
    assert r.simpson_d == round(1 / 3, 6)


def test_yule_all_distinct_is_zero_and_all_same_is_max(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x x x x x x")], ["doc_id", "text"])
    out = {r.doc_id: r for r in W.yule_richness(df).collect()}
    assert out[1].yule_k == 0.0 and out[1].simpson_d == 0.0
    assert out[2].simpson_d == 1.0  # certain repeat
    # K for n=6 single type: 1e4*(36-6)/36
    assert out[2].yule_k == round(1e4 * 30 / 36, 4)


def test_yule_length_robust_vs_ttr(spark):
    # same generating process (alternating 2 types), different lengths:
    # TTR halves with length; D stays ~constant — the point of the stat
    df = spark.createDataFrame(
        [(1, "a b " * 5), (2, "a b " * 50)], ["doc_id", "text"])
    out = {r.doc_id: r for r in W.yule_richness(df).collect()}
    assert abs(out[1].simpson_d - out[2].simpson_d) < 0.06
    ttr1, ttr2 = 2 / 10, 2 / 100
    assert ttr1 / ttr2 == 10  # while TTR collapsed by 10x


def test_yule_short_docs_absent(spark):
    df = spark.createDataFrame([(1, "solo"), (2, "")], ["doc_id", "text"])
    assert W.yule_richness(df).count() == 0


# ------------------------------------------------------------ Heaps' law
def test_heaps_matches_python_twin(spark):
    import math
    docs = [(1, "alpha beta gamma"), (2, "alpha delta"),
            (3, "beta epsilon zeta eta"), (4, "alpha beta")]
    seen, ct, cv, pts = set(), 0, 0, []
    for _, text in docs:  # doc_id order
        toks = text.lower().split()
        ct += len(toks)
        for t in toks:
            if t not in seen:
                seen.add(t)
                cv += 1
        pts.append((math.floor(math.log(ct) * 1e6),
                    math.floor(math.log(cv) * 1e6)))
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    lnk = (sy * sxx - sx * sxy) / (n * sxx - sx * sx) / 1e6
    r = W.heaps_stats(
        spark.createDataFrame(docs, ["doc_id", "text"])).collect()[0]
    assert r.n_docs == 4 and r.total_tokens == ct and r.vocab_size == cv
    assert abs(r.heaps_beta - beta) < 1e-12
    assert abs(r.heaps_lnk - lnk) < 1e-9


def test_heaps_saturating_vocab_flattens_beta(spark):
    # template spam: same 3 words forever -> vocab saturates, beta ~ 0;
    # all-fresh vocab: V = n -> beta ~ 1
    spam = [(i, "buy cheap now") for i in range(1, 40)]
    fresh = [(i, f"w{3*i} w{3*i+1} w{3*i+2}") for i in range(1, 40)]
    b_spam = W.heaps_stats(
        spark.createDataFrame(spam, ["doc_id", "text"])).collect()[0]
    b_fresh = W.heaps_stats(
        spark.createDataFrame(fresh, ["doc_id", "text"])).collect()[0]
    assert b_spam.heaps_beta < 0.1
    assert b_fresh.heaps_beta > 0.97


# --------------------------------------------------------- Adamic-Adar
def test_adamic_adar_hand_graph(spark):
    import math
    # u=1 and v=2 share middles 10 (deg 2) and 11 (deg 3);
    # edge (1,2) absent -> candidate.  Node 11 also links 3.
    E = [(1, 10), (2, 10), (1, 11), (2, 11), (3, 11)]
    out = {(r.u, r.v): r for r in W.adamic_adar(
        spark.createDataFrame(E, ["src", "dst"]), min_common=1).collect()}
    r = out[(1, 2)]
    assert r.cn == 2
    assert r.aa6 == (round(1e6 / math.log(2)) + round(1e6 / math.log(3)))
    # deg(1)=deg(2)=2 -> jaccard = 2/(2+2-2) = 1.0
    assert r.jaccard == 1.0
    # (1,3) share only middle 11
    assert out[(1, 3)].cn == 1
    assert out[(1, 3)].aa6 == round(1e6 / math.log(3))


def test_adamic_adar_excludes_existing_edges(spark):
    # triangle + chord: (1,2) adjacent -> never emitted even though
    # they share neighbor 3
    E = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)]
    out = {(r.u, r.v) for r in W.adamic_adar(
        spark.createDataFrame(E, ["src", "dst"]), min_common=1).collect()}
    assert (1, 2) not in out
    assert (3, 4) in out  # share middles 1 and 2, not adjacent


def test_adamic_adar_middle_cap_drops_hub_mediated_pairs(spark):
    # star hub 0 with 6 spokes: every spoke pair is hub-mediated only;
    # capping middles below the hub degree leaves NO pairs
    E = [(0, i) for i in range(1, 7)]
    df = spark.createDataFrame(E, ["src", "dst"])
    assert W.adamic_adar(df, max_middle_deg=5, min_common=1).count() == 0
    assert W.adamic_adar(df, max_middle_deg=6, min_common=1).count() == 15


# ------------------------------------------------- encoding signals
def test_encoding_signals_detects_damage(spark):
    clean = "a perfectly ordinary sentence"
    moji = "caf\u00c3\u00a9 and \u00e2\u0080\u0099quotes\u00e2\u0080\u0099"
    repl = "bad \ufffd\ufffd bytes"
    ctrl = "bin\x01ary\x07 junk"
    df = spark.createDataFrame(
        [(1, clean), (2, moji), (3, repl), (4, ctrl)], ["doc_id", "text"])
    out = {r.doc_id: r for r in W.encoding_signals(df).collect()}
    assert out[1].looks_clean and out[1].ascii_frac == 1.0
    assert out[2].n_mojibake == 3 and not out[2].looks_clean
    assert out[3].n_replacement == 2 and not out[3].looks_clean
    assert out[4].n_ctrl == 2 and not out[4].looks_clean


def test_encoding_signals_tab_newline_are_clean(spark):
    df = spark.createDataFrame(
        [(1, "line one\nline two\ttabbed\r\n")], ["doc_id", "text"])
    r = W.encoding_signals(df).collect()[0]
    assert r.n_ctrl == 0 and r.looks_clean


def test_encoding_signals_ascii_frac(spark):
    df = spark.createDataFrame([(1, "ab\u4e2d\u6587")], ["doc_id", "text"])
    r = W.encoding_signals(df).collect()[0]
    assert r.n_chars == 4 and r.ascii_frac == 0.5
    assert r.looks_clean  # non-ASCII is NOT damage by itself


# ----------------------------------------------------------- Benford
def test_benford_hand_chi2(spark):
    import math
    # 10 values with first digits: five 1s, five 9s (anti-Benford tail)
    vals = [1.0, 10.0, 100.0, 1.5, 19.0, 9.0, 90.0, 95.0, 9.9, 0.9]
    df = spark.createDataFrame([( "t", v) for v in vals],
                               ["event_type", "value"])
    r = W.benford_deviation(df).collect()[0]
    assert r.n == 10
    o = {1: 5, 9: 5}
    t6 = 0
    for d in range(1, 10):
        e = 10 * math.log10(1 + 1 / d)
        od = o.get(d, 0)
        t6 += round(1e6 * (od - e) ** 2 / e)
    assert r.chi2 == round(t6 / 1e6, 4)
    assert r.worst_digit == 9  # |5 - 0.46| beats |5 - 3.01|


def test_benford_conforming_stream_scores_low(spark):
    import math
    # generate a Benford-conforming sample by inverse transform over a
    # deterministic grid: value = 10^(k/200) spans digits per Benford
    vals = [(10 ** (k / 200.0)) for k in range(200)]
    bad = [float(100 + i % 7) for i in range(200)]  # digits 1 only
    df = spark.createDataFrame(
        [("good", v) for v in vals] + [("bad", v) for v in bad],
        ["event_type", "value"])
    out = {r.event_type: r for r in W.benford_deviation(df).collect()}
    assert out["good"].chi2 < 5
    assert out["bad"].chi2 > 100
    assert out["bad"].worst_digit == 1


def test_benford_ignores_nonpositive_and_subcent(spark):
    df = spark.createDataFrame(
        [("t", -5.0), ("t", 0.0), ("t", 0.004), ("t", 2.0)],
        ["event_type", "value"])
    r = W.benford_deviation(df).collect()[0]
    assert r.n == 1


# -------------------------------------------------------- assortativity
def test_assortativity_star_is_minus_one(spark):
    E = [(0, i) for i in range(1, 8)]
    r = W.assortativity(spark.createDataFrame(E, ["src", "dst"])).collect()[0]
    assert r.m_edges == 7 and r.assortativity == -1.0


def test_assortativity_regular_graph_undefined(spark):
    E = [(i, (i + 1) % 6) for i in range(6)]  # 2-regular ring
    r = W.assortativity(spark.createDataFrame(E, ["src", "dst"])).collect()[0]
    assert r.assortativity is None


def test_assortativity_matches_python_twin(spark):
    import collections
    E = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 0), (5, 1), (5, 6)]
    adj = collections.defaultdict(set)
    for a, b in E:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(s) for v, s in adj.items()}
    und = {(min(a, b), max(a, b)) for a, b in E}
    jk = [(deg[a], deg[b]) for a, b in und]
    m = len(jk)
    sjk = sum(j * k for j, k in jk)
    ss = sum(j + k for j, k in jk)
    sq = sum(j * j + k * k for j, k in jk)
    exp = round((4 * m * sjk - ss * ss) / (2 * m * sq - ss * ss), 6)
    r = W.assortativity(spark.createDataFrame(E, ["src", "dst"])).collect()[0]
    assert r.m_edges == m and r.assortativity == exp


# ------------------------------------------------ Good-Turing estimation
def test_good_turing_hand_fixture(spark):
    # corpus tokens: a a a b b c  ->  counts a:3 b:2 c:1
    # N_1 = N_2 = N_3 = 1, N = 6
    # r=1: r* = 2*N_2/N_1 = 2.0 ; r=2: r* = 3*N_3/N_2 = 3.0
    # r=3: N_4 = 0 -> r* = 0.0 (simple-GT undefined tail, documented)
    df = spark.createDataFrame([(1, "a a a b b c")], ["doc_id", "text"])
    out = {r.r: r for r in W.good_turing(df).collect()}
    assert set(out) == {1, 2, 3}
    assert all(out[r].n_r == 1 for r in (1, 2, 3))
    assert out[1].r_star == 2.0 and out[1].p_gt == round(2 / 6, 8)
    assert out[2].r_star == 3.0 and out[2].p_gt == 0.5
    assert out[3].r_star == 0.0 and out[3].p_gt == 0.0


def test_good_turing_counts_of_counts_conservation(spark):
    # sum(r * N_r) over the table must equal the corpus token count,
    # and the unseen mass N_1/N is what GT reserves: check both on
    # real corpus text
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = W.good_turing(docs).collect()
    n_total = sum(r.r * r.n_r for r in rows)
    from pyspark.sql import functions as F
    tok = (docs.select(F.explode(
        F.split(F.trim(F.lower("text")), r"\s+")).alias("t"))
        .where(F.col("t") != "").count())
    assert n_total == tok and len(rows) > 0
    # the synthetic corpus vocabulary has no hapax legomena (every
    # token type repeats), so N_1 may legitimately be 0 here — the
    # hand fixture above pins the N_1-driven adjustments instead
    assert all(r.n_r > 0 and r.r > 0 for r in rows)


# ---------------------------------------------------- graph reciprocity
def test_reciprocity_hand_graph(spark):
    # edges {(1,2),(2,1),(1,3)} + a self-loop that must be dropped:
    # N=3, L=3, L_recip=2 -> r = 2/3; abar = 3/6 = 0.5,
    # rho = (2/3 - 1/2)/(1 - 1/2) = 1/3
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 3)], ["src", "dst"])
    (r,) = W.reciprocity(df).collect()
    assert (r.n_nodes, r.n_edges, r.n_recip) == (3, 3, 2)
    assert r.r == round(2 / 3, 6) and r.rho == round(1 / 3, 6)


def test_reciprocity_complete_graph_rho_null(spark):
    # a complete 2-node digraph has abar = 1: rho undefined -> NULL,
    # r = 1.0 (every edge reciprocated)
    df = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    (r,) = W.reciprocity(df).collect()
    assert r.r == 1.0 and r.rho is None


# ------------------------------------------------- Flesch reading ease
def test_flesch_hand_doc_and_empty(spark):
    # "the cat sat. the dog ran!" -> 6 words, 2 sentences, 6 vowel
    # runs -> 206.835 - 1.015*3 - 84.6*1 = 119.19 -> very_easy
    df = spark.createDataFrame(
        [(1, "the cat sat. the dog ran!"), (2, "   ")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in W.flesch_reading(df).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (6, 2, 6)
    assert r1.flesch == round(206.835 - 1.015 * 3 - 84.6 * 1, 4)
    assert r1.band == "very_easy"
    assert out[2].flesch is None and out[2].band is None


def test_flesch_bands_are_ordered(spark):
    # a dense polysyllabic doc must score lower than simple prose
    simple = "the cat sat on the mat. it was fun. we ran and ran."
    dense = ("incomprehensibility characterizes institutionalized "
             "overintellectualization; epistemological "
             "deterritorialization necessitates recontextualization.")
    df = spark.createDataFrame(
        [(1, simple), (2, dense)], ["doc_id", "text"])
    out = {r.doc_id: r.flesch for r in W.flesch_reading(df).collect()}
    assert out[1] > out[2]


# ----------------------------------------- Dunning LLR collocations
def test_llr_hand_value_and_independence_zero(spark):
    import math
    # "x y x y x y": bigrams (x,y):3 (y,x):2, N=5; for (x,y):
    # k=(3,0,0,2) -> G2 = 2*(3 ln(15/9) + 2 ln(10/4))
    df = spark.createDataFrame([(1, "x y x y x y")], ["doc_id", "text"])
    out = {(r.w1, r.w2): r.llr
           for r in W.llr_collocations(df, min_count=1).collect()}
    expect = round(2 * (3 * math.log(15 / 9) + 2 * math.log(10 / 4)), 4)
    assert out[("x", "y")] == expect
    # perfectly independent 2x2 (all cells 1): observed == expected
    # under independence -> G2 exactly 0 for every pair
    df2 = spark.createDataFrame(
        [(1, "a b"), (2, "a c"), (3, "d b"), (4, "d c")],
        ["doc_id", "text"])
    out2 = {(r.w1, r.w2): r.llr
            for r in W.llr_collocations(df2, min_count=1).collect()}
    assert set(out2.values()) == {0.0}


def test_llr_matches_python_twin_on_corpus(spark):
    import math
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {(r.w1, r.w2): (r.c2, r.llr)
           for r in W.llr_collocations(docs, min_count=5).collect()}
    # sequential twin
    from collections import Counter
    bi = Counter()
    for row in docs.select("text").collect():
        tk = row.text.strip().lower().split()
        for a, b in zip(tk, tk[1:]):
            bi[(a, b)] += 1
    rm, cm = Counter(), Counter()
    for (a, b), c in bi.items():
        rm[a] += c
        cm[b] += c
    nn = sum(bi.values())

    def t(k, row, col):
        return k * math.log(k * nn / (row * col)) if k > 0 else 0.0
    twin = {}
    for (a, b), c in bi.items():
        if c >= 5:
            g2 = 2 * (t(c, rm[a], cm[b]) + t(rm[a] - c, rm[a], nn - cm[b])
                      + t(cm[b] - c, nn - rm[a], cm[b])
                      + t(nn - rm[a] - cm[b] + c, nn - rm[a], nn - cm[b]))
            twin[(a, b)] = (c, round(g2, 4))
    assert set(got) == set(twin) and len(got) > 0
    for k in got:
        assert got[k][0] == twin[k][0]
        assert abs(got[k][1] - twin[k][1]) <= 0.0002, (k, got[k], twin[k])


# ------------------------------------------------- term burstiness
def test_burstiness_content_vs_function_words(spark):
    # 'noriega' repeats within its docs (bursty content word);
    # 'the' appears once per doc (scattered function word)
    docs = [(i, "the noriega noriega noriega story %d" % i)
            for i in range(5)]
    docs += [(10 + i, "the plain sentence number %d" % i)
             for i in range(5)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.term: r for r in
           W.term_burstiness(df, min_cf=3).collect()}
    nor, the = out["noriega"], out["the"]
    assert (nor.cf, nor.df, nor.df2) == (15, 5, 5)
    assert nor.burst == 3.0 and nor.p2 == 1.0
    assert (the.cf, the.df, the.df2) == (10, 10, 0)
    assert the.burst == 1.0 and the.p2 == 0.0


# ---------------------------------------------- per-source KL divergence
def test_source_kl_identical_source_is_zero_and_skew_positive(spark):
    # a source with the corpus-average distribution has KL ~ 0; a
    # skewed source diverges positively (Gibbs' inequality)
    rows = [(i, "alpha beta gamma delta", "s_avg") for i in range(4)]
    rows += [(10 + i, "alpha alpha alpha alpha", "s_skew")
             for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.source: r for r in W.source_kl(df).collect()}
    assert out["s_skew"].kl > out["s_avg"].kl >= 0.0
    assert out["s_skew"].vocab == 1 and out["s_avg"].vocab == 4


def test_source_kl_matches_sequential_twin(spark):
    import math
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {r.source: r.kl for r in W.source_kl(docs).collect()}
    from collections import Counter
    per, tot = {}, Counter()
    for row in docs.select("source", "text").collect():
        c = per.setdefault(row.source, Counter())
        for w in row.text.strip().lower().split():
            c[w] += 1
            tot[w] += 1
    nn = sum(tot.values())
    for s, c in per.items():
        n_s = sum(c.values())
        k9 = sum(round((cw / n_s) * math.log((cw * nn) / (tot[w] * n_s))
                       * 1e9)
                 for w, cw in c.items())
        assert got[s] == round(k9 / 1e9, 4), s
