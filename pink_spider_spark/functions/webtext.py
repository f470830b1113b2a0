"""Webtext training-data pipeline operators: Gopher-style quality
signals, corpus-level line dedup, near-dup cluster assignment via
connected components, PII scrubbing, int8 embedding quantization.

These extend the engine beyond the reference's own operator set toward
what a 100 TB training-data pipeline needs (the reference's extraction
loop feeds exactly such a pipeline):

- ``gopher_signals``   — repetition/quality heuristics per document in
  the style of Gopher (Rae et al. 2021) / C4: all in-row JVM column
  expressions (higher-order functions), zero shuffle, narrow plan.
- ``dedup_lines``      — corpus-level first-seen line deduplication
  (RefinedWeb / FineWeb line-dedup): one shuffle keyed on the line
  string with map-side combine (groupBy-min, not a window sort).
- ``connected_components`` / ``dedup_clusters`` — turn near-dup PAIRS
  (MinHash-LSH candidates) into per-document cluster ids via min-label
  propagation; the step every real dedup pipeline needs after pair
  generation (cf. Lee et al. 2022, "Deduplicating Training Data Makes
  Language Models Better").
- ``scrub_pii`` / ``pii_counts`` — regex PII redaction (emails, phone
  numbers) as pure JVM ``regexp_replace`` / ``regexp_extract_all``.
- ``int8_quant_stats`` — symmetric per-vector int8 quantization stats
  (the storage/ANN-memory scale path for embedding columns).

Scale notes (100 TB):
- gopher_signals is per-row O(tokens·distinct) with no shuffle; it
  pipelines inside WholeStageCodegen with the parquet scan.
- dedup_lines shuffles once, hash-partitioned by line content; the
  map-side ``min(struct(doc_id,pos))`` combine collapses duplicate
  lines per partition before the exchange, so a line repeated a
  million times ships one row per map task, not a million.
- connected_components is the standard iterative-join form with
  ``localCheckpoint`` per round to truncate lineage (without it the
  plan doubles every iteration).  Rounds = cluster diameter — tiny for
  near-dup graphs.  For adversarial web-scale diameters,
  ``connected_components_star`` (large-star/small-star, Kiveris et al.
  2014) is the implemented swap: same join primitive, O(log² n) rounds
  (a 48-node path labels in 7 rounds where min-label needs 47).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import graph as G
from . import text as X
from .fanout import fan_out

# ------------------------------------------------------------- gopher
# Thresholds chosen so the synthetic corpus splits non-degenerately
# (221/500 pass at sf0.01); the *signals* are the operator, the
# thresholds are configuration.
GOPHER_MIN_WORDS = 40
GOPHER_MWL_RANGE = (3.0, 10.0)
GOPHER_MIN_TTR = 0.35
GOPHER_MAX_TOP_TOKEN_FRAC = 0.12


def gopher_signals(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document quality/repetition signals (Gopher rules 1/4/8-ish):
    word count, mean word length, type-token ratio, top-token fraction,
    and the pass/fail verdict.  All in-row expressions — the plan is a
    narrow projection over the scan.  ``passes_gopher`` is computed from
    the ROUNDED signals so the boolean is bit-stable across engines."""
    tk = X.tokens(F.lower(F.col(text_col)))
    n = F.size(tk).cast("double")
    mwl = F.round(
        F.aggregate(tk, F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t)).cast("double") / n, 4)
    ttr = F.round(F.size(F.array_distinct(tk)) / n, 4)
    # top-token frequency = longest run in the sorted token array, found
    # in ONE linear pass with a (prev, run, best) fold.  The previous form
    # (array_max over per-distinct-token F.filter rescans) was
    # O(n_tokens * n_distinct) per row — ~1e9 comparisons on a
    # pathological 100k-token high-TTR document, all on one task.  Same
    # value, same oracle hash (max multiplicity / n either way), still
    # in-row and shuffle-free.
    run0 = F.struct(F.lit("").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best"))
    max_run = F.aggregate(
        F.sort_array(tk), run0,
        lambda a, t: F.struct(
            t.alias("prev"),
            F.when(t == a.prev, a.run + 1).otherwise(F.lit(1).cast("long"))
             .alias("run"),
            F.greatest(
                a.best,
                F.when(t == a.prev, a.run + 1)
                 .otherwise(F.lit(1).cast("long"))).alias("best")),
        lambda a: a.best)
    ttf = F.round(F.when(n > 0, max_run / n), 4)
    out = (df.select(F.col(id_col), n.cast("long").alias("n_words"),
                     mwl.alias("mean_word_len"), ttr.alias("ttr"),
                     ttf.alias("top_token_frac")))
    return out.withColumn(
        "passes_gopher",
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MWL_RANGE[0])
        & (F.col("mean_word_len") <= GOPHER_MWL_RANGE[1])
        & (F.col("ttr") >= GOPHER_MIN_TTR)
        & (F.col("top_token_frac") <= GOPHER_MAX_TOP_TOKEN_FRAC))


# --------------------------------------------------------- line dedup
def wrap_lines(text_col: Column, k: int = 10) -> Column:
    """Deterministically re-wrap a single-line document into k-token
    "lines" (the synthetic corpus carries no newlines; real pages keep
    their own line structure and skip this step).  i ranges over
    {i : i*k < n_tokens} — identical to the oracle's constant-series
    + WHERE form."""
    tk = X.tokens(text_col)
    n_lines = F.ceil(F.size(tk) / F.lit(float(k))).cast("int")
    # empty/whitespace-only documents wrap to ZERO lines (they vanish in
    # dedup_lines), not one empty-string line — F.split('') yields ['']
    # so the emptiness test is on the trimmed text, mirrored by the
    # oracle's AND trim(text) <> '' guard
    return F.when(
        F.trim(text_col) == "", F.array().cast("array<string>")
    ).otherwise(F.transform(
        F.sequence(F.lit(0), F.greatest(n_lines - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(tk, i * k + 1, k), " ")))


def dedup_lines(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", k: int = 10) -> DataFrame:
    """Corpus-level exact line dedup, first occurrence wins (ordered by
    (doc_id, line position)).  groupBy-min with map-side combine — NOT a
    window over the line partition, so a hot line never concentrates its
    full duplicate set on one task's sort.  Documents whose every line
    is a duplicate vanish (the RefinedWeb behavior).

    Line wrapping amplifies per-row work ×n_lines, so a small
    single-file scan is fanned out first (no-op at scale); min/count
    aggs are order-free under any partitioning."""
    df = fan_out(df)
    lines = df.select(
        F.col(id_col),
        F.posexplode(wrap_lines(F.col(text_col), k)).alias("pos", "line"))
    kept = (
        lines.groupBy("line")
        .agg(F.min(F.struct(F.col(id_col).alias("doc_id"),
                            F.col("pos").alias("pos"))).alias("keep"))
        .select(F.col("keep.doc_id").alias(id_col),
                F.col("keep.pos").alias("pos"), "line"))
    return (
        kept.groupBy(id_col)
        .agg(F.count("*").cast("long").alias("kept_lines"),
             F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "line"))),
                     lambda s: s["line"]),
                 "\n").alias("dedup_text")))


# ------------------------------------------- connected components / CC
def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_iter: int = 25) -> DataFrame:
    """Min-label propagation over an undirected edge set.

    ``nodes``: one column ``node``; ``edges``: columns ``src``/``dst``
    (either direction).  Returns (node, label) where label = min node id
    reachable.  Each round is one shuffle keyed on node id; the result
    frame is pinned with ``localCheckpoint(eager=True)`` so the iterative
    lineage is truncated (same recompute-hazard discipline as
    crawl/scheduler.wave_order).  Converges in ≤ diameter rounds and
    stops early via a limit-1 changed-row probe."""
    sym = G.undirected_edges(edges, "src", "dst", "src")
    labels = (nodes.select("node", F.col("node").alias("label"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        neigh = (sym.join(labels, sym["src"] == labels["node"])
                 .select(F.col("dst").alias("node"), "label"))
        new = (labels.unionByName(neigh)
               .groupBy("node").agg(F.min("label").alias("label"))
               .localCheckpoint(eager=True))
        changed = (new.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())
        labels = new
        if changed == 0:
            break
    return labels


def dedup_clusters(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 5,
                   n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Near-dup cluster assignment: MinHash-LSH candidate pairs →
    connected components → (doc_id, cluster_id, cluster_size).
    Singletons cluster to themselves; cluster_id = min doc_id in the
    component (the canonical "keeper")."""
    pairs = X.minhash_lsh_pairs(df, text_col, id_col, k, n_hashes, bands)
    nodes = df.select(F.col(id_col).alias("node"))
    cc = connected_components(
        nodes, pairs.select(F.col("id_a").alias("src"),
                            F.col("id_b").alias("dst")))
    sizes = cc.groupBy("label").agg(
        F.count("*").cast("long").alias("cluster_size"))
    return (cc.join(sizes, "label")
            .select(F.col("node").alias(id_col),
                    F.col("label").cast("long").alias("cluster_id"),
                    "cluster_size"))


# ----------------------------------------------------------------- PII
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\d{3}-\d{4}"


def pii_counts(col: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts — RE2-compatible patterns so
    the same regex runs on both engines."""
    return (F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), 0)).cast("long"),
            F.size(F.regexp_extract_all(col, F.lit(PHONE_RE), 0)).cast("long"))


def scrub_pii(col: Column) -> Column:
    """Redact emails then phone numbers (order matters: email
    local-parts may contain digits)."""
    return F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"),
        PHONE_RE, "<PHONE>")


# -------------------------------------------------------- quantization
def int8_quant_stats(vec_col: Column) -> tuple[Column, Column, Column]:
    """Symmetric int8 quantization of a float embedding: scale =
    max|x|/127, q = round(x/scale).  Returns (scale rounded 8dp, L1 norm
    of q, saturated-dim count) — scalar stats so the cross-engine hash
    compares numbers, not array renderings.  All math in double (float
    → double casts are exact)."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = F.greatest(maxabs, F.lit(1e-12)) / F.lit(127.0)
    q = F.transform(v, lambda x: F.round(x / scale, 0).cast("long"))
    l1 = F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x))
    sat = F.size(F.filter(q, lambda x: F.abs(x) == 127)).cast("long")
    return (F.round(scale, 8).alias("scale"),
            l1.alias("q_l1"),
            sat.alias("saturated"))


# ---------------------------------------------------------- repetition
def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher repetition rules 5/6-style: the most frequent word-bigram's
    share of all bigrams, and the fraction of trigram OCCURRENCES whose
    trigram repeats within the document, computed IN-ROW as one Arrow
    mapInPandas pass with a per-doc Counter — no shuffle, no per-gram
    rows.  A doc emits a row iff it has ≥3 tokens; max_bi / n_bi and
    dup_tri / n_tri are single IEEE divides of exact integers
    (n_bi = n−1, n_tri = n−2 occurrences).

    Tokens are :func:`X.split_tokens` and rounding is
    :func:`X.round_half_up`, so it is bit-equal to the relational
    explode+agg ``tests/spec_forms.py`` form, pinned by
    ``test_repetition_signals_vectorized_equals_relational``."""
    from pyspark.sql import types as T

    from .udfs import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)  # run() calls X.split_tokens
    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField("top_bigram_frac", T.DoubleType()),
        T.StructField("dup_trigram_frac", T.DoubleType())])

    def run(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            ids, tb, dt = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = X.split_tokens(str(text).lower())
                n = len(toks)
                if n < 3:
                    continue
                bc = Counter(" ".join(toks[i:i + 2]) for i in range(n - 1))
                tc = Counter(" ".join(toks[i:i + 3]) for i in range(n - 2))
                ids.append(did)
                tb.append(X.round_half_up(max(bc.values()) / float(n - 1), 4))
                dt.append(X.round_half_up(
                    sum(c for c in tc.values() if c > 1) / float(n - 2), 4))
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "top_bigram_frac": pd.Series(tb, dtype="float64"),
                "dup_trigram_frac": pd.Series(dt, dtype="float64")})

    return fan_out(df.select(id_col, text_col)).mapInPandas(run, out_schema)


# --------------------------------------------------------------- tf-idf
def distinctive_terms_topk(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-k distinctive terms per document: ranked by (tf DESC, df ASC,
    token ASC) — term frequency first, corpus rarity as the tie-break —
    with the tf-idf score (tf·ln((N+1)/(df+1))) exposed rounded.  The
    rank key is all-integer so the ordering is bit-stable across engines
    (ranking directly on the float score would hinge on ulp-level libm
    agreement).  Shuffles are keyed on token (df) and doc (tf/top-k) —
    both linear; the df side is a broadcast-sized aggregate for any
    real vocabulary."""
    tok = (df.select(F.col(id_col),
                     F.explode(X.tokens(F.lower(F.col(text_col))))
                     .alias("token")))
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    n_docs = df.select(id_col).distinct().count()
    dfreq = (tok.select(id_col, "token").distinct()
             .groupBy("token").agg(F.count("*").alias("df")))
    from pyspark.sql import Window
    w = (Window.partitionBy(id_col)
         .orderBy(F.desc("tf"), F.asc("df"), F.asc("token")))
    return (tf.join(dfreq, "token")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "token", F.col("rank").cast("long").alias("rank"),
                    F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"),
                    F.round(F.col("tf") * F.log(
                        F.lit(float(n_docs + 1)) / (F.col("df") + 1)), 4)
                    .alias("tfidf")))


# ------------------------------------------------------------ sampling
def stratified_sample(df: DataFrame, strata_col: str, rates: dict,
                      id_col: str = "doc_id",
                      default_rate: float = 0.1) -> DataFrame:
    """Deterministic hash-based stratified sampling (training-mix
    construction): keep a row iff h60(id)%10000 < rate[stratum]*10000.
    Pure in-row predicate — pushes into the scan, no shuffle, and the
    same row set is selected on every engine/run (unlike df.sample)."""
    h = X.h60(F.col(id_col).cast("string"))
    rate = F.lit(float(default_rate))
    for key, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == key, F.lit(float(r))).otherwise(rate)
    # round() before the cast: a bare cast truncates, so rates whose
    # double product lands just under the integer (0.3 -> 2999.999...)
    # would cut one bucket short of the oracle's rounding CAST
    return df.filter(F.pmod(h, F.lit(10000)) <
                     F.round(rate * 10000, 0).cast("long"))


# ----------------------------------------------------- decontamination
def word_ngrams(text_col: Column, n: int) -> Column:
    """Word n-grams (space-joined, lowercased); empty array when the
    document has fewer than n tokens."""
    tk = X.tokens(F.lower(text_col))
    m = F.size(tk)
    return F.when(m >= n, F.transform(
        F.sequence(F.lit(1), m - (n - 1)),
        lambda i: F.array_join(F.slice(tk, i, n), " "))
    ).otherwise(F.array().cast("array<string>"))


def _distinct_ngrams(df: DataFrame, text_col: str, id_col: str,
                     n: int) -> DataFrame:
    """(id, gram) rows — one per DISTINCT word n-gram per document — as
    one Arrow mapInPandas pass: each gram is the space-join of a
    lowercased :func:`X.split_tokens` slice, the rows of
    ``explode(array_distinct(word_ngrams(text, n)))``.  Docs with fewer
    than n tokens emit nothing (explode-of-empty-array semantics)."""
    from pyspark.sql import types as T

    from .udfs import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)  # run() calls X.split_tokens
    out_schema = T.StructType([
        df.schema[id_col], T.StructField("gram", T.StringType())])

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids, grams = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = X.split_tokens(str(text).lower())
                m = len(toks)
                if m < n:
                    continue
                seen = dict.fromkeys(
                    " ".join(toks[i:i + n]) for i in range(m - n + 1))
                ids.extend([did] * len(seen))
                grams.extend(seen)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "gram": pd.Series(grams, dtype="object")})

    return fan_out(df.select(id_col, text_col)).mapInPandas(run, out_schema)


def contamination(docs: DataFrame, bench: DataFrame, n: int = 3,
                  threshold: float = 0.5, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination (GPT-3 appx C / Llama-style n-gram
    overlap): for every candidate document, the fraction of its DISTINCT
    word n-grams that appear anywhere in the benchmark/eval set.  A doc
    is ``contaminated`` when that fraction reaches ``threshold``.

    Scale shape: the benchmark side is an eval suite — MBs, not TBs —
    so its distinct-gram set is broadcast; the corpus side computes
    per-doc distinct grams IN-ROW (:func:`_distinct_ngrams`, no
    (doc,gram) shuffle) and the only exchange is the doc-keyed count
    aggregation with map-side combine.  Linear in corpus size, no skew
    surface (gram hot-ness never forms a join key on the big side — the
    join is broadcast-hash).

    The corpus-side grams come from :func:`X.split_tokens`, so the rows
    are byte-equal to the relational ``tests/spec_forms.py`` form,
    pinned by ``test_contamination_vectorized_equals_relational``."""
    cand = _distinct_ngrams(docs, text_col, id_col, n)
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


# ----------------------------------------------------- unigram LM score
def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """CCNet-style LM quality proxy: corpus unigram model P(w) = c_w/total,
    per-document score = -mean log2 P(w) (bits/token — the exponent of a
    unigram perplexity).  Outlier-high means rare-token soup; outlier-low
    means degenerate repetition — both are filter targets.

    Two doc-independent aggregations, both linear: a token-keyed count
    (the vocabulary — small, broadcast back) and a doc-keyed average.
    The corpus total rides the vocab frame via a broadcast single-row
    cross join, so the corpus is scanned exactly twice and no scalar
    ever blocks on the driver."""
    # token explosion ×n_tokens, evaluated for both aggregations — fan
    # the small input out first (no-op at scale); the per-doc avg's
    # accumulation order is pinned oracle-green at both SFs with the
    # fan-out active (4-dp round absorbs grouping-order ULP noise)
    tok = fan_out(df).select(
        F.col(id_col),
        F.explode(X.tokens(F.lower(F.col(text_col)))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("total"))
    model = vocab.crossJoin(F.broadcast(total))
    return (tok.join(F.broadcast(model), "token")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.round(-F.avg(F.log2(F.col("c").cast("double")
                                       / F.col("total"))), 4)
                 .alias("bits_per_token")))


# ------------------------------------------------- filter pipeline
def filter_pipeline(docs: DataFrame, bench: DataFrame, n: int = 3,
                    threshold: float = 0.5, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """End-to-end kept-corpus decision — the materialization step of a
    training-data pipeline: a document is kept iff it (1) passes the
    Gopher quality gate, (2) is the first-seen copy of its normalized
    fingerprint (exact dedup), (3) is not n-gram-contaminated against
    the benchmark, and (4) is not itself a benchmark document.  Emits
    one row per document with each component verdict, so the decision
    is auditable (why was this doc dropped?).

    All components reuse the individually-verified operators; the plan
    is three doc-keyed joins (fingerprint-keyed dedup agg + two
    broadcast-fed aggregates), every shuffle keyed on doc or
    fingerprint — linear, no skew surface."""
    bench_ids = bench.select(F.col(id_col)).withColumn("in_b", F.lit(True))
    cand = docs.join(bench_ids.select(id_col), id_col, "left_anti")
    g = gopher_signals(docs, text_col, id_col).select(
        id_col, "passes_gopher")
    cont = contamination(cand, bench, n, threshold, text_col, id_col) \
        .select(id_col, "contaminated")
    keepers = (docs
               .withColumn("fp", X.fingerprint(F.col(text_col)))
               .groupBy("fp").agg(F.min(id_col).alias(id_col))
               .select(id_col).withColumn("is_keeper", F.lit(True)))
    out = (docs.select(id_col)
           .join(g, id_col)
           .join(F.broadcast(bench_ids), id_col, "left")
           .join(cont, id_col, "left")
           .join(keepers, id_col, "left"))
    in_bench = F.coalesce(F.col("in_b"), F.lit(False))
    contaminated = F.coalesce(F.col("contaminated"), F.lit(False))
    is_dup = ~F.coalesce(F.col("is_keeper"), F.lit(False))
    return out.select(
        id_col, "passes_gopher", in_bench.alias("in_benchmark"),
        contaminated.alias("contaminated"), is_dup.alias("is_dup"),
        (F.col("passes_gopher") & ~in_bench & ~contaminated & ~is_dup)
        .alias("kept"))


# ----------------------------------------------- exact substring dedup
def _token_window_hashes(df: DataFrame, text_col: str, id_col: str,
                         k: int) -> DataFrame:
    """(id, tk, whs) as ONE Arrow mapInPandas pass: ``tk`` is
    :func:`X.split_tokens` of the text and ``whs`` the md5 hex of every
    space-joined k-token window (1-based starts 1..n-k+1; empty below k
    tokens) — the cross-engine window key, the identical string in
    DuckDB's md5().  The tokens and md5s are byte-equal to the relational
    ``(tokens, window_hashes)`` ``tests/spec_forms.py`` form, pinned by
    ``test_token_window_hashes_vectorized_equals_relational``."""
    from pyspark.sql import types as T

    from .udfs import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)  # run() calls X.split_tokens
    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField("tk", T.ArrayType(T.StringType())),
        T.StructField("whs", T.ArrayType(T.StringType()))])

    def run(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, tks, whss = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = X.split_tokens(str(text))
                n = len(toks)
                whs = [hashlib.md5(
                    " ".join(toks[i:i + k])
                    .encode("utf-8", "surrogatepass")).hexdigest()
                    for i in range(n - k + 1)] if n >= k else []
                ids.append(did)
                tks.append(toks)
                whss.append(whs)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "tk": tks, "whs": whss})

    return fan_out(df.select(id_col, text_col)).mapInPandas(run, out_schema)


def exact_substring_dedup(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 20) -> DataFrame:
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", ExactSubstr): any
    k-token run that appears anywhere else in the corpus is removed
    from every occurrence EXCEPT the globally first one (ordered by
    (doc_id, position)).  Output per non-blank document: token count,
    number of tokens removed, and the surviving text (tokens not
    covered by any removed duplicate window, original order).

    The paper builds a single suffix array — inherently sequential.
    The distributed form used here is the standard fingerprint-window
    analog: emit a rolling k-token window fingerprint per position,
    find fingerprints with count > 1, keep the first occurrence, and
    cut the token span of every later occurrence (overlapping spans
    union naturally at the covered-token level).

    Scale shape (100 TB): row amplification is ×n_tokens (same as
    dedup_lines); three keyed shuffles, all with map-side combine —
    (1) groupBy window-hash with min(struct(doc,pos))+count (a window
    repeated a million times collapses to one row per map partition
    before the exchange — no hot-key sort), (2) the wins⋈firsts
    equi-join on the hash (AQE-planned, both sides already
    hash-partitioned on the key), (3) the per-doc covered-index
    collect_set (bounded by doc length).  The final token filter is
    in-row (higher-order F.filter with index lambda), no UDF.

    The window fingerprints come from one Arrow pass
    (:func:`_token_window_hashes`); every aggregation here is
    min/count/collect_set — order-free, so partitioning cannot move
    the answer."""
    docs = df.filter(F.trim(F.col(text_col)) != "")
    toks = _token_window_hashes(docs, text_col, id_col, k)
    wins = toks.select(
        F.col(id_col),
        F.posexplode("whs").alias("pos0", "wh")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "wh")
    firsts = (wins.groupBy("wh")
              .agg(F.min(F.struct(F.col(id_col).alias("d"),
                                  F.col("pos").alias("p"))).alias("keep"),
                   F.count("*").alias("c")))
    dup_occ = (wins.join(firsts.filter(F.col("c") > 1), "wh")
               .filter(~((F.col(id_col) == F.col("keep.d"))
                         & (F.col("pos") == F.col("keep.p")))))
    covset = (dup_occ
              .select(F.col(id_col),
                      F.explode(F.sequence(
                          F.col("pos"),
                          F.col("pos") + F.lit(k - 1))).alias("ti"))
              .groupBy(id_col)
              .agg(F.collect_set("ti").alias("cov")))
    cov = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    return (toks.join(covset, id_col, "left")
            .select(F.col(id_col),
                    F.size("tk").cast("long").alias("n_tokens"),
                    F.size(cov).cast("long").alias("removed_tokens"),
                    F.array_join(
                        F.filter("tk", lambda x, i:
                                 ~F.array_contains(cov, i + 1)),
                        " ").alias("kept_text")))


# ------------------------------------------------------- shard packing
def pack_shards(df: DataFrame, shard_tokens: int = 1_000_000,
                text_col: str = "text", id_col: str = "doc_id",
                distributed_threshold: int | None = 2048) -> DataFrame:
    """Training-shard assignment: lay documents end-to-end in ``id_col``
    order and assign each to the shard its STARTING token offset falls
    in (``shard_id = token_offset // shard_tokens``) — the packing step
    that turns a filtered corpus into fixed-budget training files.
    Documents are never split; a doc straddling a boundary belongs to
    the shard it starts in (document-contiguous packing).

    The global running sum is the interesting part at scale: a plain
    ``Window.orderBy(id)`` cumsum funnels the corpus through ONE
    post-shuffle partition.  Above ``distributed_threshold`` rows the
    same prefix sum is computed with no serial stage (the wave_order
    discipline, crawl/scheduler.py): range-repartition on the id, an
    in-partition cumsum window, then per-partition token totals —
    one tiny row per partition — prefix-summed on the driver and added
    back as a literal map.  ``localCheckpoint`` pins the partition
    assignment so a recomputation cannot re-sample different range
    boundaries under the collected totals (same recompute hazard as
    wave_order).  ``distributed_threshold=None`` forces the single
    window; ``0`` forces the distributed path."""
    n_tok = F.when(F.trim(F.col(text_col)) == "", F.lit(0)) \
        .otherwise(X.token_count(F.col(text_col))).cast("long")
    base = df.select(F.col(id_col), n_tok.alias("n_tokens"))
    from pyspark.sql import Window

    def finish(frame, off):
        return frame.select(
            F.col(id_col), "n_tokens",
            off.cast("long").alias("token_offset"),
            F.floor(off / F.lit(shard_tokens)).cast("long").alias("shard_id"))

    if distributed_threshold is not None:
        n = base.count()
    if distributed_threshold is None or n <= int(distributed_threshold):
        w = (Window.orderBy(F.asc(id_col))
             .rowsBetween(Window.unboundedPreceding, -1))
        return finish(base, F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))

    par = max(base.sparkSession.sparkContext.defaultParallelism, 8)
    ranged = base.repartitionByRange(par, F.asc(id_col))
    w_part = (Window.partitionBy("__pid").orderBy(F.asc(id_col))
              .rowsBetween(Window.unboundedPreceding, -1))
    local = (ranged
             .withColumn("__pid", F.spark_partition_id())
             .withColumn("__local_off",
                         F.coalesce(F.sum("n_tokens").over(w_part), F.lit(0)))
             .localCheckpoint(eager=True))
    sums = {r["__pid"]: r["s"] for r in
            local.groupBy("__pid").agg(F.sum("n_tokens").alias("s")).collect()}
    if not sums:
        return finish(base, F.lit(0))
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    omap = F.create_map(*[x for pid in sorted(sums)
                          for x in (F.lit(pid), F.lit(offsets[pid]))])
    return finish(local.withColumn(
        "__off", F.col("__local_off") + omap[F.col("__pid")]),
        F.col("__off")).select(id_col, "n_tokens", "token_offset", "shard_id")


# --------------------------------------------- CCNet perplexity buckets
def ccnet_buckets(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  lang_col: str = "lang") -> DataFrame:
    """CCNet-style LM-quality bucketing (Wenzek et al. 2020): within each
    language, split the corpus into head / middle / tail terciles by
    unigram bits-per-token (CCNet's per-language perplexity percentile
    cut — head = most fluent third, tail = filter-or-downweight third).

    Determinism: bits_per_token is already 4-dp-rounded, so the tercile
    input is integerized exactly (×10⁴ → long); both engines then run
    the SAME linear-interpolation percentile over identical integers
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``), and the bucket
    test compares the integer against the cut, which is only attainable
    exactly when the cut itself is integral — so the boundary decision
    is bit-identical cross-engine.

    Scale shape: the language cut table is |langs| rows (broadcast);
    the only shuffles are unigram_logprob's two linear aggs plus one
    lang-keyed percentile agg (mergeable sketch at 100 TB: swap
    ``percentile`` for ``percentile_approx`` — same plan shape)."""
    lp = unigram_logprob(df, text_col, id_col)
    scored = (lp.join(df.select(id_col, lang_col), id_col)
              .withColumn("__b4", F.round(F.col("bits_per_token") * 10000)
                          .cast("long")))
    cuts = (scored.groupBy(lang_col)
            .agg(F.percentile("__b4", F.array(F.lit(1.0 / 3.0),
                                              F.lit(2.0 / 3.0)))
                 .alias("__q"))
            .select(lang_col, F.col("__q")[0].alias("__c1"),
                    F.col("__q")[1].alias("__c2")))
    return (scored.join(F.broadcast(cuts), lang_col)
            .select(id_col, lang_col, "bits_per_token",
                    F.when(F.col("__b4") <= F.col("__c1"), F.lit("head"))
                    .when(F.col("__b4") <= F.col("__c2"), F.lit("middle"))
                    .otherwise(F.lit("tail")).alias("bucket")))


# ------------------------------------------------ DSIR importance weights
DSIR_BUCKETS = 10007  # prime → near-uniform occupancy under the 60-bit hash


def dsir_weights(df: DataFrame, target_pred,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    how target-like its hashed-bigram distribution is.  Features are
    word bigrams hashed into ``n_buckets``; the per-bucket log-ratio
    λ(b) = log₂ p̂_target(b) − log₂ p̂_raw(b) (add-one smoothing), and a
    document's log-weight is Σ over its bigram OCCURRENCES of λ(bucket).
    ``target_pred`` is a boolean Column selecting the in-domain rows of
    ``df`` (DSIR's target sample — e.g. a trusted-language slice).

    Determinism: λ is integerized at 6-dp resolution via FLOOR(λ·10⁶)
    (floor of a double is bit-exact cross-engine, where round() diverges
    on exact decimal halves — the quality_score lesson), so the
    per-document reduction is an exact integer sum (order-free); the
    final value is that integer divided by 10⁶ with NO decimal
    re-rounding (sum/1e6 is the same correctly-rounded IEEE double in
    every engine; a round(·,4) on top would re-introduce exact-half
    divergence, e.g. sums ending in …50).

    Scale shape: ONE bucket-keyed aggregation builds both distributions
    (target via a conditional sum — no second corpus scan), the λ table
    is ``n_buckets`` rows (broadcast), and the per-doc score is one
    doc-keyed integer agg.  Linear, no skew surface: bucket ids are
    hash-uniform by construction."""
    # bigram explosion amplifies per-row work ×n_tokens and is evaluated
    # twice (distribution build + per-doc scoring); fan the small input
    # out to the session parallelism when a single-file scan would pin
    # both passes on one core (no-op at scale).  All aggregations below
    # are integer counts/sums — order-free under any partitioning.
    grams = fan_out(df).select(
        F.col(id_col), target_pred.alias("__t"),
        F.explode(word_ngrams(F.col(text_col), 2)).alias("gram"))
    bucketed = grams.withColumn(
        "bucket", X.h60(F.col("gram")) % F.lit(n_buckets))
    counts = (bucketed.groupBy("bucket")
              .agg(F.count("*").alias("cr"),
                   F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("ct")))
    totals = counts.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    lam = (counts.crossJoin(F.broadcast(totals))
           .select("bucket", F.floor(
               (F.log2(F.col("ct") + 1)
                - F.log2(F.col("tt") + F.lit(n_buckets))
                - F.log2(F.col("cr") + 1)
                + F.log2(F.col("tr") + F.lit(n_buckets))) * 1e6)
               .cast("long").alias("lam6")))
    return (bucketed.join(F.broadcast(lam), "bucket")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_grams"),
                 F.sum("lam6").alias("__s"))
            .select(id_col, "n_grams",
                    (F.col("__s").cast("double") / F.lit(1e6))
                    .alias("dsir_logweight"),
                    (F.col("__s") > 0).alias("target_like")))


# --------------------------------------- tf-idf cosine similarity join
def tfidf_cosine_pairs(df: DataFrame, threshold: float = 0.5,
                       max_df_frac: float = 0.02,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """All-pairs document similarity via an inverted index (Elsayed et
    al. 2008, "Pairwise Document Similarity in Large Collections with
    MapReduce"): tf-idf-weighted cosine computed as partial dot products
    keyed on the shared term — never a document cross join.  Terms are
    word BIGRAMS (unigrams are too dense to discriminate); terms whose
    document frequency exceeds ``max_df_frac`` of the corpus are pruned
    first — the classic df-cut that bounds every posting list and with
    it the pair fan-out (a stop-term's posting list is the quadratic
    blow-up at scale, and contributes ~nothing to cosine anyway).

    Determinism: idf is integerized at 6-dp resolution via FLOOR(idf·10⁶)
    (floor of a double is bit-exact cross-engine where round() diverges
    on exact decimal halves); term weights (tf·idf6), norms, and dot
    products are then EXACT integer arithmetic — the final cosine
    divides into doubles (sqrt/division of identical integers is the
    same correctly-rounded IEEE double in every engine) and is emitted
    UNROUNDED: a decimal re-round on top would re-introduce
    shortest-repr exact-half divergence between engines.

    Scale shape: tf agg (doc,term)-keyed; df agg term-keyed with the
    corpus size riding a broadcast single-row frame; pair generation is
    a term-keyed self-equi-join whose fan-out is capped by the df cut;
    final agg keyed on the (a,b) pair.  All linear shuffles + one
    bounded join — no cartesian, no window.  Bigram explosion is fanned
    out to the session parallelism on under-partitioned scans (no-op at
    scale); weights/norms/dots are exact integers — order-free."""
    tf = (fan_out(df).select(F.col(id_col),
                             F.explode(word_ngrams(F.col(text_col), 2))
                             .alias("term"))
          .groupBy(id_col, "term").agg(F.count("*").alias("tf")))
    n_docs = df.agg(F.count("*").cast("double").alias("n"))
    dfreq = (tf.groupBy("term").agg(F.count("*").alias("df"))
             .crossJoin(F.broadcast(n_docs))
             .filter(F.col("df") <= F.col("n") * F.lit(max_df_frac))
             .select("term", F.floor(F.log2(F.col("n") / F.col("df")) * 1e6)
                     .cast("long").alias("idf6")))
    w = (tf.join(dfreq, "term")
         .select(id_col, "term", (F.col("tf") * F.col("idf6")).alias("w")))
    norms = w.groupBy(id_col).agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a = w.select(F.col(id_col).alias("id_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col(id_col).alias("id_b"), "term", F.col("w").alias("wb"))
    dots = (a.join(b, "term")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot")))
    na = norms.select(F.col(id_col).alias("id_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("n2").alias("nb2"))
    return (dots.join(na, "id_a").join(nb, "id_b")
            .select("id_a", "id_b",
                    (F.col("dot").cast("double")
                     / (F.sqrt(F.col("na2").cast("double"))
                        * F.sqrt(F.col("nb2").cast("double"))))
                    .alias("cosine"))
            .filter(F.col("cosine") >= F.lit(float(threshold))))


# ------------------------------------- connected components, star form
def connected_components_star(nodes: DataFrame, edges: DataFrame,
                              max_iter: int = 40) -> tuple:
    """Large-star / small-star connected components (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond") — the
    adversarial-graph scale swap for ``connected_components``: where
    min-label propagation needs DIAMETER rounds (a 10⁶-node path graph
    = 10⁶ rounds), the alternating star operations converge in
    O(log² n) — in practice a handful — because every round hangs
    whole neighborhoods directly under their local minimum.

    Per round, both operations are the same relational primitive the
    plain CC uses: a node-keyed min-aggregation joined back onto the
    edge list (no collect_list, no per-node adjacency materialization):

    - large-star: every node v > u re-points to m(u) = min(Γ(u) ∪ {u})
    - small-star: every node v ≤ u (plus u itself) re-points to the
      minimum of that restricted neighborhood

    Returns ``(labels, rounds)``: (node, label) with label = component
    minimum — bit-identical to ``connected_components`` — plus the
    round count, so tests can PIN the logarithmic behavior, not just
    the answer.  Same ``localCheckpoint`` lineage discipline and
    limit-1 convergence probe as the plain form."""
    def star(e, large: bool):
        # e: parent-pointer edges (child, parent); symmetrize so every
        # node sees its full (restricted) neighborhood
        sym = (e.unionByName(e.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
               .distinct())
        if not large:
            sym = sym.where(F.col("dst") <= F.col("src"))
        mins = (sym.groupBy("src")
                .agg(F.least(F.min("dst"), F.col("src")).alias("m")))
        out = (sym.join(mins, "src")
               .where(F.col("dst") > F.col("src") if large
                      else F.lit(True))
               .select(F.col("dst").alias("src"), F.col("m").alias("dst")))
        keep_self = mins.select(F.col("src"), F.col("m").alias("dst"))
        return (out.unionByName(keep_self)
                .where(F.col("src") != F.col("dst"))
                .distinct())

    e = (G.directed_edges(edges, "src", "dst", None)
         .where(F.col("src") != F.col("dst")))
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        nxt = star(star(e, large=True), large=False) \
            .localCheckpoint(eager=True)
        changed = (nxt.exceptAll(e).limit(1).count()
                   + e.exceptAll(nxt).limit(1).count())
        e = nxt
        if changed == 0:
            converged = True
            break
    if not converged:
        # returning silently here would hand back non-minimal labels on
        # exactly the adversarial graphs this operator is pitched for —
        # fail loudly instead (O(log² n) means max_iter=40 covers any
        # graph that fits in a cluster; hitting this is a bug or a far
        # too small max_iter)
        raise RuntimeError(
            f"connected_components_star did not reach the star fixed "
            f"point in max_iter={max_iter} rounds; labels would be "
            f"non-minimal")
    labels = (nodes.join(e.select(F.col("src").alias("node"),
                                  F.col("dst").alias("label")),
                         "node", "left")
              .groupBy("node")
              .agg(F.coalesce(F.min("label"), F.first("node"))
                   .alias("label"))
              .select("node", F.least(F.col("label"), F.col("node"))
                      .alias("label")))
    return labels, rounds


# ------------------------------------------------- corpus Zipf stats
def zipf_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Corpus vocabulary statistics with a Zipf-law fit: one row of
    (vocab_size, total_tokens, top_token, top_freq, zipf_slope) where
    zipf_slope is the OLS slope of ln(freq) on ln(rank) — Zipfian text
    sits near −1; token-soup and boilerplate-heavy corpora drift, which
    makes the slope a cheap corpus-health monitor for a crawl.

    Determinism (cross-engine): ln values are integerized via
    FLOOR(ln·10⁶) (the DSIR lesson — floor of a double is bit-exact
    where decimal re-rounding is not), the four OLS sums accumulate in
    DECIMAL(38,0)/HUGEINT exact integer arithmetic, and the single
    final division happens on exactly-representable numerator and
    denominator — so both engines emit the identical double.

    Scale note: the rank window runs over the VOCABULARY (distinct
    tokens), which is sublinear in corpus size and orders of magnitude
    smaller than the token stream — the one place a global window is
    proportionate.  The token count itself is the usual linear
    token-keyed aggregation."""
    # token explosion ×n_tokens — fan out under-partitioned scans
    # (no-op at scale); vocabulary counts and the OLS sums are exact
    # integer/decimal arithmetic, order-free under any partitioning
    tok = fan_out(df).select(F.explode(X.tokens(F.lower(F.col(text_col))))
                             .alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("token"))
    ranked = (vocab.withColumn("rank", F.row_number().over(w))
              .withColumn("x6", F.floor(F.log(F.col("rank")
                                              .cast("double")) * 1e6)
                          .cast("decimal(38,0)"))
              .withColumn("y6", F.floor(F.log(F.col("c").cast("double"))
                                        * 1e6).cast("decimal(38,0)")))
    agg = ranked.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x6").alias("sx"), F.sum("y6").alias("sy"),
        F.sum(F.col("x6") * F.col("y6")).alias("sxy"),
        F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
        F.sum(F.col("c")).cast("long").alias("total_tokens"),
        # top term with a DETERMINISTIC tie-break (highest count, then
        # lexicographically smallest token — the rank-1 row)
        F.min(F.struct((-F.col("c")).alias("nc"),
                       F.col("token").alias("token"))).alias("top"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return agg.select(
        F.col("n").cast("long").alias("vocab_size"),
        F.col("total_tokens"),
        F.col("top.token").alias("top_token"),
        (-F.col("top.nc")).cast("long").alias("top_freq"),
        (num.cast("double") / den.cast("double")).alias("zipf_slope"))


# ------------------------------------------- Kneser-Ney bigram LM
def kn_bigram_bits(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   discount: float = 0.75) -> DataFrame:
    """Kneser-Ney-smoothed bigram LM quality score (Kneser & Ney 1995;
    Chen & Goodman 1998 eq. 4.2, absolute discounting d=0.75) →
    (id, n_bigrams, kn_bits): the per-document bits-per-bigram under a
    bigram model trained on the corpus itself — the smoothed upgrade of
    ``unigram_logprob`` and the relational skeleton of the CCNet/KenLM
    perplexity filter.  KN's continuation probability scores a word by
    how many DISTINCT contexts it follows, not how often it occurs —
    the canonical fix for high-frequency-but-context-bound tokens
    (boilerplate soup scores worse than its raw token frequencies
    suggest).

        P(w2|w1) = (c(w1,w2) − d)/c(w1·) + (d·N1+(w1,·)/c(w1·)) · Pcont
        Pcont(w2) = N1+(·,w2) / |bigram types|

    Self-trained, every scored bigram has c ≥ 1 > d, so P > 0 with no
    OOV branch.  Documents with fewer than 2 tokens emit no row.

    Scale shape: bigrams derive in-row (arrays_zip of two slices —
    native codegen, no interpreted lambda, no position self-join); the
    model is three linear type-keyed aggs over the (w1,w2) count table
    plus one 1-row total broadcast, assembled TYPE-level (vocab-sized,
    sublinear in corpus) before the single occurrence-keyed scoring
    join; per-doc reduction is one keyed avg.  Corpus scanned twice
    (model + scoring), the same contract as unigram_logprob.

    Determinism: every model input is an exact integer count; P is one
    pinned-order double chain replayed verbatim by the SQL oracle, and
    the per-doc −avg(log2 P) is rounded to 4 dp (the established
    transcendental-absorption contract from unigram_logprob)."""
    tk = X.tokens(F.lower(F.col(text_col)))
    m = F.size(tk)
    occ = (fan_out(df.select(id_col, text_col))
           .select(F.col(id_col),
                   F.explode(F.when(m >= 2, F.arrays_zip(
                       F.slice(tk, 1, m - 1),
                       F.slice(tk, 2, m - 1)))).alias("bg"))
           .select(id_col, F.col("bg.0").alias("w1"),
                   F.col("bg.1").alias("w2")))
    c2 = occ.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"),
                              F.count("*").alias("n1f"))
    nb = c2.groupBy("w2").agg(F.count("*").alias("n1b"))
    tt = c2.agg(F.count("*").cast("double").alias("t"))
    d = F.lit(discount)
    model = (c2.join(c1, "w1").join(nb, "w2")
             .crossJoin(F.broadcast(tt))
             .select("w1", "w2",
                     ((F.col("c2").cast("double") - d) / F.col("c1")
                      + (d * F.col("n1f") / F.col("c1"))
                      * (F.col("n1b") / F.col("t"))).alias("p")))
    return (occ.join(model, ["w1", "w2"])
            .groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(-F.avg(F.log2(F.col("p"))), 4).alias("kn_bits")))


# ------------------------------------------- source-mixture rebalance
def rebalance_to_mixture(df: DataFrame, strata_col: str = "source",
                         id_col: str = "doc_id",
                         weights: dict | None = None) -> DataFrame:
    """Deterministic source-mixture rebalancing (the data-mixing step of
    a training pipeline, cf. DoReMi / The Pile's domain weights): keep
    the LARGEST subsample whose stratum proportions match the target
    ``weights`` (integer weight per stratum; default uniform).  Unlike
    ``stratified_sample`` the per-stratum rates are not user inputs —
    they are DERIVED from the measured counts: the bottleneck stratum
    s* = argmin c_s/w_s is kept whole and every other stratum is
    down-sampled by p_s = (c*·w_s)/(w*·c_s), so expected kept counts
    are proportional to the weights with nothing wasted.

    Scale shape: one stratum-keyed count agg (broadcast back — strata
    are few by definition) + a 1-row bottleneck broadcast; the keep
    decision is a pure in-row predicate, no second shuffle.

    Determinism: acceptance is the hash gate h60('mix-'‖id) compared
    against the EXACT rational threshold by integer cross-
    multiplication — h·(w*·c_s) < (c*·w_s)·2^60 in DECIMAL(38,0)
    (exact up to ~10^12-row strata × 10^6 weights; the SQL oracle uses
    HUGEINT) — so no float boundary can flip a row between engines.
    The bottleneck argmin's ratio compare is double, tie-broken by
    stratum name."""
    cnt = df.groupBy(strata_col).agg(F.count("*").alias("c"))
    if weights:
        w_expr = F.lit(None).cast("long")
        for key, wv in sorted(weights.items()):
            w_expr = F.when(F.col(strata_col) == key,
                            F.lit(int(wv))).otherwise(w_expr)
        cnt = cnt.withColumn("w", w_expr)
        if cnt.filter(F.col("w").isNull()).limit(1).count():
            raise ValueError("weights missing for some strata")
    else:
        cnt = cnt.withColumn("w", F.lit(1).cast("long"))
    star = (cnt.select(F.col(strata_col).alias("s_star"),
                       F.col("c").alias("c_star"),
                       F.col("w").alias("w_star"),
                       (F.col("c").cast("double") / F.col("w"))
                       .alias("ratio"))
            .orderBy("ratio", "s_star").limit(1)
            .drop("ratio"))
    h = X.h60(F.concat(F.lit("mix-"), F.col(id_col).cast("string")))
    keep = (h.cast("decimal(38,0)")
            * (F.col("w_star").cast("decimal(19,0)")
               * F.col("c").cast("decimal(19,0)")).cast("decimal(38,0)")
            < (F.col("c_star").cast("decimal(19,0)")
               * F.col("w").cast("decimal(19,0)")).cast("decimal(38,0)")
            * F.lit(2 ** 60).cast("decimal(38,0)"))
    return (df.join(F.broadcast(cnt), strata_col)
            .crossJoin(F.broadcast(star))
            .filter(keep)
            .select(id_col, strata_col))


# ------------------------------------------------------------ C4 cleaning
# Raffel et al. 2020, "Exploring the Limits of Transfer Learning with a
# Unified Text-to-Text Transformer" §2.2 — the C4 cleaning rules, the
# most-reproduced webtext pipeline.  Line level: keep only lines that end
# in a terminal punctuation mark and have >= 5 words; drop lines with the
# word "javascript".  Page level: drop pages containing "lorem ipsum" or
# a curly brace "{", or with fewer than 3 retained sentences.  The
# cross-document three-sentence-span dedup is ``c4_span_dedup`` below.
C4_TERMINAL_CHARS = (".", "!", "?", "\"")
C4_MIN_WORDS = 5
C4_MIN_SENTENCES = 3


def c4_clean(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", min_words: int = C4_MIN_WORDS,
             min_sentences: int = C4_MIN_SENTENCES) -> DataFrame:
    """C4 line + page filters (Raffel et al. 2020 §2.2) over
    newline-delimited documents.  Emits one row per input document with
    line counts, the page-level ``keep`` verdict and the cleaned text
    (NULL for dropped pages — C4 discards them whole).

    Scale shape: every rule is an in-row JVM column expression (split /
    filter / exists over the line array) — zero shuffle, pipelines
    inside WholeStageCodegen with the parquet scan, same contract as
    ``gopher_signals``.  Word counts use the single-space model of the
    wrapped-line fixture; real pages with ragged whitespace normalize
    upstream (``X.normalize_text``)."""
    lines = F.split(F.col(text_col), "\n")

    def line_ok(line):
        words = F.filter(F.split(F.trim(line), " "),
                         lambda w: w != F.lit(""))
        return (F.substring(line, -1, 1).isin(*C4_TERMINAL_CHARS)
                & (F.size(words) >= min_words)
                & ~F.contains(F.lower(line), F.lit("javascript")))

    kept = F.filter(lines, line_ok)
    bad_page = (F.contains(F.lower(F.col(text_col)), F.lit("lorem ipsum"))
                | F.contains(F.col(text_col), F.lit("{")))
    keep = ~bad_page & (F.size(kept) >= min_sentences)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("kept_lines"),
        keep.alias("keep"),
        F.when(keep, F.array_join(kept, "\n"))
        .otherwise(F.lit(None)).alias("clean_text"))


def c4_span_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", span: int = 3) -> DataFrame:
    """C4 cross-document span dedup (Raffel et al. 2020 §2.2): "we
    discarded all but one of any three-sentence span occurring more than
    once in the data set".  Sentences are newline-delimited lines; every
    run of ``span`` consecutive sentences forms a span; the globally
    first occurrence (min (doc_id, position)) survives, every other
    occurrence has its covered sentences removed from its document.

    Emits (doc_id, n_sentences, removed_sentences, clean_text) for every
    document — a document whose every sentence is covered by duplicate
    spans keeps the row with empty ``clean_text`` (C4 removes spans, not
    pages).

    Scale shape: span keys derive IN-ROW from the line array (md5 over
    the joined window — no self-join to build windows); first occurrence
    is a groupBy-min on the span hash with map-side combine (the
    dedup_lines shape — a hot span never concentrates on one task's
    sort); duplicate occurrences fan back out ×span through an exploded
    position range (bounded by the span constant) and mark sentences via
    one (doc, position)-keyed left join; one final doc-keyed agg
    reassembles text.  No window function, no cartesian, all joins
    keyed."""
    df = fan_out(df)
    base = df.select(F.col(id_col), F.split(F.col(text_col), "\n").alias("ls"))
    # in-row span hashes; Spark's sequence(a, b) DESCENDS when a > b, so
    # docs shorter than ``span`` must emit an explicit empty array
    span_hashes = F.when(
        F.size("ls") >= span,
        F.transform(
            F.sequence(F.lit(0), F.size("ls") - F.lit(span)),
            lambda i: F.md5(F.array_join(F.slice("ls", i + 1, span),
                                         "\n")))
    ).otherwise(F.array().cast("array<string>"))
    spans = base.select(
        F.col(id_col), F.posexplode(span_hashes).alias("pos", "h"))
    firsts = spans.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("d"),
                       F.col("pos").alias("p"))).alias("keep"))
    dup_positions = (
        spans.join(firsts, "h")
        .where((F.col(id_col) != F.col("keep.d"))
               | (F.col("pos") != F.col("keep.p")))
        .select(F.col(id_col),
                F.explode(F.sequence(F.col("pos"),
                                     F.col("pos") + span - 1)).alias("sp"))
        .distinct()
        .withColumn("rm", F.lit(True)))
    sentences = base.select(
        F.col(id_col), F.posexplode("ls").alias("sp", "line"))
    marked = sentences.join(dup_positions, [id_col, "sp"], "left")
    return (marked.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_sentences"),
        F.sum(F.when(F.col("rm"), 1).otherwise(0)).cast("long")
        .alias("removed_sentences"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("rm").isNull(),
                           F.struct("sp", "line")))),
                lambda s: s["line"]),
            "\n").alias("clean_text")))


# ------------------------------------------- weighted reservoir sampling
def weighted_sample(df: DataFrame, weight_col: str, k: int = 100,
                    id_col: str = "doc_id", salt: str = "ws") -> DataFrame:
    """Weighted random sampling without replacement (Efraimidis &
    Spirakis 2006, "Weighted random sampling with a reservoir",
    algorithm A-Res): every item draws u_i ~ U(0,1] and the k largest
    keys u_i^(1/w_i) form the sample — inclusion probability
    proportional to weight, without replacement, in one pass.  The
    sampling primitive a training pipeline uses to draw a quality- or
    length-weighted subset.

    Deterministic twin of the random draw: u_i = (h60(salt-id)+1)/2^60
    ∈ (0,1] from the shared cross-engine 60-bit hash, and the ranking
    key is ln(u_i)/w_i — the monotone log transform of u^(1/w) (same
    top-k, no underflow for large weights).  Weights must be >= 1
    (integer column); a weight of 0 would IEEE-divide to -inf and never
    be sampled.

    Scale shape: the key is one in-row expression; the sample is a
    global top-k — TakeOrderedAndProject (per-partition heaps, merged
    once; never a global sort).  ln is the single transcendental in the
    chain; adjacent keys at the k boundary sit ~12 orders of magnitude
    above a double ulp, the established pinned-chain contract
    (cf. events_recrawl_priority)."""
    u = ((X.h60(F.concat(F.lit(salt + "-"),
                         F.col(id_col).cast("string"))) + F.lit(1))
         .cast("double") / F.lit(float(2 ** 60)))
    key = F.log(u) / F.col(weight_col).cast("double")
    return (df.withColumn("ws_key", key)
            .orderBy(F.desc("ws_key"), F.asc(id_col))
            .limit(k))


# --------------------------------------------------- label propagation
def label_propagation(nodes: DataFrame, edges: DataFrame, rounds: int = 3,
                      node_col: str = "node", src: str = "src",
                      dst: str = "dst",
                      colors: tuple | None = None) -> DataFrame:
    """Label-propagation community detection (Raghavan, Albert & Kumara
    2007, "Near linear time algorithm to detect community structures in
    large-scale networks"), deterministic distributed variant: fixed
    round count, argmax of neighbor-label counts with ties broken by
    MIN label — the asynchronous random-order original is
    irreproducible; the fixed-tie-break synchronous twin is what a
    Pregel-style engine runs (GraphFrames' LPA is the same shape).

    ``colors``: optional update schedule (semi-synchronous LPA,
    Cordasco & Gargano 2010): when given, ``nodes`` carries a ``color``
    column and each round updates one color class at a time, reading
    the labels already updated this round — provably convergent where
    plain synchronous LPA oscillates (e.g. BIPARTITE graphs, which
    2-color naturally).  ``colors=None`` is the classic synchronous
    step.

    Returns (node, label, community_size).

    Scale shape: per half-step ONE src-keyed join + ONE (node,label)
    count agg + ONE node-keyed argmin agg — all linear with map-side
    combine; the argmin is ``min(struct(-count, label))`` so the
    count-then-min-label tie-break is a single integer-lexicographic
    aggregate, never a window.  Labels are re-pinned per round.  Rounds
    are a fixed constant — O(rounds) linear passes."""
    e = G.undirected_edges(edges, src, dst, "src")
    keep_cols = [node_col] + (["color"] if colors is not None else [])
    base = nodes.select(*keep_cols).distinct().localCheckpoint(eager=False)
    labels = base.select(*keep_cols, F.col(node_col).alias("lbl"))

    def half_step(labels, color):
        cand = labels if color is None else labels.where(
            F.col("color") == color)
        cnt = (e.join(labels.select(F.col(node_col).alias("src"), "lbl"),
                      "src")
               .join(cand.select(F.col(node_col).alias("dst")), "dst")
               .groupBy("dst", "lbl")
               .agg(F.count("*").alias("c")))
        pick = cnt.groupBy("dst").agg(
            F.min(F.struct((-F.col("c")).alias("nc"),
                           F.col("lbl").alias("l"))).alias("b"))
        return (labels.join(pick.withColumnRenamed("dst", node_col),
                            node_col, "left")
                .select(*keep_cols,
                        F.coalesce(F.col("b.l"), F.col("lbl")).alias("lbl")))

    for _ in range(rounds):
        if colors is None:
            labels = half_step(labels, None).localCheckpoint(eager=False)
        else:
            for color in colors:
                labels = half_step(labels, color).localCheckpoint(
                    eager=False)
    sizes = labels.groupBy("lbl").agg(F.count("*").cast("long").alias("sz"))
    return (labels.join(sizes, "lbl")
            .select(F.col(node_col).alias("node"),
                    F.col("lbl").alias("label"),
                    F.col("sz").alias("community_size")))


# ----------------------------------------------------- triangle counting
def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Per-node triangle counts + degree via the degree-ordered
    compact-forward algorithm (Schank & Wagner 2005; the MapReduce
    formulation is Suri & Vassilvitskii WWW 2011, "Counting triangles
    and the curse of the last reducer").

    The input is an undirected graph given as (src, dst) pairs in either
    or both directions; self-loops and duplicates are dropped.  Each
    edge is ORIENTED from the endpoint of lower (degree, node) rank to
    the higher — the orientation bounds every node's out-degree by
    O(sqrt(m)), so the wedge join generates O(m^1.5) candidates TOTAL
    regardless of hub degree.  This is the whole point at web scale: a
    degree-10^8 hub would otherwise emit 10^16 wedges from one key (the
    paper's "curse of the last reducer"); oriented, it emits none.

    Plan: two keyed self-joins of the oriented edge list (wedge
    generation on the low vertex, closure probe on the (v,w) pair) + one
    explode(3)-and-count attribution agg — no window, no cartesian.
    Returns (node, degree, triangles) for every node of the edge set.
    """
    und = (G.undirected_edges(edges, src, dst, None)
           .select(F.col("src").alias("a"), F.col("dst").alias("b")))
    deg = und.groupBy("a").agg(F.count("*").cast("long").alias("deg"))
    # orient a -> b iff (deg_a, a) < (deg_b, b); computing it from the
    # symmetric list keeps each undirected edge exactly once
    ranked = (und
              .join(deg.select("a", F.col("deg").alias("deg_a")), "a")
              .join(deg.select(F.col("a").alias("b"),
                               F.col("deg").alias("deg_b")), "b"))
    oriented = (ranked.where(
        (F.col("deg_a") < F.col("deg_b"))
        | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))))
        .select("a", "b")
        .repartition("a")
        .localCheckpoint(eager=False))
    # wedges from the LOW-rank vertex: every triangle x<y<z (rank order)
    # has out-edges x->y and x->z only at x, so only x generates its
    # wedge — each wedge kept once by NODE order v < w (cheaper than
    # carrying ranks), and the closing y-z edge is probed in both
    # orientations because node order need not agree with rank order.
    # Each triangle therefore closes exactly once.
    e1 = oriented.select(F.col("a").alias("u"), F.col("b").alias("v"))
    e2 = oriented.select(F.col("a").alias("u"), F.col("b").alias("w"))
    wedges = e1.join(e2, "u").where(F.col("v") < F.col("w"))
    closed = wedges.join(
        oriented.select(F.col("a").alias("v"), F.col("b").alias("w"))
        .union(oriented.select(F.col("b").alias("v"),
                               F.col("a").alias("w"))),
        ["v", "w"])
    tri = (closed.select(F.explode(F.array("u", "v", "w")).alias("node"))
           .groupBy("node").agg(F.count("*").cast("long")
                                .alias("triangles")))
    return (deg.select(F.col("a").alias("node"), "deg")
            .join(tri, "node", "left")
            .select("node", F.col("deg").alias("degree"),
                    F.coalesce(F.col("triangles"), F.lit(0))
                    .alias("triangles")))


# ------------------------------------------------------------- TextRank
TEXTRANK_SCALE = 10 ** 8


def textrank_keywords(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", iters: int = 3,
                      k: int = 3) -> DataFrame:
    """Per-document TextRank keyword extraction (Mihalcea & Tarau 2004,
    "TextRank: Bringing Order into Text"): weighted PageRank over each
    document's word-adjacency graph (window 2, undirected, edge weight =
    adjacency count), top-k words per document.

    EVERY document's graph iterates simultaneously — the doc id rides in
    the join keys, so 10^9 documents are 10^9 independent small graphs
    advanced by the same three (doc,word)-keyed linear passes per round;
    there is no per-document loop anywhere.

    Determinism is the HITS/OPIC integer contract, strictly stronger
    than float pagerank's 8-dp rounds: ranks are exact 1e8-scaled longs,
    per-edge shares are integer floor divisions (Spark ``div`` ≡ DuckDB
    ``//`` on non-negative), damping is ×85 div 100, so the whole
    trajectory is bit-identical cross-engine.  rank(v) = base_d +
    0.85·Σ_u rank(u)·w(u,v) div W(u), base_d = 0.15/n_d.

    The one Window is the per-document top-k rank (partitioned by doc,
    never global — the J6/J7 capped-join contract).  Loop invariants
    (edges, weighted degrees, node set, per-doc base) are pinned once,
    (doc,src)-partitioned, lineage-truncated."""
    tk = X.tokens(F.lower(F.col(text_col)))
    m = F.size(tk)
    d = fan_out(df.select(id_col, text_col))
    pairs = (d.select(F.col(id_col),
                      F.explode(F.when(m >= 2, F.arrays_zip(
                          F.slice(tk, 1, m - 1),
                          F.slice(tk, 2, m - 1)))).alias("bg"))
             .select(id_col, F.col("bg.0").alias("src"),
                     F.col("bg.1").alias("dst"))
             .where(F.col("src") != F.col("dst")))
    edges = (pairs
             .union(pairs.select(id_col, F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
             .groupBy(id_col, "src", "dst")
             .agg(F.count("*").cast("long").alias("w"))
             .repartition(id_col, "src")
             .localCheckpoint(eager=False))
    nodes = (d.select(F.col(id_col), F.explode(tk).alias("word"))
             .distinct()
             .localCheckpoint(eager=False))
    nd = nodes.groupBy(id_col).agg(F.count("*").cast("long").alias("n"))
    base = (nd.select(
        id_col,
        F.expr(f"({15 * TEXTRANK_SCALE}) div (100 * n)").alias("base"),
        F.expr(f"{TEXTRANK_SCALE} div n").alias("r0"))
        .localCheckpoint(eager=False))
    wsum = (edges.groupBy(id_col, "src")
            .agg(F.sum("w").alias("wsum"))
            .localCheckpoint(eager=False))
    ranks = (nodes.join(base, id_col)
             .select(id_col, F.col("word"), F.col("r0").alias("r8")))
    for _ in range(iters):
        contrib = (edges
                   .join(wsum, [id_col, "src"])
                   .join(ranks.withColumnRenamed("word", "src"),
                         [id_col, "src"])
                   .groupBy(id_col, "dst")
                   .agg(F.sum(F.expr("(r8 * w) div wsum")).alias("s")))
        ranks = (nodes.join(base, id_col)
                 .join(contrib.withColumnRenamed("dst", "word"),
                       [id_col, "word"], "left")
                 .select(id_col, "word",
                         (F.col("base")
                          + F.expr("(85 * coalesce(s, 0)) div 100"))
                         .cast("long").alias("r8"))
                 .localCheckpoint(eager=False))
    win = Window.partitionBy(id_col).orderBy(F.desc("r8"), F.asc("word"))
    return (ranks.withColumn("rk", F.row_number().over(win))
            .where(F.col("rk") <= k)
            .select(id_col, F.col("rk").cast("long").alias("rk"), "word",
                    F.col("r8").alias("rank_scaled")))


# ---------------------------------------------- temperature rebalancing
def temperature_rebalance(df: DataFrame, strata_col: str = "lang",
                          id_col: str = "doc_id",
                          alpha: tuple = (1, 2)) -> DataFrame:
    """Temperature-based mixture sampling — the multilingual
    alpha-smoothing of mBERT / XLM-R (Devlin et al. 2019's exponentiated
    smoothing; Conneau & Lample 2019 §3.1): resample so stratum
    proportions follow c_s^alpha instead of c_s, flattening head
    languages and boosting the tail.  Like ``rebalance_to_mixture`` the
    rates DERIVE from measured counts with nothing wasted: the SMALLEST
    stratum is kept whole (for alpha < 1 it is the bottleneck) and every
    other stratum downsamples by r_s = (c_min/c_s)^(1-alpha).

    ``alpha`` is a rational (num, den) with 0 < num < den <= 3 — and the
    root never gets evaluated: raising the acceptance inequality
    u < (c_min/c_s)^((den-num)/den) to the den-th power clears it,

        h_B^den · c_s^(den-num)  <  c_min^(den-num) · 2^(B·den)

    which is EXACT integer arithmetic (Spark DECIMAL(38,0) ≡ DuckDB
    HUGEINT).  h_B is the shared 60-bit hash floored to B bits, with B
    chosen so both sides stay under 10^38 at strata up to 2^40 rows:
    B = (126 - (den-num)·40) // den (43 bits at alpha=1/2 — acceptance
    granularity 2^-43).  No float, no root, no boundary to flip.

    Scale shape: one stratum-keyed count agg broadcast back + a 1-row
    bottleneck broadcast; the keep decision is in-row — the
    rebalance_to_mixture contract exactly."""
    num, den = alpha
    if not (0 < num < den <= 3):
        raise ValueError("alpha must be a rational (num, den), "
                         "0 < num < den <= 3")
    e = den - num
    B = (126 - e * 40) // den
    cnt = df.groupBy(strata_col).agg(F.count("*").alias("c"))
    cmin = (cnt.select(F.col("c").alias("c_min"),
                       F.col(strata_col).alias("s_min"))
            .orderBy("c_min", "s_min").limit(1)
            .select("c_min"))
    hb = F.expr(f"h60_tmp div {2 ** (60 - B)}")
    dec = "decimal(38,0)"

    def power(col, n):
        out = col.cast(dec)
        for _ in range(n - 1):
            out = (out * col.cast(dec)).cast(dec)
        return out

    from decimal import Decimal  # 2^(B·den) exceeds a 64-bit lit
    lhs = (power(hb, den) * power(F.col("c"), e)).cast(dec)
    rhs = (power(F.col("c_min"), e)
           * F.lit(Decimal(2 ** (B * den))).cast(dec)).cast(dec)
    return (df
            .withColumn("h60_tmp", X.h60(
                F.concat(F.lit("temp-"), F.col(id_col).cast("string"))))
            .join(F.broadcast(cnt), strata_col)
            .crossJoin(F.broadcast(cmin))
            .filter(lhs < rhs)
            .select(id_col, strata_col))


# ------------------------------------------------------ PMI collocations
def pmi_collocations(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", min_count: int = 5,
                     k: int = 20) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church &
    Hanks 1990, "Word Association Norms, Mutual Information, and
    Lexicography"): PMI(x,y) = ln P(x,y)/(P(x)P(y)) over adjacent token
    pairs, with the standard min-count cut (rare pairs have unreliable
    PMI) and a corpus-level top-k.

    Determinism: the RANKING never touches ln — PMI is monotone in the
    exact integer ratio (c2·N·N)/(N2·c1x·c1y), and both sides of that
    ratio are exact longs, so ordering by their single IEEE division is
    bit-identical cross-engine (ties then break on the pair); ln appears
    only in the displayed pmi, rounded 4 dp after the pinned chain (the
    transcendental-absorption contract).  Products fit a long to ~10^5
    vocab × 10^8 tokens; beyond that swap the ratio into DECIMAL(38,0)
    — the comparison stays exact.

    Scale shape: bigrams derive in-row (arrays_zip of slices), counts
    are token-keyed linear aggs with map-side combine, the two unigram
    joins are vocab-level (sublinear in corpus), totals are 1-row
    broadcasts, and the top-k is TakeOrderedAndProject.  No window, no
    cartesian."""
    tk = X.tokens(F.lower(F.col(text_col)))
    m = F.size(tk)
    d = fan_out(df.select(id_col, text_col))
    uni = (d.select(F.explode(tk).alias("w"))
           .groupBy("w").agg(F.count("*").alias("c1")))
    bi = (d.select(F.explode(F.when(m >= 2, F.arrays_zip(
        F.slice(tk, 1, m - 1), F.slice(tk, 2, m - 1)))).alias("bg"))
        .select(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
        .groupBy("w1", "w2").agg(F.count("*").alias("c2"))
        .where(F.col("c2") >= min_count))
    n1 = uni.agg(F.sum("c1").alias("n"))
    n2 = bi.agg(F.sum("c2").alias("n2"))
    scored = (bi
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("c1").alias("c1l")), "w1")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("c1").alias("c1r")), "w2")
              .crossJoin(F.broadcast(n1))
              .crossJoin(F.broadcast(n2))
              .select("w1", "w2", "c2",
                      (F.col("c2") * F.col("n") * F.col("n"))
                      .alias("num"),
                      (F.col("n2") * F.col("c1l") * F.col("c1r"))
                      .alias("den")))
    return (scored
            .withColumn("ratio",
                        F.col("num").cast("double") / F.col("den"))
            .orderBy(F.desc("ratio"), F.asc("w1"), F.asc("w2"))
            .limit(k)
            .select("w1", "w2", F.col("c2").cast("long").alias("c2"),
                    F.round(F.log(F.col("ratio")), 4).alias("pmi")))


# ------------------------------------------- content-defined chunking
def cdc_chunks(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", win: int = 8,
               avg_mask: int = 63) -> DataFrame:
    """Content-defined chunking dedup (Muthitacharoen, Chen & Mazières
    SOSP 2001, LBFS — the original CDC; FastCDC, Xia et al. USENIX ATC
    2016, is the gear-hash speedup of the same idea): a chunk boundary
    falls after position p whenever the fingerprint of the last ``win``
    characters has its low bits zero (avg chunk ≈ avg_mask+1 chars), so
    an insertion early in a document shifts only the chunk it lands in —
    unlike fixed-size blocks, where one inserted byte re-aligns (and
    re-uploads) everything downstream.  Production CDC adds min/max
    chunk clamps (a sequential suppression); this is the pure
    content-defined form, documented as such.

    The boundary decision at p depends ONLY on the window CONTENT at p —
    the classic rolling hash is merely the O(1) incremental evaluation
    trick — so boundaries compute in-row per position with no
    recurrence: one transform over positions + filter, all JVM codegen.
    Chunks then cut in-row from consecutive boundaries; corpus-level
    dedup is the dedup_lines shape (groupBy-min first occurrence on
    chunk content, map-side combined).  One shuffle total.

    Returns (doc_id, n_chunks, dup_chunks): chunks whose content
    appeared earlier (global (doc, start) order) count as duplicates —
    the bytes a dedup store would NOT store again."""
    n = F.length(F.col(text_col))
    bpos = F.filter(
        F.transform(F.sequence(F.lit(win), n),
                    lambda p: F.when(
                        X.h60(F.substring(F.col(text_col), p - win + 1,
                                          win)) % (avg_mask + 1) == 0,
                        p)),
        lambda x: x.isNotNull())
    bounds = F.array_distinct(F.concat(
        F.array(F.lit(0)), bpos, F.array(n)))
    chunks = F.transform(
        F.slice(bounds, 1, F.size(bounds) - 1),
        lambda st, i: F.struct(
            st.alias("st"),
            F.substring(F.col(text_col), st + 1,
                        F.element_at(bounds, i + 2) - st).alias("chunk")))
    d = fan_out(df.select(id_col, text_col)).where(n > 0)
    ex = (d.select(F.col(id_col), F.explode(chunks).alias("c"))
          .select(id_col, F.col("c.st").alias("st"),
                  F.col("c.chunk").alias("chunk"))
          .localCheckpoint(eager=False))
    firsts = ex.groupBy("chunk").agg(
        F.min(F.struct(F.col(id_col).alias("d"),
                       F.col("st").alias("p"))).alias("keep"))
    return (ex.join(firsts, "chunk")
            .select(id_col, "st",
                    ((F.col(id_col) != F.col("keep.d"))
                     | (F.col("st") != F.col("keep.p")))
                    .cast("long").alias("is_dup"))
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_chunks"),
                 F.sum("is_dup").cast("long").alias("dup_chunks")))


# --------------------------------------------------------- BFS distances
def bfs_hops(nodes: DataFrame, edges: DataFrame, source,
             rounds: int = 4, node_col: str = "node", src: str = "src",
             dst: str = "dst") -> DataFrame:
    """Breadth-first hop distances from a source over an undirected
    graph — synchronous frontier relaxation (the Pregel SSSP kernel
    with unit weights; cf. Malewicz et al. SIGMOD 2010 §5.2):
    d_k(v) = min(d_{k-1}(v), 1 + min_u d_{k-1}(u)) over in-neighbors,
    ``rounds`` fixed so the trajectory is reproducible; nodes beyond
    ``rounds`` hops stay NULL.  All integer.  Per round one src-keyed
    join + one dst-keyed MIN agg (map-side combined)."""
    e = G.undirected_edges(edges, src, dst, "src")
    base = nodes.select(node_col).distinct().localCheckpoint(eager=False)
    dist = base.select(
        node_col,
        F.when(F.col(node_col) == F.lit(source), F.lit(0))
        .otherwise(F.lit(None)).cast("long").alias("d"))
    for _ in range(rounds):
        relax = (e.join(dist.select(F.col(node_col).alias("src"), "d"),
                        "src")
                 .where(F.col("d").isNotNull())
                 .groupBy("dst")
                 .agg(F.min(F.col("d") + 1).alias("nd")))
        dist = (dist.join(relax.withColumnRenamed("dst", node_col),
                          node_col, "left")
                .select(node_col,
                        F.least(F.col("d"), F.col("nd")).alias("d"))
                .localCheckpoint(eager=False))
    return dist.select(F.col(node_col).alias("node"),
                       F.col("d").alias("hops"))


# -------------------------------------------------------- entropy signals
def entropy_signals(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document Shannon entropy of the character and token
    distributions (Shannon 1948) — the information-theoretic quality
    signals a webtext filter uses beside Gopher's ratios: binary blobs
    and base64 runs read as near-uniform high-entropy characters,
    keyboard-mash and boilerplate as low-entropy tokens.

    H = log2(n) − (Σ c·log2 c)/n over symbol counts — computed from one
    (doc, symbol)-keyed count agg per granularity (map-side combined)
    plus a doc-keyed fold; rounded 4 dp after the chain (the
    transcendental-absorption contract; the Σ over a doc's distinct
    symbols is a group sum, same precedent as unigram_logprob).
    Empty documents are absent.  Returns (doc_id, n_chars,
    char_entropy, n_tokens, token_entropy)."""
    chars = (fan_out(df.select(id_col, text_col))
             .where(F.length(text_col) > 0)
             .select(F.col(id_col),
                     F.explode(F.transform(
                         F.sequence(F.lit(1), F.length(text_col)),
                         lambda i: F.substring(F.col(text_col), i, 1)))
                     .alias("ch")))

    def ent(counts, sym):
        return (counts.groupBy(id_col, sym).agg(F.count("*").alias("c"))
                .groupBy(id_col)
                .agg(F.sum("c").alias("n"),
                     F.sum(F.col("c").cast("double")
                           * F.log2(F.col("c").cast("double")))
                     .alias("s"))
                .select(id_col, F.col("n").cast("long"),
                        F.round(F.log2(F.col("n").cast("double"))
                                - F.col("s") / F.col("n").cast("double"),
                                4).alias(f"{sym}_entropy")))

    ce = ent(chars, "ch").withColumnRenamed("n", "n_chars") \
        .withColumnRenamed("ch_entropy", "char_entropy")
    toks = (df.select(F.col(id_col),
                      F.explode(X.tokens(F.col(text_col))).alias("tok"))
            .where(F.col("tok") != ""))
    te = ent(toks, "tok").withColumnRenamed("n", "n_tokens") \
        .withColumnRenamed("tok_entropy", "token_entropy")
    return ce.join(te, id_col, "left")


# ------------------------------------------------- winnowing fingerprints
def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS plagiarism-detection algorithm): hash every
    k-gram, slide a window of ``w`` consecutive hashes, and in each
    window select the MINIMUM hash (ties broken RIGHTMOST); the distinct
    selected hashes are the document's fingerprints.  The paper's
    guarantee: any shared substring of length ≥ k + w − 1 yields at
    least one shared fingerprint, at expected density 2/(w+1) — the
    local-selection property that position-modulo sampling (0 mod p)
    lacks, because winnowing's choice depends only on CONTENT in a
    bounded window, never on absolute position.

    Plan shape: the hash array materializes once per row in its own
    projection (CollapseProject keeps multi-referenced non-cheap
    expressions separate), window minima are an in-row O(n·w)
    higher-order fold — no shuffle until the fingerprints explode.
    Corpus stage: one hash-keyed groupBy for document frequency + one
    hash-keyed join back + one doc-keyed agg.  At 100 TB the
    fingerprint stream is a bounded 2/(w+1) sample of the char stream
    and every shuffle is keyed — no all-pairs anywhere.

    Returns (doc_id, n_fp, shared_fp): distinct fingerprints, and how
    many of them occur in at least one OTHER document — the
    plagiarism-screen overlap signal.  Documents shorter than
    k + w − 1 chars have no full window and are absent (documented;
    MOSS reports them as unmatchable)."""
    n = F.length(F.col(text_col))
    d = (fan_out(df.select(id_col, text_col))
         .where(n >= k + w - 1)
         .withColumn("hs", F.transform(
             F.sequence(F.lit(1), n - k + 1),
             lambda p: X.h60(F.substring(F.col(text_col), p, k)))))
    hs = F.col("hs")
    sel = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size(hs) - w + 1),
        lambda s: F.aggregate(
            F.sequence(s, s + w - 1),
            F.struct(F.lit((1 << 62)).cast("long").alias("mn"),
                     F.lit(0).alias("p")),
            # <= keeps the LATER position on ties: the rightmost-min rule
            lambda acc, j: F.when(
                F.element_at(hs, j) <= acc.getField("mn"),
                F.struct(F.element_at(hs, j).alias("mn"),
                         j.alias("p"))).otherwise(acc)).getField("p")))
    fp = (d.select(F.col(id_col), F.col("hs"), F.explode(sel).alias("p"))
          .select(F.col(id_col),
                  F.element_at(F.col("hs"), F.col("p")).alias("h"))
          .distinct())
    share = fp.groupBy("h").agg(F.count("*").alias("nd"))
    return (fp.join(share, "h")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_fp"),
                 F.sum((F.col("nd") > 1).cast("long"))
                 .cast("long").alias("shared_fp")))


# ------------------------------------------- multinomial Naive Bayes
def nb_classify(df: DataFrame, label_col: str = "lang",
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Multinomial Naive Bayes text classifier (the event model of
    McCallum & Nigam, AAAI-98 workshop — the classic fastText-era
    baseline for language-ID / quality gating): train token-given-class
    multinomials with Laplace (add-one) smoothing over the corpus's own
    labels, then score every document and predict argmax —
    train-and-apply in one dataflow, the shape a bootstrap quality
    classifier takes in a webtext pipeline (label a seed set, classify
    the crawl).

    Exactness contract: every log-probability is integerized per
    (token, class) — lam = round(ln((n_tc+1)/(n_c+V))·1e6) as BIGINT —
    so document scores are pure integer sums (order-free under any
    partitioning); argmax ties break toward the lexicographically
    smallest class.  The SQL oracle replays identical arithmetic.

    Plan shape: one (doc,token) count agg, one (token,class) count agg
    (both map-side combined), the k-class table and the two scalar
    totals broadcast; the score join is token-keyed (tf ⨝ lambda) —
    never doc×doc, never all-pairs.  At 100 TB the lambda table is
    vocab×k (sublinear in corpus), the tf stream shuffles once.

    Returns (doc_id, lang, pred_lang, score_micro): actual label,
    predicted label, and the winning class's integer score."""
    docs = df.select(id_col, label_col, text_col).localCheckpoint(
        eager=False)
    tf = (fan_out(docs)
          .select(F.col(id_col),
                  F.explode(X.tokens(F.col(text_col))).alias("tok"))
          .where(F.col("tok") != "")
          .groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=False))
    # class priors: ln(docs_c / n_docs), micro-integerized
    cls = (docs.groupBy(label_col).agg(F.count("*").alias("dc"))
           .crossJoin(F.broadcast(
               docs.agg(F.count("*").alias("nd"))))
           .select(F.col(label_col).alias("cls"),
                   F.round(F.log(F.col("dc").cast("double")
                                 / F.col("nd").cast("double")) * 1e6)
                   .cast("long").alias("prior6"))
           .localCheckpoint(eager=False))
    # (token, class) occurrence counts n_tc and class totals n_c
    ntc = (tf.join(docs.select(id_col, label_col), id_col)
           .groupBy("tok", label_col).agg(F.sum("tf").alias("ntc"))
           .withColumnRenamed(label_col, "cls")
           .localCheckpoint(eager=False))
    nc = ntc.groupBy("cls").agg(F.sum("ntc").alias("nc"))
    vocab = tf.select("tok").distinct().agg(F.count("*").alias("v"))
    denom = (nc.crossJoin(F.broadcast(vocab))
             .select("cls", (F.col("nc") + F.col("v"))
                     .cast("double").alias("den"))
             .localCheckpoint(eager=False))
    lam = (ntc.join(denom, "cls")
           .select("tok", "cls",
                   F.round(F.log((F.col("ntc") + 1).cast("double")
                                 / F.col("den")) * 1e6)
                   .cast("long").alias("lam6")))
    lam0 = denom.select("cls", F.round(F.log(F.lit(1.0) / F.col("den"))
                                       * 1e6).cast("long").alias("lam06"))
    # score every (doc, class): token-keyed join, absent (t,c) pairs
    # fall back to the class's smoothing floor lam0
    scored = (tf.crossJoin(F.broadcast(cls.select("cls")))
              .join(lam, ["tok", "cls"], "left")
              .join(F.broadcast(lam0), "cls")
              .groupBy(id_col, "cls")
              .agg(F.sum(F.col("tf")
                         * F.coalesce(F.col("lam6"), F.col("lam06")))
                   .alias("tok6")))
    # token-less docs still score: base = doc × class with prior only
    base = (docs.select(id_col, label_col)
            .crossJoin(F.broadcast(cls))
            .join(scored, [id_col, "cls"], "left")
            .select(F.col(id_col), F.col(label_col), F.col("cls"),
                    (F.col("prior6")
                     + F.coalesce(F.col("tok6"), F.lit(0)))
                    .alias("sc6")))
    return (base.groupBy(id_col, label_col)
            .agg(F.min(F.struct((-F.col("sc6")).alias("neg"),
                                F.col("cls").alias("cls"))).alias("w"))
            .select(F.col(id_col), F.col(label_col),
                    F.col("w.cls").alias("pred_lang"),
                    (-F.col("w.neg")).cast("long").alias("score_micro")))


# --------------------------------------------------------- k-core coreness
def coreness(nodes: DataFrame, edges: DataFrame, rounds: int = 4,
             node_col: str = "node", src: str = "src",
             dst: str = "dst") -> DataFrame:
    """Distributed k-core decomposition via iterative h-index updates
    (Montresor, De Pellegrini & Miorandi, "Distributed k-core
    decomposition", IEEE TPDS 2013): init est(v) = degree(v); each
    round est(v) = min(est(v), H({est(u) : u ~ v})) where H is the
    h-index — the largest h such that at least h neighbors currently
    estimate ≥ h.  Estimates decrease monotonically to the true
    coreness (Seidman 1983's k-core number) — the web-graph density
    signal that separates link-farm cores from sparse periphery
    without any global peeling order.  A fixed ``rounds`` keeps the
    trajectory reproducible; on converged graphs the output IS the
    coreness (units pin equality with a sequential peeling twin).

    All integer, order-free.  Per round: one dst-keyed join + one
    src-keyed collect+fold agg (the h-index is an in-row count over
    the sorted neighbor-estimate array — estimates bounded by max
    degree, arrays bounded by degree)."""
    e = G.undirected_edges(edges, src, dst, "src")
    est = (e.groupBy("src").agg(F.count("*").alias("est"))
           .withColumnRenamed("src", node_col)
           .localCheckpoint(eager=False))
    for _ in range(rounds):
        # neighbor estimates arrive over the dst side; h-index in-row:
        # with the array sorted DESC, h = #positions i (1-based) with
        # arr[i] >= i
        nb = (e.join(est.select(F.col(node_col).alias("dst"),
                                F.col("est").alias("nest")), "dst")
              .groupBy("src")
              .agg(F.sort_array(F.collect_list("nest"),
                                asc=False).alias("arr")))
        h = nb.select(
            F.col("src").alias(node_col),
            F.size(F.filter(
                F.transform(F.col("arr"),
                            lambda x, i: (x >= i + 1).cast("int")),
                lambda b: b == 1)).cast("long").alias("h"))
        est = (est.join(h, node_col)
               .select(node_col,
                       F.least(F.col("est").cast("long"),
                               F.col("h")).alias("est"))
               .localCheckpoint(eager=False))
    out = est.select(F.col(node_col).alias("node"),
                     F.col("est").cast("long").alias("coreness"))
    if nodes is not None:
        allnodes = nodes.select(F.col(node_col).alias("node")).distinct()
        out = (allnodes.join(out, "node", "left")
               .select("node", F.coalesce(F.col("coreness"),
                                          F.lit(0)).alias("coreness")))
    return out


# --------------------------------------------- harmonic centrality (exact)
def harmonic_exact(nodes: DataFrame, edges: DataFrame, rounds: int = 3,
                   node_col: str = "node", src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Exact bounded-radius harmonic centrality (Boldi & Vigna,
    "Axioms for centrality", 2014; the metric behind Common Crawl's
    official host ranking): H(v) = Σ_u 1/d(v,u) over nodes within
    ``rounds`` hops on the symmetrized graph, computed from exact
    neighborhood (ball) sizes per radius.  The contribution of radius
    t is (|B(v,t)| − |B(v,t−1)|)/t; with L = lcm(1..rounds) the score
    integerizes EXACTLY as Σ ΔB_t · L/t — all integer, order-free.

    SCALE MARKER: the exact ball materializes O(n · |B|) pairs — the
    small-graph VERIFIER.  The production form at 10^9 nodes is
    ``hyperball`` below (bounded O(n·m) register state), which this
    function exists to pin.

    Returns (node, reachable, harmonic_num) where harmonic_num is the
    L-scaled exact integer score (L = 6 for rounds=3)."""
    import math
    e = G.undirected_edges(edges, src, dst, "src")
    base = (nodes.select(F.col(node_col).alias("v")).distinct()
            if nodes is not None else G.edge_nodes(e, "v")
            ).localCheckpoint(eager=False)
    ball = base.select("v", F.col("v").alias("u"))
    sizes = []
    for _ in range(rounds):
        grown = (ball.join(e.select(F.col("src").alias("u"), "dst"), "u")
                 .select("v", F.col("dst").alias("u"))
                 .union(ball)
                 .distinct()
                 .localCheckpoint(eager=False))
        ball = grown
        sizes.append(ball.groupBy("v")
                     .agg(F.count("*").cast("long").alias("s")))
    L = math.lcm(*range(1, rounds + 1))
    out = base
    for t, s in enumerate(sizes, start=1):
        out = out.join(s.withColumnRenamed("s", f"s{t}"), "v")
    expr = F.lit(0).cast("long")
    prev = F.lit(1).cast("long")
    for t in range(1, rounds + 1):
        expr = expr + (F.col(f"s{t}") - prev) * F.lit(L // t)
        prev = F.col(f"s{t}")
    return out.select(F.col("v").alias("node"),
                      F.col(f"s{rounds}").alias("reachable"),
                      expr.alias("harmonic_num"))


# ------------------------------------------- BPE pre-tokenizer fertility
#: GPT-2's pre-tokenizer regex (Radford et al. 2019, the contraction /
#: letter-run / digit-run / punct-run grouping every byte-BPE tokenizer
#: applies before merges), in its RE2-COMPATIBLE form: the original's
#: `\s+(?!\S)` negative-lookahead branch (hold back the space before a
#: following token) is folded into the trailing `\s+` because RE2 — and
#: therefore the DuckDB oracle — has no lookahead.  Documented
#: deviation: interior runs of 2+ spaces tokenize as one whitespace run
#: instead of run-minus-one + attached space; letter/digit/punct
#: grouping (what fertility measures) is unaffected.
BPE_PRETOKEN_RE = (r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+"
                   r"| ?[^\s\p{L}\p{N}]+|\s+")


def bpe_pretoken_stats(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Tokenizer-fertility signals from GPT-2-style pre-tokenization:
    n_pretokens, distinct pretokens, and chars-per-pretoken — the
    compression-rate proxy data pipelines use to price a corpus in
    tokens and to flag pathological segments (digit soup and punct
    runs pre-tokenize short; CJK runs group long).  Pure in-row
    regexp_extract_all + array ops — zero shuffle, pipelines with the
    scan."""
    toks = F.regexp_extract_all(F.col(text_col),
                                F.lit(BPE_PRETOKEN_RE), F.lit(0))
    return (df.select(
        F.col(id_col), F.length(text_col).cast("long").alias("n_chars"),
        F.size(toks).alias("__n"),
        F.size(F.array_distinct(toks)).alias("n_distinct_pretokens"))
        .where(F.col("__n") > 0)
        .select(id_col, "n_chars",
                F.col("__n").cast("long").alias("n_pretokens"),
                F.col("n_distinct_pretokens").cast("long")
                .alias("n_distinct_pretokens"),
                F.round(F.col("n_chars") / F.col("__n"), 4)
                .alias("chars_per_pretoken")))


# --------------------------------------------------- rendezvous hashing
def rendezvous_shard(key: Column, n_shards: int,
                     salt: str = "hrw") -> Column:
    """Rendezvous / highest-random-weight shard assignment (Thaler &
    Ravishankar 1996 — the consistent-placement scheme behind cache
    rings and shard maps): shard(key) = argmax over s of
    h60('<salt>-<s>-<key>').  THE property (vs key % n): growing the
    fleet from n to n+1 shards moves only the keys whose NEW shard
    wins the argmax — an expected 1/(n+1) of them — instead of
    rehashing nearly everything; every mover lands on the new shard.
    In-row argmax over an n-element hash array: zero shuffle, no
    coordination state anywhere."""
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(n_shards - 1)),
        lambda s: F.struct(
            X.h60(F.concat(F.lit(salt + "-"), s.cast("string"),
                           F.lit("-"), key.cast("string"))).alias("h"),
            s.cast("long").alias("s")))
    return F.array_max(arr).getField("s")


# ----------------------------------------------------------------- RAKE
#: RAKE separator stopwords (demo lexicon; the operator is the point)
RAKE_STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is", "on",
                  "for", "with", "at", "by", "from", "as", "it", "this",
                  "that", "are", "was", "be", "or")


def rake_keywords(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """RAKE — Rapid Automatic Keyword Extraction (Rose, Engel, Cramer
    & Cowley 2010), the non-graph companion to TextRank: candidate
    phrases are maximal runs of non-stopword tokens (stopwords and
    punctuation-only tokens are SEPARATORS); each word scores
    deg(w)/freq(w) where deg sums the lengths of every phrase
    occurrence containing w (co-occurrence incl. self) and freq counts
    w's phrase occurrences; a phrase scores the sum of its word
    scores; top-k phrases per document win.

    Determinism: word scores integerize as round(1e6·deg/freq) so
    phrase scores are order-free integer sums; ties break on the
    phrase string.  Shape: one posexplode, ONE per-doc window for the
    gaps-and-islands phrase grouping (doc-keyed, the engine's asof/
    textrank precedent), then (doc,word)- and (doc,phrase)-keyed aggs
    — no all-pairs, no global sort; top-k per doc is the bounded
    topk_per_key window."""
    from ..operators.relational import topk_per_key
    toks = (fan_out(df.select(id_col, text_col))
            .select(F.col(id_col),
                    F.posexplode(X.tokens(F.lower(F.col(text_col))))
                    .alias("pos", "raw"))
            .select(id_col, "pos",
                    F.regexp_replace("raw", r"[^\p{L}\p{N}]", "")
                    .alias("w")))
    body = toks.where((F.col("w") != "")
                      & ~F.col("w").isin(*RAKE_STOPWORDS))
    isl = body.withColumn(
        "grp", F.col("pos") - F.row_number().over(
            Window.partitionBy(id_col).orderBy("pos")))
    ph = (isl.groupBy(id_col, "grp")
          .agg(F.count("*").alias("plen"),
               F.array_join(
                   F.transform(F.sort_array(F.collect_list(
                       F.struct("pos", "w"))), lambda x: x.getField("w")),
                   " ").alias("phrase")))
    ws = (isl.join(ph.select(id_col, "grp", "plen"), [id_col, "grp"])
          .groupBy(id_col, "w")
          .agg(F.count("*").alias("freq"),
               F.sum("plen").alias("deg")))
    sc = ws.select(id_col, "w",
                   F.round(F.lit(1e6) * F.col("deg") / F.col("freq"))
                   .cast("long").alias("s6"))
    psc = (isl.join(sc, [id_col, "w"])
           .groupBy(id_col, "grp")
           .agg(F.sum("s6").alias("score6")))
    allp = (ph.join(psc, [id_col, "grp"])
            .select(id_col, "phrase", F.col("score6").cast("long")))
    return topk_per_key(allp, [id_col],
                        [F.desc("score6"), F.asc("phrase")], k) \
        .select(id_col, "phrase", "score6")


# -------------------------------------------------- lexical richness
def yule_richness(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Yule's characteristic K (Yule 1944, "The Statistical Study of
    Literary Vocabulary") and Simpson's repeat-rate D — the
    length-robust lexical-richness signals beside TTR (which decays
    mechanically with document length, K and D do not): from the
    per-document frequency spectrum, with M1 = Σc (tokens) and
    M2 = Σc² over per-type counts c,
        K = 10⁴·(M2 − M1)/M1²,   D = (M2 − M1)/(M1·(M1 − 1)).
    Repetitive boilerplate scores high K/D, diverse prose low —
    D is exactly the probability two random token draws (without
    replacement) are the same type.

    Both are pure integer aggregates until one final division
    (order-free under any partitioning); one (doc,token) count agg
    (map-side combined) + one doc-keyed fold.  Documents with < 2
    tokens are absent (D's denominator).  Returns (doc_id, n_tokens,
    yule_k, simpson_d), 4/6 dp."""
    tc = (fan_out(df.select(id_col, text_col))
          .select(F.col(id_col),
                  F.explode(X.tokens(F.col(text_col))).alias("tok"))
          .where(F.col("tok") != "")
          .groupBy(id_col, "tok").agg(F.count("*").alias("c")))
    agg = (tc.groupBy(id_col)
           .agg(F.sum("c").alias("m1"),
                F.sum(F.col("c") * F.col("c")).alias("m2")))
    m1 = F.col("m1").cast("double")
    m2 = F.col("m2").cast("double")
    return (agg.where(F.col("m1") >= 2)
            .select(F.col(id_col),
                    F.col("m1").cast("long").alias("n_tokens"),
                    F.round(F.lit(1e4) * (m2 - m1) / (m1 * m1), 4)
                    .alias("yule_k"),
                    F.round((m2 - m1) / (m1 * (m1 - 1)), 6)
                    .alias("simpson_d")))


# ------------------------------------------------------- Heaps' law fit
def heaps_stats(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Heaps'-law fit (Heaps 1978; Herdan 1960): vocabulary growth
    V(n) ≈ K·n^β — the companion corpus-health monitor to the Zipf
    slope: natural text grows vocabulary at β ≈ 0.4–0.6; template spam
    flattens β (vocab saturates), token soup pushes it toward 1.
    Measurement points are per-document cumulative (in doc_id order):
    x_d = ln(tokens so far), y_d = ln(distinct tokens so far) —
    cumulative vocabulary computed RELATIONALLY as "tokens whose FIRST
    document ≤ d" (one token-keyed MIN agg), never a sequential scan;
    then OLS in log-log space.

    Determinism: the zipf_stats contract verbatim — FLOOR(ln·10⁶)
    integerization, DECIMAL(38,0) OLS sums, and BOTH slope and
    intercept emitted as single divisions of exact integers
    (intercept = (Σy·Σxx − Σx·Σxy)/(nΣxx − (Σx)²)).

    Scale note: the one window runs over the DOCUMENT COUNT (the
    measurement series is inherently ordered) — sublinear in the token
    stream, same proportionality argument as zipf_stats' vocabulary
    window; at petabyte scale the series would checkpoint per shard
    instead (coarser points, same fit).  Returns one row
    (n_docs, total_tokens, vocab_size, heaps_beta, heaps_lnk)."""
    tok = (fan_out(df.select(id_col, text_col))
           .select(F.col(id_col),
                   F.explode(X.tokens(F.lower(F.col(text_col))))
                   .alias("token"))
           .where(F.col("token") != ""))
    per_doc = tok.groupBy(id_col).agg(F.count("*").alias("nt"))
    firsts = (tok.groupBy("token").agg(F.min(id_col).alias(id_col))
              .groupBy(id_col).agg(F.count("*").alias("nv")))
    w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, 0)
    pts = (per_doc.join(firsts, id_col, "left")
           .select(id_col, "nt",
                   F.coalesce(F.col("nv"), F.lit(0)).alias("nv"))
           .select(F.sum("nt").over(w).alias("ct"),
                   F.sum("nv").over(w).alias("cv"))
           .where((F.col("ct") > 0) & (F.col("cv") > 0))
           .select(F.col("ct"), F.col("cv"),
                   F.floor(F.log(F.col("ct").cast("double")) * 1e6)
                   .cast("decimal(38,0)").alias("x6"),
                   F.floor(F.log(F.col("cv").cast("double")) * 1e6)
                   .cast("decimal(38,0)").alias("y6")))
    agg = pts.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x6").alias("sx"), F.sum("y6").alias("sy"),
        F.sum(F.col("x6") * F.col("y6")).alias("sxy"),
        F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
        F.max("ct").cast("long").alias("total_tokens"),
        F.max("cv").cast("long").alias("vocab_size"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    inum = (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        "total_tokens", "vocab_size",
        (num.cast("double") / den.cast("double")).alias("heaps_beta"),
        (inum.cast("double") / den.cast("double") / F.lit(1e6))
        .alias("heaps_lnk"))


# ------------------------------------------------- link prediction (AA)
def adamic_adar(edges: DataFrame, src: str = "src", dst: str = "dst",
                max_middle_deg: int = 1024,
                min_common: int = 2) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar 2003; the benchmark
    scorer of Liben-Nowell & Kleinberg CIKM 2003): score non-adjacent
    pairs by Σ 1/ln(deg(w)) over common neighbors w — rare shared
    neighbors are strong evidence, shared hubs nearly none.  The
    web-graph uses: suggest crawl frontier links, flag link-farm pairs
    (dense mutual-neighbor cliques), entity co-reference.

    Scale contract: the two-hop join is keyed on the MIDDLE node, so
    its size is Σ deg(w)² — bounded here by ``max_middle_deg``, the
    standard super-hub drop (a capped middle contributes weight
    1/ln(deg) → 0 anyway, so high-degree middles cost quadratic join
    rows for vanishing signal; the unit pins that capping the hub
    changes hub-mediated pairs only).  Weights micro-integerized
    (round(1e6/ln(deg))) so pair scores are order-free integer sums;
    jaccard = cn/(deg_u + deg_v − cn) rides along at 4 dp — note it
    INHERITS the cap: cn counts capped middles while du/dv are full
    degrees, so when a super-hub middle is dropped the value is a
    lower bound on the true neighbor-set Jaccard, not the exact one
    (ADVICE r4; with max_middle_deg=None they coincide).

    Returns (u, v, cn, aa6, jaccard) for u < v non-adjacent pairs with
    ≥ ``min_common`` common (capped) neighbors."""
    e = G.undirected_edges(edges, src, dst, "src")
    deg = e.groupBy("src").agg(F.count("*").alias("deg")) \
        .withColumnRenamed("src", "node").localCheckpoint(eager=False)
    mid = (deg.where((F.col("deg") >= 2)
                     & (F.col("deg") <= max_middle_deg))
           .select(F.col("node").alias("w"),
                   F.round(F.lit(1e6)
                           / F.log(F.col("deg").cast("double")))
                   .cast("long").alias("w6")))
    two = (e.select(F.col("src").alias("w"), F.col("dst").alias("u"))
           .join(e.select(F.col("src").alias("w"),
                          F.col("dst").alias("v")), "w")
           .where(F.col("u") < F.col("v"))
           .join(mid, "w"))
    pairs = (two.groupBy("u", "v")
             .agg(F.count("*").cast("long").alias("cn"),
                  F.sum("w6").cast("long").alias("aa6"))
             .where(F.col("cn") >= min_common))
    nonadj = pairs.join(e.select(F.col("src").alias("u"),
                                 F.col("dst").alias("v")),
                        ["u", "v"], "left_anti")
    return (nonadj
            .join(deg.select(F.col("node").alias("u"),
                             F.col("deg").alias("du")), "u")
            .join(deg.select(F.col("node").alias("v"),
                             F.col("deg").alias("dv")), "v")
            .select("u", "v", "cn", "aa6",
                    F.round(F.col("cn")
                            / (F.col("du") + F.col("dv") - F.col("cn")),
                            4).alias("jaccard")))


# ---------------------------------------------------- encoding signals
#: Common UTF-8-decoded-as-Latin-1 artifacts ("mojibake"): the \u00c3-/
#: \u00e2-prefixed digraphs every double-encoded Western page exhibits.
MOJIBAKE_RE = ("\u00c3\u00a9|\u00c3\u00a8|\u00c3\u00b1|\u00c3\u00bc"
               "|\u00c3\u00b6|\u00c3\u00a4|\u00c3\u00a7|\u00c3\u00a0"
               "|\u00e2\u0080\u0099|\u00e2\u0080\u009c"
               "|\u00e2\u0080\u009d|\u00e2\u0080\u0093"
               "|\u00e2\u0080\u0094|\u00c2\u00b0|\u00c2\u00b7")
#: C0 control characters except tab/newline/carriage-return
CTRL_RE = "[\x00-\x08\x0b\x0c\x0e-\x1f]"


def encoding_signals(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document encoding-health signals — the mojibake/binary
    triage every web-crawl text pipeline runs before quality scoring
    (decode errors are unfixable downstream; CCNet/RefinedWeb drop
    such pages outright): U+FFFD replacement-character count (the
    decoder already gave up), double-UTF-8 artifact count (UTF-8 bytes
    re-decoded as Latin-1 — the \u00c3\u00a9 / \u00e2\u0080\u0099
    digraphs), C0 control characters (binary leakage), and the ASCII
    fraction as the cheap prior.  ``looks_clean`` ANDs the hard
    signals.  Pure in-row regexp counts — zero shuffle, pipelines
    with the scan."""
    t = F.col(text_col)
    n = F.length(t)
    nrep = F.size(F.regexp_extract_all(t, F.lit("\ufffd"), F.lit(0)))
    nmoji = F.size(F.regexp_extract_all(t, F.lit(MOJIBAKE_RE), F.lit(0)))
    nctrl = F.size(F.regexp_extract_all(t, F.lit(CTRL_RE), F.lit(0)))
    nascii = F.length(F.regexp_replace(t, "[^ -~]", ""))
    return (df.select(F.col(id_col), n.cast("long").alias("n_chars"),
                      nrep.cast("long").alias("n_replacement"),
                      nmoji.cast("long").alias("n_mojibake"),
                      nctrl.cast("long").alias("n_ctrl"),
                      F.round(nascii / F.greatest(n, F.lit(1)), 4)
                      .alias("ascii_frac"),
                      ((nrep == 0) & (nmoji == 0) & (nctrl == 0))
                      .alias("looks_clean"))
            .where(n > 0))


# ------------------------------------------------------ Benford deviation
#: P(first digit = d) = log10(1 + 1/d), embedded as LITERALS (repr of
#: the python doubles) so both engines multiply the identical constants
#: — never a runtime log10 whose last ulp may differ across libms.
BENFORD_P = tuple(math.log10(1.0 + 1.0 / d) for d in range(1, 10))


def benford_deviation(df: DataFrame, value_col: str = "value",
                      group_col: str = "event_type") -> DataFrame:
    """Benford's-law first-digit screening (Benford 1938; Nigrini 1996
    — the classic forensic test for fabricated numeric streams, and a
    crawl-health monitor for scraped metrics: organically-grown
    magnitudes follow P(d) = log10(1+1/d), synthetic/defaulted columns
    don't): per group, the first-significant-digit distribution of
    positive values and the chi-square deviation from Benford.

    Cross-engine first digit WITHOUT float log10 (log10(1000) rounds
    differently across libms — the classic 2.9999… hazard): values
    integerize to cents (the engine's _cents contract), and the first
    digit is the first character of the integer's decimal string —
    pure string/integer ops, bit-identical everywhere.  The chi-square
    sums per-digit micro-integerized terms round(1e6·(o−np)²/(np)),
    so the group sum is order-free.  Returns (group, n, chi2,
    worst_digit) — chi2 4 dp, worst_digit = argmax |o − np| with
    smallest-digit ties."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    d = (df.where(F.col(value_col) > 0)
         .select(F.col(group_col).alias("grp"),
                 F.substring(cents.cast("string"), 1, 1).cast("int")
                 .alias("fd"))
         .where(F.col("fd") >= 1))
    counts = d.groupBy("grp", "fd").agg(F.count("*").alias("o"))
    totals = d.groupBy("grp").agg(F.count("*").alias("n"))
    digits = (totals.select(
        "grp", "n",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("fd")))
    full = (digits.join(counts, ["grp", "fd"], "left")
            .select("grp", "n", "fd",
                    F.coalesce(F.col("o"), F.lit(0)).alias("o"),
                    (F.col("n") * F.element_at(
                        F.array(*[F.lit(p) for p in BENFORD_P]),
                        F.col("fd"))).alias("e")))
    term6 = F.round(F.lit(1e6) * (F.col("o") - F.col("e"))
                    * (F.col("o") - F.col("e")) / F.col("e")) \
        .cast("long")
    dev6 = F.round(F.lit(1e6) * F.abs(F.col("o") - F.col("e"))) \
        .cast("long")
    return (full.select("grp", "n", "fd", term6.alias("t6"),
                        dev6.alias("d6"))
            .groupBy("grp")
            .agg(F.max("n").cast("long").alias("n"),
                 F.round(F.sum("t6") / 1e6, 4).alias("chi2"),
                 F.min(F.struct((-F.col("d6")).alias("nd"),
                                F.col("fd").alias("fd"))).alias("w"))
            .select(F.col("grp").alias(group_col), "n", "chi2",
                    F.col("w.fd").cast("long").alias("worst_digit")))


# ------------------------------------------------- degree assortativity
def assortativity(edges: DataFrame, src: str = "src",
                  dst: str = "dst") -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002 "Assortative
    mixing in networks") — the one-number degree-correlation summary of
    a graph: r > 0 when high-degree nodes link to high-degree nodes
    (social networks), r < 0 when hubs link to leaves (the web, and
    most crawl graphs — a star reads exactly −1).  Computed over each
    undirected edge's endpoint degrees (j, k) via Newman's eq. 4,
    cleared of fractions so EVERY aggregate is an exact integer sum:
        num·4 = 4·M·Σjk − (Σ(j+k))²
        den·4 = 2·M·Σ(j²+k²) − (Σ(j+k))²
    r = num4/den4 in one final division (NULL for regular graphs,
    where den = 0 and r is undefined).  DECIMAL(38,0) sums ≡ HUGEINT.
    One degree agg + one edge-keyed degree join — no window, no
    all-pairs.  Returns one row (m_edges, assortativity 6 dp)."""
    e = G.undirected_edges(edges, src, dst, None)
    deg = e.groupBy("src").agg(F.count("*").alias("deg")) \
        .withColumnRenamed("src", "node")
    ed = (e.where(F.col("src") < F.col("dst"))
          .join(deg.select(F.col("node").alias("src"),
                           F.col("deg").alias("j")), "src")
          .join(deg.select(F.col("node").alias("dst"),
                           F.col("deg").alias("k")), "dst"))
    d38 = "decimal(38,0)"
    agg = ed.agg(
        F.count("*").cast(d38).alias("m"),
        F.sum((F.col("j") * F.col("k")).cast(d38)).alias("sjk"),
        F.sum((F.col("j") + F.col("k")).cast(d38)).alias("ss"),
        F.sum((F.col("j") * F.col("j")
               + F.col("k") * F.col("k")).cast(d38)).alias("sq"))
    num4 = (F.lit(4).cast(d38) * F.col("m") * F.col("sjk")
            - F.col("ss") * F.col("ss"))
    den4 = (F.lit(2).cast(d38) * F.col("m") * F.col("sq")
            - F.col("ss") * F.col("ss"))
    return agg.select(
        F.col("m").cast("long").alias("m_edges"),
        F.round(F.when(den4 == 0, F.lit(None))
                .otherwise(num4.cast("double") / den4.cast("double")), 6)
        .alias("assortativity"))


# ------------------------------------------- Good-Turing estimation
def good_turing(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", decimals: int = 6) -> DataFrame:
    """Good–Turing frequency estimation (Good, Biometrika 1953; the
    simple-GT presentation of Gale & Sampson 1995, "Good-Turing
    frequency estimation without tears") — the counts-of-counts
    adjustment every n-gram LM pipeline runs before smoothing: a token
    type observed r times gets the adjusted count
        r* = (r+1) · N_{r+1} / N_r ,
    where N_r is the number of types with frequency r; the total
    probability mass reserved for UNSEEN types is N_1/N.  This is the
    estimator underneath Katz backoff and the intuition behind
    Kneser–Ney's absolute discount (the KN-bigram operator above);
    emitted as the per-r table a corpus diagnostic reads directly.

    Scale shape: token counts (one keyed agg), counts-of-counts (a
    second keyed agg over the VOCABULARY, sublinear), then a self-join
    of the tiny N_r table on r+1 — no window at all.  Simple GT leaves
    r* undefined where N_{r+1} = 0 (the sparse high-r tail); those
    rows emit r_star = 0.0, documented, exactly as the oracle does.
    Exactness: r, N_r and N are exact longs; r* and p_gt = r*/N are
    single divisions rounded at ``decimals`` identically in both
    engines.

    Returns one row per observed frequency r: (r, n_r, r_star, p_gt)."""
    tok = (df.select(F.explode(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("t"))
        .where(F.col("t") != ""))
    types = tok.groupBy("t").agg(F.count("*").alias("r"))
    nr = types.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    total = nr.agg(F.sum(F.col("r") * F.col("n_r")).alias("N"))
    nxt = nr.select((F.col("r") - 1).alias("r"),
                    F.col("n_r").alias("n_next"))
    return (nr.join(nxt, "r", "left")
            .crossJoin(F.broadcast(total))
            .select(F.col("r").cast("long").alias("r"), "n_r",
                    F.round(F.coalesce(
                        (F.col("r") + 1) * F.col("n_next")
                        / F.col("n_r").cast("double"), F.lit(0.0)),
                        decimals).alias("r_star"),
                    F.round(F.coalesce(
                        (F.col("r") + 1) * F.col("n_next")
                        / (F.col("n_r") * F.col("N")).cast("double"),
                        F.lit(0.0)), decimals + 2).alias("p_gt")))


# ---------------------------------------------------- graph reciprocity
def reciprocity(edges: DataFrame, src: str = "src",
                dst: str = "dst", decimals: int = 6) -> DataFrame:
    """Directed-graph reciprocity (Garlaschelli & Loffredo, PRL 2004):
    r = L↔/L, the fraction of directed edges whose reverse edge also
    exists, plus the paper's correlation-corrected
    ρ = (r − ā)/(1 − ā) with ā = L/(N(N−1)) — the null-model link
    density.  On a host link graph this is the nepotistic-linking
    monitor: organic web graphs are weakly reciprocal, while link
    farms that trade backlinks push r (and ρ) far above the density
    baseline — a spam-mass companion signal to TrustRank.

    Scale shape: distinct + self-loop drop, one keyed self semi-join
    for L↔ (reverse-edge membership), two count aggs — no window, no
    cartesian.  Exactness: N, L, L↔ are exact longs; r, ā, ρ are
    single divisions rounded at ``decimals`` (ρ NULL when the graph is
    complete, 1 − ā = 0).

    Returns one row: (n_nodes, n_edges, n_recip, r, rho)."""
    e = (G.directed_edges(edges, src, dst, None)
         .where(F.col("src") != F.col("dst")))
    nodes = G.edge_nodes(e).agg(F.count("*").cast("long").alias("n_nodes"))
    rec = e.join(e.select(F.col("dst").alias("src"),
                          F.col("src").alias("dst")),
                 ["src", "dst"], "left_semi")
    tot = e.agg(F.count("*").cast("long").alias("n_edges"))
    nr = rec.agg(F.count("*").cast("long").alias("n_recip"))
    out = nodes.crossJoin(tot).crossJoin(nr)
    r = F.col("n_recip") / F.col("n_edges").cast("double")
    abar = (F.col("n_edges")
            / (F.col("n_nodes") * (F.col("n_nodes") - 1)).cast("double"))
    return out.select(
        "n_nodes", "n_edges", "n_recip",
        F.round(r, decimals).alias("r"),
        F.round(F.when(abar < 1.0, (r - abar) / (F.lit(1.0) - abar)),
                decimals).alias("rho"))


# ------------------------------------------------- Flesch reading ease
def flesch_reading(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Flesch reading ease (Flesch, J. Applied Psychology 1948):
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) — the
    oldest readability score still used in corpus quality filtering
    (a companion to the Gopher/C4 signals: extreme scores flag
    boilerplate, word salad and OCR junk).  Syllables use the standard
    regex heuristic — vowel-group runs ``[aeiouy]+`` in the lowered
    text (whitespace breaks runs, so no cross-word merging) —
    sentences count ``[.!?]+`` runs floored at 1, words are
    whitespace tokens.  Pure in-row regexp counts, zero shuffle,
    pipelines with the scan; the identical regexes run in the oracle.

    Returns (id, n_words, n_sentences, n_syllables, flesch 4-dp,
    band) with the classic bands on the ROUNDED score; empty docs
    emit NULL flesch/band."""
    t = F.lower(F.col(text_col))
    words = F.size(F.filter(F.split(F.trim(t), r"\s+"),
                            lambda w: w != ""))
    sents = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1))
    syl = F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), F.lit(0)))
    score = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (words / sents.cast("double"))
        - F.lit(84.6) * (syl / words.cast("double")), 4)
    score = F.when(words > 0, score)
    band = (F.when(score.isNull(), F.lit(None).cast("string"))
            .when(score >= 90, F.lit("very_easy"))
            .when(score >= 70, F.lit("easy"))
            .when(score >= 50, F.lit("medium"))
            .when(score >= 30, F.lit("difficult"))
            .otherwise(F.lit("very_difficult")))
    return df.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        syl.cast("long").alias("n_syllables"),
        score.alias("flesch"), band.alias("band"))


# ------------------------------------- log-likelihood-ratio collocations
def llr_collocations(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     min_count: int = 5) -> DataFrame:
    """Collocation extraction by log-likelihood ratio (Dunning, CL 1993,
    "Accurate Methods for the Statistics of Surprise and Coincidence")
    — the measure that replaced PMI for SPARSE counts: PMI explodes for
    rare pairs (a 1-of-1 co-occurrence maxes it out), while Dunning's
    G² weights evidence by volume, staying χ²-calibrated down to tiny
    counts.  Over adjacent token pairs with positional marginals:
    contingency k11 = c(x,y), k12 = row(x)−k11, k21 = col(y)−k11,
    k22 = N − row − col + k11, and
        G² = 2·Σ_ij k_ij · ln(k_ij·N / (row_i·col_j)),  0·ln 0 = 0.

    Scale shape mirrors ``pmi_collocations``: in-row bigram derivation,
    token-keyed linear aggs (marginals over the UNCUT bigram table —
    the cut applies only to emitted pairs), vocab-level joins, 1-row
    broadcast total; no window, no cartesian.  Determinism: every cell
    and product is an exact long; ln appears only inside the single
    G² chain, summed in pinned cell order and rounded 4 dp — the
    repo's transcendental-absorption contract (no ranking rides the
    float: all pairs ≥ min_count are emitted, order-insensitive)."""
    tk = X.tokens(F.lower(F.col(text_col)))
    m = F.size(tk)
    d = fan_out(df.select(id_col, text_col))
    bi = (d.select(F.explode(F.when(m >= 2, F.arrays_zip(
        F.slice(tk, 1, m - 1), F.slice(tk, 2, m - 1)))).alias("bg"))
        .select(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
        .groupBy("w1", "w2").agg(F.count("*").alias("c2"))
        .localCheckpoint(eager=False))
    rowm = bi.groupBy("w1").agg(F.sum("c2").alias("r1"))
    colm = bi.groupBy("w2").agg(F.sum("c2").alias("r2"))
    nn = bi.agg(F.sum("c2").alias("nn"))
    k11 = F.col("c2")
    k12 = F.col("r1") - k11
    k21 = F.col("r2") - k11
    k22 = F.col("nn") - F.col("r1") - F.col("r2") + k11

    def term(k, row, col):
        return F.when(
            k > 0,
            k.cast("double") * F.log(
                (k * F.col("nn")).cast("double")
                / (row * col).cast("double"))).otherwise(F.lit(0.0))

    llr = F.round(F.lit(2.0) * (
        term(k11, F.col("r1"), F.col("r2"))
        + term(k12, F.col("r1"), F.col("nn") - F.col("r2"))
        + term(k21, F.col("nn") - F.col("r1"), F.col("r2"))
        + term(k22, F.col("nn") - F.col("r1"),
               F.col("nn") - F.col("r2"))), 4)
    return (bi.where(F.col("c2") >= min_count)
            .join(rowm, "w1").join(colm, "w2")
            .crossJoin(F.broadcast(nn))
            .select("w1", "w2", "c2", llr.alias("llr")))


# ------------------------------------------------- term burstiness
def term_burstiness(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    min_cf: int = 10) -> DataFrame:
    """Term burstiness / adaptation (Church & Gale 1995, "Poisson
    mixtures"; Church 2000, "Empirical estimates of adaptation: the
    chance of two Noriegas is closer to p/2 than p²") — the statistic
    separating CONTENT words from function words without any stopword
    list: content words are bursty (having appeared once in a
    document, they tend to repeat), function words scatter ~Poisson.
    Per term: collection frequency cf, document frequency df, the
    burst ratio cf/df (mean occurrences per containing document), and
    Church's adaptation p₂ = P(k ≥ 2 | k ≥ 1) = df₂/df — the "two
    Noriegas" probability, far above the Poisson prediction for topic
    words.  Corpus curation reads this to build data-driven stopword
    lists and keyword weights at 100 TB.

    Scale shape: one (doc, term)-keyed count agg, one term-keyed agg —
    both linear with map-side combine; output is vocabulary-sized.
    Exactness: cf, df, df₂ exact longs; burst and p₂ single 4-dp
    divisions."""
    tok = (df.select(F.col(id_col).alias("d"), F.explode(
        X.tokens(F.lower(F.col(text_col)))).alias("w")))
    per_doc = tok.groupBy("d", "w").agg(F.count("*").alias("k"))
    return (per_doc.groupBy("w")
            .agg(F.sum("k").cast("long").alias("cf"),
                 F.count("*").cast("long").alias("df"),
                 F.sum(F.when(F.col("k") >= 2, 1).otherwise(0))
                 .cast("long").alias("df2"))
            .where(F.col("cf") >= min_cf)
            .select(F.col("w").alias("term"), "cf", "df", "df2",
                    F.round(F.col("cf") / F.col("df").cast("double"), 4)
                    .alias("burst"),
                    F.round(F.col("df2") / F.col("df").cast("double"), 4)
                    .alias("p2")))


# -------------------------------------------- per-source KL divergence
def source_kl(df: DataFrame, text_col: str = "text",
              group_col: str = "source", decimals: int = 4) -> DataFrame:
    """Per-source unigram KL divergence from the corpus mixture
    (Kullback & Leibler, Ann. Math. Stat. 1951) — the data-mixture
    diagnostic behind DoReMi-style reweighting and the DSIR importance
    weights above: KL(P_s ‖ P_corpus) = Σ_w p_s(w)·ln(p_s(w)/p_c(w))
    per source s.  A source far from the mixture dominates or starves
    the blend; this is the one-number drift monitor a 100 TB pipeline
    tracks per ingest batch.  Always finite here: the corpus
    distribution contains every source's vocabulary by construction.

    Scale shape: (source, token) and token keyed aggs (vocab-level,
    sublinear), one bounded broadcast of corpus totals — no window.
    Determinism: each term p_s·ln(p_s/p_c) is ONE pinned double chain
    micro-integerized at 1e9 (the nb_classify idiom), so the per-source
    sum is an order-free exact long; one final division reported at
    ``decimals`` dp.

    Returns (source, n_tokens, vocab, kl)."""
    tok = (df.select(F.col(group_col).alias("s"), F.explode(
        X.tokens(F.lower(F.col(text_col)))).alias("w")))
    sw = tok.groupBy("s", "w").agg(F.count("*").alias("c_sw"))
    ns = sw.groupBy("s").agg(F.sum("c_sw").alias("n_s"),
                             F.count("*").cast("long").alias("vocab"))
    cw = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    nn = cw.agg(F.sum("c_w").alias("nn"))
    term9 = F.round(
        (F.col("c_sw") / F.col("n_s").cast("double"))
        * F.log((F.col("c_sw") * F.col("nn")).cast("double")
                / (F.col("c_w") * F.col("n_s")).cast("double"))
        * F.lit(1e9)).cast("long")
    return (sw.join(ns, "s").join(cw, "w")
            .crossJoin(F.broadcast(nn))
            .groupBy("s")
            .agg(F.max("n_s").cast("long").alias("n_tokens"),
                 F.max("vocab").alias("vocab"),
                 F.sum(term9).alias("__k9"))
            .select(F.col("s").alias(group_col), "n_tokens", "vocab",
                    F.round(F.col("__k9").cast("double") / F.lit(1e9),
                            decimals).alias("kl")))
