"""Deterministic distinct-count sketches.

KMV (k-minimum-values / bottom-k) cardinality estimation: keep the k
smallest values of a uniform hash of the keys; the k-th smallest,
normalized to [0,1), estimates density, so distinct ≈ (k-1)/norm(kth).
Unlike HyperLogLog (whose register layout is engine-specific), KMV is a
pure function of the hash — so Spark and the DuckDB oracle produce
BIT-IDENTICAL sketches and estimates, which is why it is the engine's
verifiable sketch primitive (same spirit as the theta sketch family).

Scale shape: the hash is the shared cross-engine h60 (md5-derived, in
text.py).  The min-k aggregation is two-phase salted — k smallest per
(group, salt) partition-bounded window, then k smallest of the ≤
salt·k survivors per group — the same skew-immune dequeue pattern as
the crawl scheduler's per-host budget; no group ever sorts its full
distinct set on one task.  Memory per group is O(k), merge is
union+re-min — the sketch is distributive, so map-side partials work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import graph as G
from . import text as X

H_SPACE = float(1 << 60)  # h60 values are uniform in [0, 2^60)


def kmv_distinct(df: DataFrame, key_cols: list, value_col: str,
                 k: int = 64, salts: int = 16) -> DataFrame:
    """Per-group KMV distinct estimate of ``value_col``.  Returns
    (group..., exact_distinct, kmv_estimate); groups with fewer than k
    distinct values report the exact count (the sketch is exact below
    k by construction)."""
    hashed = (df.select(*key_cols,
                        X.h60(F.col(value_col).cast("string")).alias("hv"))
              .distinct())
    salted = hashed.withColumn("__s", F.pmod(F.col("hv"), F.lit(salts)))
    w1 = Window.partitionBy(*key_cols, "__s").orderBy("hv")
    survivors = (salted.withColumn("__r", F.row_number().over(w1))
                 .filter(F.col("__r") <= k).drop("__r", "__s"))
    w2 = Window.partitionBy(*key_cols).orderBy("hv")
    topk = (survivors.withColumn("__r", F.row_number().over(w2))
            .filter(F.col("__r") <= k))
    agg = (topk.groupBy(*key_cols)
           .agg(F.count("*").alias("m"), F.max("hv").alias("kth")))
    # m < k means the group's full distinct set fit in the sketch.
    exact = hashed.groupBy(*key_cols).agg(F.count("*").alias("nd"))
    est = F.when(F.col("m") < k, F.col("nd").cast("double")).otherwise(
        F.round(F.lit(float(k - 1)) * (F.lit(H_SPACE) / F.col("kth")), 4))
    return (agg.join(exact, list(key_cols))
            .select(*key_cols, F.col("nd").cast("long")
                    .alias("exact_distinct"), est.alias("kmv_estimate")))


# -------------------------------------------------- hyperloglog
#: HLL geometry: p=10 index bits of the 60-bit h60 hash -> m=1024
#: registers, 50 remaining bits feed the leading-zero rank.
HLL_P = 10
HLL_M = 1 << HLL_P           # 1024 registers
_HLL_W_BITS = 60 - HLL_P     # 50 rank bits
#: alpha_m * m^2 * 2^61 for m=1024 (Flajolet et al. 2007 eq. 3), embedded
#: as ONE literal so both engines divide the same constant — the 2^61
#: factor un-scales the exact-integer register sum below.
_HLL_C = 1.742160653640441e+24
_HLL_LINEAR_CUTOFF = 2560.0  # 2.5 * m: below this, linear counting


def hll_distinct(df: DataFrame, key_cols: list, value_col: str) -> DataFrame:
    """Per-group HyperLogLog distinct estimate (Flajolet et al. 2007) —
    THE production distinct sketch at 10^10-key scale: fixed 1024
    registers per group, one linear (group, register)-keyed MAX
    aggregation with map-side combine, mergeable by register-wise max.
    Returns (group..., exact_distinct, hll_raw, hll_estimate);
    ``hll_raw`` is the uncorrected harmonic-mean estimate,
    ``hll_estimate`` applies the small-range linear-counting correction
    (E <= 2.5m with empty registers -> m*ln(m/V)).

    Cross-engine determinism (unlike production HLLs, whose register
    encodings are engine-private): register index = h60 % m, rank
    rho = 51 - bit_length(h60 / m) — exact integer arithmetic (the
    bit length is length(bin(w)), never floor(log2) whose misrounding
    at 2^k-1 boundaries would corrupt rho).  The harmonic sum
    Σ 2^-M_j is integerized as Σ 2^(61-M_j) in DECIMAL(38,0) — exact
    and order-free (max register rank is 51, so every term is an exact
    long and the 1024-term total fits 38 digits) — then un-scaled by
    the single literal division, so the only float ops are one divide
    (+ one ln on the correction branch) on each engine."""
    hashed = (df.select(*key_cols,
                        X.h60(F.col(value_col).cast("string")).alias("hv"))
              .distinct())
    # upper 50 bits via shift — NEVER hv/1024 in doubles (h60 exceeds
    # 2^53, the double quotient is inexact and corrupts the rank)
    w = F.shiftright(F.col("hv"), HLL_P)
    rho = F.when(w == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.bin(w)))
    regs = (hashed
            .select(*key_cols, F.pmod(F.col("hv"), F.lit(HLL_M)).alias("reg"),
                    rho.alias("rho"))
            .groupBy(*key_cols, "reg").agg(F.max("rho").alias("mj")))
    # Σ 2^(61-M_j) over PRESENT registers, exact; absent registers
    # (M_j = 0) contribute 2^61 each — added as a count-derived term.
    # python F.shiftleft only takes a literal shift; the SQL form
    # accepts the per-row register rank
    term = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - mj) "
                  "AS DECIMAL(38,0))")
    agg = (regs.groupBy(*key_cols)
           .agg(F.count("*").alias("npresent"),
                F.sum(term).alias("s_present")))
    # present registers always have rho >= 1, so the empty-register
    # count V is exactly the absent ones
    v_empty = (F.lit(HLL_M) - F.col("npresent")).cast("long")
    s_total = (F.col("s_present")
               + v_empty.cast("decimal(38,0)")
               * F.lit(2305843009213693952).cast("decimal(38,0)"))
    raw = F.lit(_HLL_C) / s_total.cast("double")
    vd = v_empty.cast("double")
    est = F.when((raw <= F.lit(_HLL_LINEAR_CUTOFF)) & (v_empty > 0),
                 F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / vd)
                 ).otherwise(raw)
    exact = hashed.groupBy(*key_cols).agg(F.count("*").alias("nd"))
    return (agg.join(exact, list(key_cols))
            .select(*key_cols,
                    F.col("nd").cast("long").alias("exact_distinct"),
                    F.round(raw, 4).alias("hll_raw"),
                    F.round(est, 4).alias("hll_estimate")))


# -------------------------------------------------- count-min sketch
def _cms_col(key_col: str, row_col) -> F.Column:
    """Row-i hash column: h60('cms-<i>-<key>'), the % width applied by
    the caller (kept separate so the string recipe is trivially
    mirrored in SQL)."""
    return X.h60(F.concat(F.lit("cms-"), row_col.cast("string"),
                          F.lit("-"), F.col(key_col).cast("string")))


def cms_counters(df: DataFrame, key_col: str, depth: int = 4,
                 width: int = 1024) -> DataFrame:
    """Count-Min sketch counter table (Cormode & Muthukrishnan 2005):
    ``depth`` independent hash rows of ``width`` counters; every
    occurrence of a key increments cell (i, hᵢ(key) mod width).
    Returns (row, col, c) — at most depth·width rows regardless of
    input size, built by ONE linear (row, col)-keyed aggregation with
    map-side combine.  The sketch is distributive (counters add), so
    partial sketches from any partitioning merge by summation — the
    property that makes CMS the at-scale substitute for an exact
    per-key count when only heavy hitters matter.

    Determinism: the row hashes are the shared cross-engine h60 over
    the string 'cms-<row>-<key>', so Spark and the SQL oracle build
    the IDENTICAL counter table."""
    rows = df.select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"))
    return (rows.select("row",
                        (_cms_col(key_col, F.col("row")) % width)
                        .alias("col"))
            .groupBy("row", "col")
            .agg(F.count("*").cast("long").alias("c")))


def cms_estimate(counters: DataFrame, keys: DataFrame, key_col: str,
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """Point-query the sketch: est(key) = min over rows of the key's
    counter — always ≥ the true count (one-sided error ≤ e·N/width with
    probability 1−e^−depth).  The probe joins depth rows per key
    against the broadcast-sized counter table."""
    probes = (keys.select(F.col(key_col))
              .distinct()
              .select(key_col,
                      F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
                      .alias("row")))
    probes = probes.withColumn(
        "col", _cms_col(key_col, F.col("row")) % width)
    # LEFT join + coalesce(0): the counter table is sparse (cells never
    # touched by the stream have no row), so a probed key absent from the
    # stream must read its empty cells as 0 and report cms_est = 0 — an
    # inner join would either drop the key or min() over only its
    # colliding cells, overestimating.
    return (probes.join(F.broadcast(counters), ["row", "col"], "left")
            .groupBy(key_col)
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0).cast("long")))
                 .alias("cms_est")))


# --------------------------------------------------------- HyperBall
def _hll_self_registers(base: DataFrame, node_col: str) -> DataFrame:
    """(node, reg, rho) for the singleton set {node} — HyperBall's
    round-0 counter state, one register row per node."""
    hv = X.h60(F.col(node_col).cast("string"))
    d = base.select(F.col(node_col), hv.alias("hv"))
    w = F.shiftright(F.col("hv"), HLL_P)
    rho = F.when(w == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.bin(w)))
    return d.select(node_col,
                    F.pmod(F.col("hv"), F.lit(HLL_M)).alias("reg"),
                    rho.alias("rho"))


def _hll_estimate_by_key(regs: DataFrame, key_col: str) -> DataFrame:
    """(key, est): the hll_distinct estimator (exact DECIMAL harmonic
    sum + linear-counting correction, 4-dp pinned) applied to an
    arbitrary (key, reg, rho) register table."""
    term = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - rho) "
                  "AS DECIMAL(38,0))")
    agg = (regs.groupBy(key_col)
           .agg(F.count("*").alias("npresent"), F.sum(term).alias("sp")))
    v_empty = (F.lit(HLL_M) - F.col("npresent")).cast("long")
    s_total = (F.col("sp")
               + v_empty.cast("decimal(38,0)")
               * F.lit(2305843009213693952).cast("decimal(38,0)"))
    raw = F.lit(_HLL_C) / s_total.cast("double")
    vd = v_empty.cast("double")
    est = F.when((raw <= F.lit(_HLL_LINEAR_CUTOFF)) & (v_empty > 0),
                 F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / vd)
                 ).otherwise(raw)
    return agg.select(key_col, F.round(est, 4).alias("est"))


def _hyperball_round_ests(nodes, edges, rounds, node_col="node",
                          src="src", dst="dst"):
    """Shared HyperBall iteration: returns (base node frame, [per-round
    per-node estimate frames e0..eR]) — consumed by ``hyperball``
    (per-node harmonic centrality) and ``anf_effective_diameter``
    (round totals / neighborhood function)."""
    e = G.undirected_edges(edges, src, dst, "dst")
    base = (nodes.select(node_col).distinct() if nodes is not None
            else G.edge_nodes(e, node_col)).localCheckpoint(eager=False)
    regs = _hll_self_registers(base, node_col).localCheckpoint(eager=False)
    ests = [_hll_estimate_by_key(regs, node_col)
            .withColumnRenamed("est", "e0")]
    for t in range(1, rounds + 1):
        merged = (e.join(regs.withColumnRenamed(node_col, "dst"), "dst")
                  .select(F.col("src").alias(node_col), "reg", "rho")
                  .union(regs)
                  .groupBy(node_col, "reg")
                  .agg(F.max("rho").alias("rho")))
        regs = merged.localCheckpoint(eager=False)
        ests.append(_hll_estimate_by_key(regs, node_col)
                    .withColumnRenamed("est", f"e{t}"))
    return base, ests


def hyperball(nodes: DataFrame, edges: DataFrame, rounds: int = 3,
              node_col: str = "node", src: str = "src",
              dst: str = "dst") -> DataFrame:
    """HyperBall (Boldi, Rosa & Vigna, "HyperANF/HyperBall: in-core
    approximation of the neighbourhood function", WWW 2011 / 2013) —
    THE algorithm behind Common Crawl's official harmonic-centrality
    host ranking: give every node an HLL counter of its ball
    B(v,t) = {u : d(v,u) ≤ t}; each round every counter absorbs its
    neighbors' counters by register-wise MAX (HLL union is exact, so
    t rounds yield exactly the t-hop ball's sketch); harmonic
    centrality accumulates Σ_t (|B(v,t)|−|B(v,t−1)|)/t from the
    estimated ball sizes.

    This is the 10^9-node SCALE PATH that makes ``harmonic_exact``'s
    O(n·|B|) pair materialization unnecessary: state is a bounded
    O(n·m) register table regardless of ball size, and each round is
    ONE dst-keyed join + ONE (node,reg)-keyed MAX agg (map-side
    combined) — the exact shape of the engine's other Pregel loops.

    Determinism: registers inherit hll_distinct's exact integer
    arithmetic (shared h60, bit-length rho, DECIMAL harmonic sum), so
    Spark and the SQL oracle hold BIT-IDENTICAL counter tables every
    round; per-round estimates are 4-dp pinned and the final score
    sums the (clamped-nonnegative) deltas in fixed round order.

    Returns (node, ball_est, harmonic_est): estimated ``rounds``-hop
    ball size and the approximate harmonic centrality, 4 dp."""
    base, ests = _hyperball_round_ests(nodes, edges, rounds,
                                       node_col, src, dst)
    out = base
    for frame in ests:
        out = out.join(frame, node_col)
    harm = F.lit(0.0)
    for t in range(1, rounds + 1):
        harm = harm + F.greatest(F.lit(0.0),
                                 F.col(f"e{t}") - F.col(f"e{t-1}")) / t
    return out.select(F.col(node_col).alias("node"),
                      F.col(f"e{rounds}").alias("ball_est"),
                      F.round(harm, 4).alias("harmonic_est"))



def anf_effective_diameter(nodes: DataFrame, edges: DataFrame,
                           rounds: int = 3, q: float = 0.9,
                           node_col: str = "node", src: str = "src",
                           dst: str = "dst") -> DataFrame:
    """ANF — approximate neighborhood function + effective diameter
    (Palmer, Gibbons & Faloutsos KDD 2002; computed here with
    HyperBall counters, Boldi-Rosa-Vigna's refinement of the same
    idea): N(t) = Σ_v |B(v,t)| is the number of reachable pairs within
    t hops; the EFFECTIVE diameter is the (interpolated) smallest t at
    which N(t) ≥ q·N(R) — the "90 % of pairs connect within t hops"
    figure every web-graph paper quotes (the web's famous ~19, Broder
    et al. 2000).

    Round totals sum per-node MICRO-integerized estimates
    (round(est·1e6) as long) so each N(t) is an exact order-free
    integer sum; the interpolation t−1 + (q·N(R)−N(t−1))/(N(t)−N(t−1))
    is a fixed CASE chain over the R round boundaries, identical in
    the SQL oracle.  State and shuffle shape inherit hyperball's
    bounded O(n·m) register contract.  Returns one row
    (n_0..n_R as 4-dp ball-pair totals, eff_diameter 4 dp)."""
    base, ests = _hyperball_round_ests(nodes, edges, rounds,
                                       node_col, src, dst)
    totals = None
    for t, frame in enumerate(ests):
        s = (frame.select(F.round(F.col(f"e{t}") * 1e6).cast("long")
                          .alias("m"))
             .agg(F.sum("m").alias(f"m{t}")))
        totals = s if totals is None else totals.crossJoin(F.broadcast(s))
    target = F.lit(q) * F.col(f"m{rounds}").cast("double")
    eff = F.when(F.col("m0").cast("double") >= target, F.lit(0.0))
    for t in range(1, rounds + 1):
        prev = F.col(f"m{t-1}").cast("double")
        cur = F.col(f"m{t}").cast("double")
        branch = F.lit(float(t - 1)) + (target - prev) / (cur - prev)
        if t < rounds:
            eff = eff.when(cur >= target, branch)
        else:
            eff = eff.otherwise(branch)
    return totals.select(
        *[F.round(F.col(f"m{t}") / 1e6, 4).alias(f"n_{t}")
          for t in range(rounds + 1)],
        F.round(eff, 4).alias("eff_diameter"))


def hll_audience_overlap(df: DataFrame, group_col: str, value_col: str,
                         group_a: str, group_b: str) -> DataFrame:
    """HLL sketch ALGEBRA (Flajolet et al. 2007 §4 — mergeability is
    the point of the sketch): audience overlap of two groups from
    register-wise operations only.  The union sketch is the
    register-wise MAX of the two groups' registers — exactly what a
    10^10-key pipeline ships between days/shards instead of raw keys —
    and the intersection estimate falls out of inclusion–exclusion:
    |A∩B| ≈ Ê(A) + Ê(B) − Ê(A∪B).  The exact distinct/intersection
    counts ride along as the audit columns (at production scale they
    are unaffordable; here they gate the estimator).

    Same determinism contract as ``hll_distinct`` (shared register
    recipe: h60, % m index, bit-length rank, DECIMAL-integerized
    harmonic sum); the inclusion–exclusion difference of three 4-dp
    estimates can go slightly negative for tiny overlaps — reported
    as-is, that IS the estimator.

    Returns one row: (n_a_exact, n_b_exact, inter_exact, est_a,
    est_b, est_union, est_inter)."""
    two = df.where(F.col(group_col).isin(group_a, group_b))
    hashed = (two.select(F.col(group_col).alias("g"),
                         F.col(value_col).alias("v"),
                         X.h60(F.col(value_col).cast("string"))
                         .alias("hv"))
              .distinct()
              .localCheckpoint(eager=False))
    w = F.shiftright(F.col("hv"), HLL_P)
    rho = F.when(w == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.bin(w)))
    regs = (hashed
            .select("g", F.pmod(F.col("hv"), F.lit(HLL_M)).alias("reg"),
                    rho.alias("rho"))
            .groupBy("g", "reg").agg(F.max("rho").alias("mj"))
            .localCheckpoint(eager=False))
    sides = (regs.select(F.col("g").alias("side"), "reg", "mj")
             .unionByName(
                 regs.groupBy("reg").agg(F.max("mj").alias("mj"))
                 .select(F.lit("__union").alias("side"), "reg", "mj")))
    term = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - mj) "
                  "AS DECIMAL(38,0))")
    agg = (sides.groupBy("side")
           .agg(F.count("*").alias("npresent"),
                F.sum(term).alias("sp")))
    v_empty = (F.lit(HLL_M) - F.col("npresent")).cast("long")
    s_total = (F.col("sp") + v_empty.cast("decimal(38,0)")
               * F.lit(2305843009213693952).cast("decimal(38,0)"))
    raw = F.lit(_HLL_C) / s_total.cast("double")
    est = F.round(
        F.when((raw <= F.lit(_HLL_LINEAR_CUTOFF)) & (v_empty > 0),
               F.lit(float(HLL_M))
               * F.log(F.lit(float(HLL_M)) / v_empty.cast("double")))
        .otherwise(raw), 4)
    ests = agg.select("side", est.alias("e")).groupBy().agg(
        F.max(F.when(F.col("side") == group_a, F.col("e"))).alias("ea"),
        F.max(F.when(F.col("side") == group_b, F.col("e"))).alias("eb"),
        F.max(F.when(F.col("side") == "__union", F.col("e")))
        .alias("eu"))
    av = hashed.where(F.col("g") == group_a).select("v")
    bv = hashed.where(F.col("g") == group_b).select("v")
    exact = (av.agg(F.count("*").cast("long").alias("n_a_exact"))
             .crossJoin(bv.agg(F.count("*").cast("long")
                               .alias("n_b_exact")))
             .crossJoin(av.join(bv, "v", "left_semi")
                        .agg(F.count("*").cast("long")
                             .alias("inter_exact"))))
    return (exact.crossJoin(F.broadcast(ests))
            .select("n_a_exact", "n_b_exact", "inter_exact",
                    F.col("ea").alias("est_a"),
                    F.col("eb").alias("est_b"),
                    F.col("eu").alias("est_union"),
                    F.round(F.col("ea") + F.col("eb") - F.col("eu"), 4)
                    .alias("est_inter")))
