"""Link-graph ranking for frontier prioritization.

A Common-Crawl-scale frontier should not dequeue in FIFO/seed order:
authority-ranked hosts first is the standard production policy (cf.
Common Crawl's harmonic-centrality-ranked seed lists).  The crawl
already materializes the link graph — every entries row carries
``(url, links)`` — so rank is derivable from the engine's own tables
with no new source.

- ``pagerank(edges)``     — generic iterative PageRank over a (src,
  dst) edge frame.  Dangling mass is dropped (nodes with no
  out-edges contribute nothing; they still receive teleport + inbound
  mass) — the common simplified variant, mirrored exactly by the SQL
  oracle (`graph_pagerank` in queries.py).  ``trustrank``, ``hits``,
  ``opic`` and ``salsa`` are the other frontier-priority scores.
- ``host_edges(entries)`` — the host-level link graph of extracted
  pages, feeding ``host_pagerank``, ``host_opic`` and ``host_harmonic``.
- ``with_host_rank_priority(frontier, ranks)`` — joins host rank onto
  frontier rows as the priority column (an OPT-IN priority source; the
  default wave priority is untouched so reference-ordering parity is
  preserved).

Edge contract: every operator here takes any frame with two endpoint
columns and ranks its DISTINCT (src, dst) pairs — duplicates collapse
(one link counts once).  The edge list comes from
``functions/graph.py``'s ``directed_edges``, which pins it once,
hash-partitioned on the first join key and lineage-truncated; the
Pregel loop invariant, as in every graph operator of the engine.

Scale shape (10^10 URLs): host-level, so the graph is ~10^7 nodes, not
10^10 — ranks and out-degrees are broadcast-sized there; iteration
joins are all KEYED (src/dst), so AQE picks broadcast vs shuffle per
actual size and a page-level edge list degrades to shuffle joins, not
OOM.  The one explicit broadcast (with_host_rank_priority) is guarded
by a limit-bounded node-count probe.  Each iteration is one src-keyed
join + one dst-keyed linear aggregation with map-side combine.
``localCheckpoint`` truncates lineage per round.  Determinism: ranks
are rounded to 8 dp every round, so Spark and the oracle walk
identical trajectories.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import graph as G
from ..functions.udfs import host_col


def _teleport(damping: float) -> float:
    """The (1−d) residual as the double a SQL oracle's decimal literal
    parses to: ``1.0 - 0.85`` in Python float arithmetic is
    0.15000000000000002, one ulp off the double that DuckDB's literal
    ``0.15`` denotes — close enough to hide under 8-dp rounding until a
    rank lands within ~1e-16 of a rounding boundary (ADVICE r4).
    round(·, 12) snaps to the nearest 12-dp decimal's double, which for
    every plausible damping literal IS the oracle's constant."""
    return round(1.0 - damping, 12)


def _propagate(e: DataFrame, base: DataFrame, init: Column,
               teleport: Column, iters: int, damping: float,
               decimals: int) -> DataFrame:
    """The PageRank rounds shared by ``pagerank`` and ``trustrank`` over
    the pinned edge list ``e``: rank_0 = init; rank_k(v) = teleport +
    d·Σ rank(u)/outdeg(u) over in-edges u→v, rounded to ``decimals``
    every round.  ``base`` holds one row per node with the columns that
    ``init`` and ``teleport`` read."""
    # out-degrees are read every round: pin them like the edge list
    outdeg = (e.groupBy("src").agg(F.count("*").cast("double")
                                   .alias("outdeg"))
              .localCheckpoint(eager=False))
    ranks = base.select("node", F.round(init, decimals).alias("rank"))
    for _ in range(iters):
        contribs = (e.join(outdeg, "src")
                    .join(ranks.withColumnRenamed("node", "src"), "src")
                    .groupBy("dst")
                    .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("c")))
        ranks = (base.join(contribs.withColumnRenamed("dst", "node"),
                           "node", "left")
                 .select("node", F.round(
                     teleport
                     + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0)),
                     decimals).alias("rank"))
                 .localCheckpoint(eager=False))
    return ranks


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85,
             src: str = "src", dst: str = "dst",
             decimals: int = 8) -> DataFrame:
    """Iterative PageRank over (src, dst) edges → (node, rank).
    Node set = src ∪ dst; init 1/n; per round:
    rank(v) = (1-d)/n + d·Σ rank(u)/outdeg(u) over in-edges u→v."""
    e = G.directed_edges(edges, src, dst, "src")
    # the node set and its count are read every round (rank rebuild +
    # teleport): pinned, so no round re-runs their shuffles
    nodes = G.edge_nodes(e).localCheckpoint(eager=False)
    nn = (nodes.agg(F.count("*").cast("double").alias("n"))
          .localCheckpoint(eager=False))
    return _propagate(e, nodes.crossJoin(F.broadcast(nn)),
                      F.lit(1.0) / F.col("n"),
                      F.lit(_teleport(damping)) / F.col("n"),
                      iters, damping, decimals)


def trustrank(edges: DataFrame, seeds: DataFrame, iters: int = 3,
              damping: float = 0.85, src: str = "src", dst: str = "dst",
              decimals: int = 8) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004) — the
    spam-demotion companion to PageRank a production frontier needs:
    identical propagation, but the teleport vector is concentrated on a
    hand-vetted TRUSTED seed set instead of uniform, so trust flows
    outward from good pages and link-farm clusters that manufacture
    rank among themselves receive (almost) none.  Pages with high
    PageRank but low TrustRank are the paper's spam-mass signal.

    rank_0(v) = s(v);  rank_k(v) = (1−d)·s(v) + d·Σ rank(u)/outdeg(u),
    where s(v) = 1/|S| on seeds, 0 elsewhere (the paper's normalized
    trust vector as both init and teleport).  A node unreachable from
    every seed scores exactly 0.0 — the demotion property.

    Same rounds as ``pagerank`` (one shared loop); the seed vector is a
    broadcast-sized join side (|S| ≪ n by construction)."""
    e = G.directed_edges(edges, src, dst, "src")
    nodes = G.edge_nodes(e).localCheckpoint(eager=False)
    sd = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    ns = sd.agg(F.count("*").cast("double").alias("ns"))
    base = (nodes.join(F.broadcast(sd.withColumn("is_seed", F.lit(True))),
                       "node", "left")
            .crossJoin(F.broadcast(ns))
            .select("node",
                    F.when(F.col("is_seed"), F.lit(1.0) / F.col("ns"))
                    .otherwise(F.lit(0.0)).alias("s"))
            .localCheckpoint(eager=False))
    return _propagate(e, base, F.col("s"),
                      F.lit(_teleport(damping)) * F.col("s"),
                      iters, damping, decimals)


def hits(edges: DataFrame, iters: int = 2,
         src: str = "src", dst: str = "dst") -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over (src, dst) edges →
    (node, auth, hub) — the other classic crawl-frontier
    authority score beside PageRank: a good HUB page is where a crawler
    harvests outlinks; a good AUTHORITY is what it should fetch first.

    Per round: auth(v) = Σ hub(u) over in-edges, L1-normalized; then
    hub(u) = Σ auth(v) over out-edges, L1-normalized (L1 instead of the
    classic L2 — same fixed-point direction, no sqrt, and it makes the
    trajectory exactly representable, below).  Each half-round is one
    keyed join + one linear dst/src-keyed aggregation with map-side
    combine plus a scalar total; scores stay mergeable integers.

    Determinism (stronger than pagerank's 8-dp float pin): scores are
    carried as exact 1e8-scaled LONGS.  Each normalization is
    round(1e8 · (part/total)) on two exact integers — one double divide,
    one multiply, one half-up round per node per round — and every SUM
    in the algorithm is an integer sum, order-free under any
    partitioning.  The SQL oracle replays the identical arithmetic."""
    e = G.directed_edges(edges, src, dst, "dst")
    nodes = G.edge_nodes(e).localCheckpoint(eager=False)
    hub8 = nodes.select("node", F.lit(100_000_000).cast("long").alias("s8"))
    auth8 = None

    def _norm(raw: DataFrame) -> DataFrame:
        """(node, r) integer partials → L1-normalized 1e8-scaled longs
        over the full node set (contribution-less nodes score 0)."""
        # two consumers (the scalar total and the join) — pin the
        # partials so the join+agg upstream runs once, not twice
        raw = raw.localCheckpoint(eager=False)
        tot = raw.agg(F.sum("r").cast("double").alias("t"))
        return (nodes.crossJoin(F.broadcast(tot))
                .join(raw, "node", "left")
                .select("node", F.when(
                    F.col("r").isNull(), F.lit(0).cast("long")).otherwise(
                    F.round(F.lit(1e8) * (F.col("r").cast("double")
                                          / F.col("t"))).cast("long"))
                    .alias("s8"))
                .localCheckpoint(eager=False))

    for _ in range(iters):
        a_raw = (e.join(hub8.withColumnRenamed("node", "src"), "src")
                 .groupBy("dst").agg(F.sum("s8").alias("r"))
                 .withColumnRenamed("dst", "node"))
        auth8 = _norm(a_raw)
        h_raw = (e.join(auth8.withColumnRenamed("node", "dst"), "dst")
                 .groupBy("src").agg(F.sum("s8").alias("r"))
                 .withColumnRenamed("src", "node"))
        hub8 = _norm(h_raw)
    return (auth8.withColumnRenamed("s8", "a8")
            .join(hub8, "node")
            .select("node",
                    (F.col("a8").cast("double") / F.lit(1e8)).alias("auth"),
                    (F.col("s8").cast("double") / F.lit(1e8)).alias("hub")))


def opic(edges: DataFrame, iters: int = 3,
         src: str = "src", dst: str = "dst") -> DataFrame:
    """OPIC — Adaptive On-line Page Importance Computation (Abiteboul,
    Preda & Cobéna, WWW 2003) over (src, dst) edges →
    (node, history8, cash8, importance).  The third classic frontier-
    priority score beside PageRank and HITS, and the one actually
    DESIGNED for crawling: importance accrues ONLINE as pages are
    fetched (cash is distributed to outlinks at fetch time), so a
    crawler can rank its frontier without waiting for an offline
    link-graph job to converge.

    Synchronous batch variant: every node starts with equal cash
    (1e8-scaled); each round EVERY node distributes its cash equally
    over its out-edges and banks the distributed amount in its history;
    dangling nodes (no out-edges) route their cash through the virtual
    page, which redistributes it uniformly over all nodes — the paper's
    virtual-page treatment restricted to the dangling case (non-dangling
    nodes keep their full cash on real outlinks).  Importance estimate
    after k rounds = (history + cash) / Σ(history + cash) — the paper's
    X = (H + C)/(G + 1) with the same denominator for every node.

    Each round is one src-keyed join + one dst-keyed linear aggregation
    with map-side combine, plus one scalar (dangling total) broadcast.
    No window, no iteration-growing lineage.

    Determinism (HITS-grade, stronger than pagerank's float rounds):
    cash and history are exact LONGS throughout.  The per-edge share is
    integer floor division ``cash div outdeg`` (Spark `div` ≡ DuckDB
    `//` on non-negative longs), the dangling share is
    ``dangling_total div n``, and every sum is an integer sum —
    order-free under any partitioning, replayed exactly by the SQL
    oracle (`graph_opic` in queries.py).  Division remainders are
    retired from circulation (documented estimator bias ≤ outdeg·1
    units of 1e-8 per node per round — two orders below the 8-dp
    importance round)."""
    e = G.directed_edges(edges, src, dst, "src")
    nodes = G.edge_nodes(e).localCheckpoint(eager=False)
    nn = (nodes.agg(F.count("*").cast("long").alias("n"))
          .localCheckpoint(eager=False))
    outdeg = (e.groupBy("src").agg(F.count("*").cast("long")
                                   .alias("outdeg"))
              .localCheckpoint(eager=False))
    cash = nodes.select("node",
                        F.lit(100_000_000).cast("long").alias("c8"))
    hist = nodes.select("node", F.lit(0).cast("long").alias("h8"))
    for _ in range(iters):
        # history banks this round's distributed cash FIRST (every node
        # distributes: real outlinks or the virtual page) — h and c are
        # both consumed twice below, pin them
        hist = (hist.join(cash, "node")
                .select("node", (F.col("h8") + F.col("c8")).alias("h8"))
                .localCheckpoint(eager=False))
        contrib = (e.join(outdeg, "src")
                   .join(cash.withColumnRenamed("node", "src"), "src")
                   .groupBy("dst")
                   .agg(F.sum(F.expr("c8 div outdeg")).alias("r"))
                   .withColumnRenamed("dst", "node"))
        dang = (cash.join(outdeg.withColumnRenamed("src", "node"),
                          "node", "left_anti")
                .agg(F.coalesce(F.sum("c8"), F.lit(0)).cast("long")
                     .alias("dt")))
        cash = (nodes.crossJoin(F.broadcast(nn))
                .crossJoin(F.broadcast(dang))
                .join(contrib, "node", "left")
                .select("node",
                        (F.coalesce(F.col("r"), F.lit(0))
                         + F.expr("dt div n")).cast("long").alias("c8"))
                .localCheckpoint(eager=False))
    tot = (hist.join(cash, "node")
           .agg(F.sum(F.col("h8") + F.col("c8")).cast("double")
                .alias("tot")))
    return (hist.join(cash, "node")
            .crossJoin(F.broadcast(tot))
            .select("node", F.col("h8").alias("history8"),
                    F.col("c8").alias("cash8"),
                    F.round((F.col("h8") + F.col("c8")).cast("double")
                            / F.col("tot"), 8).alias("importance")))


def host_edges(entries: DataFrame) -> DataFrame:
    """The host-level link graph of extracted pages: (src=host(url),
    dst=host(link)) over the entries table's links arrays, with NULL
    hosts and self-loops dropped."""
    return (entries
            .select(host_col("url").alias("src"),
                    F.explode("links").alias("link"))
            .select("src", host_col("link").alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()
                    & (F.col("src") != F.col("dst"))))


def host_opic(entries: DataFrame, iters: int = 3) -> DataFrame:
    """Host-level OPIC over ``host_edges``; returns (node=host,
    rank=importance) so it plugs into ``with_host_rank_priority``
    unchanged (the opt-in frontier priority contract)."""
    return (opic(host_edges(entries), iters=iters)
            .select("node", F.col("importance").alias("rank")))


def host_pagerank(entries: DataFrame, iters: int = 3,
                  damping: float = 0.85) -> DataFrame:
    """Host-level PageRank over ``host_edges``.  Returns (node=host,
    rank)."""
    return pagerank(host_edges(entries), iters=iters, damping=damping)


def host_harmonic(entries: DataFrame, rounds: int = 3) -> DataFrame:
    """Host-level harmonic centrality via HyperBall (Boldi & Vigna) —
    the UNDIRECTED variant of the metric behind Common Crawl's
    seed-list ranking (``sketches.hyperball`` symmetrizes the edge
    list, so distances are over the undirected host graph; Common
    Crawl's published ranking uses directed distances — ADVICE r4),
    over ``host_edges``; scores from ``sketches.hyperball`` (bounded
    O(hosts·1024) register state, one keyed join + keyed MAX agg per
    round).  Returns (node=host, rank) — the
    ``with_host_rank_priority`` contract, so harmonic-ranked frontier
    prioritization is a drop-in swap for the PageRank/OPIC policies."""
    from ..functions.sketches import hyperball
    return (hyperball(None, host_edges(entries), rounds=rounds)
            .select("node", F.col("harmonic_est").alias("rank")))


#: Above this node count the rank frame stops being broadcast and the
#: priority join becomes a plain keyed (shuffle) join.  Host-level
#: graphs (~10^7 nodes ≈ a few hundred MB of (host, rank) rows) sit
#: under it; a page-level edge list fed by mistake would otherwise pin
#: a frontier-sized frame on every executor.
BROADCAST_RANK_MAX_NODES = 20_000_000


def with_host_rank_priority(frontier: DataFrame, host_ranks: DataFrame,
                            scale: int = 1_000_000,
                            max_broadcast_nodes: int =
                            BROADCAST_RANK_MAX_NODES) -> DataFrame:
    """Replace frontier priority with the host's link-authority rank
    (scaled to an integer; unknown hosts rank 0).  Opt-in — callers
    that need reference-ordering parity keep the default priority.

    Precondition: ``host_ranks`` is a HOST-level rank table (broadcast-
    sized).  Guarded, not assumed: a limit-bounded probe (never a full
    count of a huge frame) checks the node count and switches to a
    shuffle hash join when the table exceeds ``max_broadcast_nodes`` —
    so a page-level rank table degrades to a keyed join instead of
    OOMing every executor."""
    ranked = host_ranks.select(F.col("node").alias("__host"),
                               (F.col("rank") * scale).cast("long")
                               .alias("__hr"))
    small = (host_ranks.select(F.lit(1))
             .limit(max_broadcast_nodes + 1).count()) <= max_broadcast_nodes
    right = F.broadcast(ranked) if small else ranked
    return (frontier
            .withColumn("__host", host_col("url"))
            .join(right, "__host", "left")
            .withColumn("priority",
                        F.coalesce(F.col("__hr"), F.lit(0)).cast("long"))
            .drop("__host", "__hr"))


def salsa(edges: DataFrame, iters: int = 2,
          src: str = "src", dst: str = "dst") -> DataFrame:
    """SALSA — Stochastic Approach for Link-Structure Analysis (Lempel
    & Moran, WWW 2000; the ranking behind Twitter's Who-To-Follow):
    HITS's mutual reinforcement replaced by a RANDOM WALK on the
    bipartite hub/authority graph — each hub splits its weight evenly
    over its outlinks, each authority splits back over its inlinks.
    The fix this buys (pinned by the unit): HITS's eigenvector
    concentrates all authority on the tightest densely-linked clique
    (the TKC effect — exactly a link farm), while SALSA's stationary
    weights are degree-proportional, so a mutual-admiration clique
    earns no more than its in-degrees justify.

    Exact integer contract (the OPIC/HITS precedent): weights are
    1e8-scaled longs; each split is integer floor division
    (Spark ``div`` ≡ DuckDB ``//``), each gather an integer SUM —
    order-free under any partitioning, bit-identical cross-engine
    (floor remainders dissipate, documented — unlike OPIC's virtual
    page there is no respray, matching the walk's per-step
    normalization).  Per half-round one keyed join + one keyed agg.

    Returns (node, auth8, hub8) — zeros for pure-hub / pure-authority
    nodes."""
    e = G.directed_edges(edges, src, dst, "src")
    outd = (e.groupBy("src").agg(F.count("*").alias("od"))
            .localCheckpoint(eager=False))
    ind = (e.groupBy("dst").agg(F.count("*").alias("id"))
           .localCheckpoint(eager=False))
    hub = outd.select("src", F.lit(100_000_000).cast("long").alias("h8"))
    auth = None
    for _ in range(iters):
        auth = (e.join(hub, "src").join(outd, "src")
                .groupBy("dst")
                .agg(F.sum(F.expr("h8 div od")).cast("long").alias("a8"))
                .localCheckpoint(eager=False))
        hub = (e.join(auth, "dst").join(ind, "dst")
               .groupBy("src")
               .agg(F.sum(F.expr("a8 div id")).cast("long").alias("h8"))
               .localCheckpoint(eager=False))
    return (G.edge_nodes(e)
            .join(auth.withColumnRenamed("dst", "node"), "node", "left")
            .join(hub.withColumnRenamed("src", "node"), "node", "left")
            .select("node",
                    F.coalesce(F.col("a8"), F.lit(0)).cast("long")
                    .alias("auth8"),
                    F.coalesce(F.col("h8"), F.lit(0)).cast("long")
                    .alias("hub8")))


def rank_agreement_tau(ra: DataFrame, rb: DataFrame,
                       node_col: str = "node",
                       rank_col: str = "rank") -> DataFrame:
    """Kendall τ-b rank agreement (Kendall, Biometrika 1938; the tie-
    corrected τ-b form) between two frontier priority policies — the
    audit a crawl operator runs before swapping ranking functions
    (PageRank → OPIC → harmonic): how much does the fetch ORDER
    actually change?  τ-b = (C − D) / √((n₀−t_a)(n₀−t_b)) over all
    node pairs, with C/D the concordant/discordant counts and
    t_a/t_b the within-policy tie-pair counts, n₀ = n(n−1)/2.

    Scale shape: inner-join the two score tables on node, then ONE
    self pair-join u < v — quadratic in the NODE count, the policy
    table, not the corpus (the same sublinearity class as the
    Mann-Kendall hourly pairs; for 10^8-host tables, sample nodes
    first — the estimate converges at √n).  Exactness: scores are the
    engines' pinned 8-dp ranks; C, D and the tie counts are exact
    longs from sign comparisons; τ-b is one float chain rounded 4 dp.

    Returns one row: (n_nodes, concordant, discordant, tau_b)."""
    a = ra.select(F.col(node_col).alias("n"),
                  F.col(rank_col).alias("sa"))
    b = rb.select(F.col(node_col).alias("n"),
                  F.col(rank_col).alias("sb"))
    j = a.join(b, "n").localCheckpoint(eager=False)
    l = j.select(F.col("n").alias("u"), F.col("sa").alias("ua"),
                 F.col("sb").alias("ub"))
    r = j.select(F.col("n").alias("v"), F.col("sa").alias("va"),
                 F.col("sb").alias("vb"))
    pairs = (l.crossJoin(r).where(F.col("u") < F.col("v"))
             .select(
                 F.signum(F.col("ua") - F.col("va")).alias("da"),
                 F.signum(F.col("ub") - F.col("vb")).alias("db")))
    agg = pairs.agg(
        F.count("*").cast("long").alias("n0"),
        F.sum(F.when((F.col("da") * F.col("db")) > 0, 1).otherwise(0))
        .cast("long").alias("c"),
        F.sum(F.when((F.col("da") * F.col("db")) < 0, 1).otherwise(0))
        .cast("long").alias("d"),
        F.sum(F.when(F.col("da") == 0, 1).otherwise(0))
        .cast("long").alias("ta"),
        F.sum(F.when(F.col("db") == 0, 1).otherwise(0))
        .cast("long").alias("tb"))
    nn = j.agg(F.count("*").cast("long").alias("n_nodes"))
    tau = F.round(
        (F.col("c") - F.col("d"))
        / F.sqrt((F.col("n0") - F.col("ta")).cast("double")
                 * (F.col("n0") - F.col("tb")).cast("double")), 4)
    return (agg.crossJoin(F.broadcast(nn))
            .select("n_nodes", F.col("c").alias("concordant"),
                    F.col("d").alias("discordant"),
                    tau.alias("tau_b")))
