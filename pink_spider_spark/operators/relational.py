"""Reusable relational operators mirroring the reference's query surface.

Each function is one operator from SURVEY.md §2, expressed as a composable
DataFrame transformation.  Citations point at the reference behaviour being
reproduced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


WINDOW_PAGINATE_MAX = 50_000


def paginate(df: DataFrame, order_by: list, page: int, per_page: int = 25,
             window_threshold: int | None = WINDOW_PAGINATE_MAX,
             total: int | None = None) -> DataFrame:
    """Stable offset pagination: ORDER BY ... LIMIT per_page OFFSET page*per_page
    (reference: src/model/mod.rs:118-161, default per_page=25 src/main.rs:35).
    ``page_index`` is exposed for the caller's envelope.

    Auto-routed between two physical forms:

    - at or below ``window_threshold`` rows (REST pages over dimension
      tables): one global row_number window — simple, exact, fine for
      dims but a single-partition sort at fact-table scale.
    - above the threshold: NO global window anywhere — the page is
      fetched as ``orderBy().offset(lo).limit(per_page)``, which compiles
      to a single ``TakeOrderedAndProject(limit=lo+pp, offset=lo)`` doing
      a partial top-k per input partition; ``page_index`` is then
      attached to the page-sized (≤ per_page rows) result via a
      single-partition sort + monotonically_increasing_id, not a window.
      (For deep scrolls where lo itself is large, page by KEYSET instead:
      cursor predicate pushed into the scan — ``events_page_after``.)

    ``total``: pass a known row count to skip the routing count job (the
    REST envelope computes it anyway); ``window_threshold=None`` forces
    the window form, ``0`` forces the distributed form.
    """
    lo = page * per_page
    if window_threshold is not None:
        n = total if total is not None else df.count()
        use_window = n <= int(window_threshold)
    else:
        use_window = True
    if use_window:
        w = Window.orderBy(*order_by)
        return (
            df.withColumn("page_index", F.row_number().over(w))
            .filter((F.col("page_index") > lo)
                    & (F.col("page_index") <= lo + per_page))
        )
    return (
        df.orderBy(*order_by).offset(lo).limit(per_page)
        .repartition(1)
        .sortWithinPartitions(*order_by)
        .withColumn("page_index",
                    (F.monotonically_increasing_id() + lo + 1).cast("int"))
    )


def topk_per_key(df: DataFrame, key_cols: list, order_by: list, k: int) -> DataFrame:
    """Per-key top-k (reference approximates with global LIMIT n*k:
    src/model/playlist.rs:272-291 k=20, src/model/playlist_track.rs:41-70
    k=200; the window is the faithful per-key intent, SURVEY.md §2.3 J6/J7)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (df.withColumn("rank_in_key", F.row_number().over(w))
            .filter(F.col("rank_in_key") <= k))


def latest_per_key(df: DataFrame, key_cols: list, order_by: list) -> DataFrame:
    """Take-first-by-recency (reference: src/model/enclosure.rs:12-25
    ORDER BY published_at DESC take-first)."""
    return topk_per_key(df, key_cols, order_by, 1).drop("rank_in_key")


def find_or_create(existing: DataFrame, incoming: DataFrame, keys: list) -> DataFrame:
    """find_or_create merge: keep existing rows, append incoming rows whose
    key is absent (reference: src/model/enclosure.rs:26-31 + the unique
    indexes on (provider, identifier) / url).  Incoming is key-deduped
    first (first arbitrary-but-deterministic row per key via sort)."""
    deduped = incoming.dropDuplicates(keys)
    new_rows = deduped.join(existing.select(*keys), on=keys, how="left_anti")
    return existing.unionByName(new_rows)


def contains_filter(df: DataFrame, col: str, query: str) -> Column | DataFrame:
    """Case-insensitive substring search — the ?query= ILIKE '%q%' filter
    (reference: src/main.rs:45-51, src/model/mod.rs:55-58)."""
    return df.filter(F.lower(F.col(col)).contains(query.lower()))


def asof_join(left: DataFrame, right: DataFrame, key_cols: list,
              left_time: str = "ts", right_time: str = "ts",
              payload_cols: list | None = None,
              suffix: str = "_asof") -> DataFrame:
    """Left as-of join: for every left row, the most recent right row
    with ``right_time <= left_time`` in the same key group (the standard
    time-series enrichment operator; Spark has no native ASOF JOIN).

    Composed scale-first as ONE union + per-key ordered window with
    ``last(payload, ignorenulls=True)``: a single shuffle keyed on the
    join key, linear in |left|+|right| — never a range-explosion or
    per-row backward scan.  Ties (right_time == left_time) match, like
    DuckDB/kdb asof semantics: right rows sort before left rows at equal
    timestamps.  Unmatched left rows keep NULL payload columns.
    """
    payload_cols = payload_cols or [
        c for c in right.columns
        if c not in set(key_cols) | {right_time}]
    pay = F.struct(F.col(right_time).alias(right_time),
                   *[F.col(c).alias(c) for c in payload_cols])
    r = right.select(*key_cols, F.col(right_time).alias("__t"),
                     F.lit(0).alias("__src"), pay.alias("__p"))
    l = left.select("*", F.col(left_time).alias("__t"),
                    F.lit(1).alias("__src"))
    u = l.unionByName(r, allowMissingColumns=True)
    # __p joins the ordering as a deterministic tie-break: two right rows
    # with equal (key, right_time) would otherwise sort arbitrarily and
    # last() would pick a nondeterministic payload (left rows carry a
    # NULL __p and their mutual order is immaterial — each sees the same
    # right-row prefix either way)
    w = (Window.partitionBy(*key_cols).orderBy("__t", "__src", "__p")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (u.withColumn("__m", F.last("__p", ignorenulls=True).over(w))
               .filter(F.col("__src") == 1))
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col(f"__m.{right_time}").alias(f"{right_time}{suffix}"))
    out_cols += [F.col(f"__m.{c}").alias(f"{c}{suffix}")
                 for c in payload_cols]
    return matched.select(*out_cols)


def range_join_bucketed(points: DataFrame, intervals: DataFrame,
                        point_col: str, start_col: str, end_col: str,
                        bucket_width: float) -> DataFrame:
    """Interval/range join without a range-join operator: every interval
    is exploded to the buckets it covers (``sequence`` over
    floor(start/w)..floor(end/w)), points are bucketed once, the join is
    a plain EQUI-join on the bucket, and the exact range predicate
    refines.  A point's bucket is unique, so no dedup is needed.

    This is the scale-safe form of ``points JOIN intervals ON start <=
    p < end``: the naive predicate join compiles to
    BroadcastNestedLoopJoin (O(|P|·|I|)); here cost is linear in
    |P| + |I|·(span/width) and shuffles hash on the bucket key.  Pick
    ``bucket_width`` ≈ the maximum interval length so each interval
    covers ≤ 2 buckets.  Timestamps should be pre-cast to double epoch
    seconds by the caller."""
    p = points.withColumn(
        "__b", F.floor(F.col(point_col) / F.lit(float(bucket_width))))
    i = intervals.withColumn(
        "__b", F.explode(F.sequence(
            F.floor(F.col(start_col) / F.lit(float(bucket_width))),
            F.floor(F.col(end_col) / F.lit(float(bucket_width))))))
    return (p.join(i, "__b")
            .filter((F.col(point_col) >= F.col(start_col))
                    & (F.col(point_col) < F.col(end_col)))
            .drop("__b"))


def zorder_code(x: Column, y: Column, bits: int = 11) -> Column:
    """Morton / Z-order interleave of two non-negative integer columns
    (Morton 1966; the data-layout technique behind Delta/Iceberg
    OPTIMIZE ZORDER BY): bit i of x lands at position 2i, bit i of y at
    2i+1, so sorting by the code clusters rows that are close in BOTH
    dimensions — per-file min/max spans stay tight on every z-ordered
    column at once, and a predicate on EITHER column prunes files, which
    a single-column sort cannot give.

    The code is a sum of 2·bits in-row shift/mask terms — zero shuffle,
    exact integer, identical in Spark and SQL."""
    out = None
    for i in range(bits):
        for col, off in ((x, 0), (y, 1)):
            t = F.shiftleft(F.shiftright(col, i).bitwiseAND(F.lit(1)),
                            2 * i + off)
            out = t if out is None else out + t
    return out


def zorder_file_stats(df: DataFrame, x_col: Column, y_col: Column,
                      bits: int = 11, file_shift: int = 16) -> DataFrame:
    """Assign rows to target files by Z-order code prefix (file id =
    code >> file_shift) and report per-file min/max spans of both
    dimensions — the metadata a scan planner prunes on.  One linear
    keyed agg; the tight spans ARE the demonstration that z-ordering
    bounds per-file ranges in both dimensions simultaneously."""
    code = zorder_code(x_col, y_col, bits)
    return (df.select(x_col.alias("__x"), y_col.alias("__y"),
                      F.shiftright(code, file_shift).alias("file_id"))
            .groupBy("file_id")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.min("__x").cast("long").alias("min_x"),
                 F.max("__x").cast("long").alias("max_x"),
                 F.min("__y").cast("long").alias("min_y"),
                 F.max("__y").cast("long").alias("max_y")))


def funnel(events: DataFrame, stages: list, user_col: str = "user_id",
           ts_col: str = "ts", type_col: str = "event_type") -> DataFrame:
    """Ordered funnel analysis (the classic product-analytics operator;
    cf. the windowFunnel aggregate in ClickHouse and Amplitude-style
    event funnels): a user reaches stage i only with an event of type
    stages[i] STRICTLY AFTER their stage-(i−1) arrival — each stage
    anchors at the user's EARLIEST qualifying event (min-ts, so a later
    out-of-order conversion can't hide an earlier valid one).

    Returns (stage_idx, stage, users, conversion) — absolute reach per
    stage and the fraction of stage-1 users surviving, rounded 4 dp.

    Shape: per stage one filtered user-keyed MIN agg + one user-keyed
    join against the previous anchor — k stages = k linear passes, no
    window, no sort; at 100 TB each pass is one keyed shuffle with
    map-side combine and the stage filter is pushed to the scan."""
    cur = None
    reached = []
    for s in stages:
        ev = events.where(F.col(type_col) == s)
        if cur is None:
            cur = (ev.groupBy(user_col)
                   .agg(F.min(ts_col).alias("__t")))
        else:
            cur = (ev.join(cur.select(user_col,
                                      F.col("__t").alias("__prev")),
                           user_col)
                   .where(F.col(ts_col) > F.col("__prev"))
                   .groupBy(user_col)
                   .agg(F.min(ts_col).alias("__t")))
        reached.append(cur)
    counts = None
    for i, (s, df) in enumerate(zip(stages, reached)):
        c = df.agg(F.count("*").cast("long").alias("users")).select(
            F.lit(i + 1).cast("long").alias("stage_idx"),
            F.lit(s).alias("stage"), "users")
        counts = c if counts is None else counts.unionByName(c)
    first = counts.where(F.col("stage_idx") == 1).select(
        F.col("users").alias("__first"))
    return (counts.crossJoin(F.broadcast(first))
            .select("stage_idx", "stage", "users",
                    F.round(F.col("users") / F.col("__first"), 4)
                    .alias("conversion")))


def retention_cohorts(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts") -> DataFrame:
    """Weekly retention cohorts (the standard growth-analytics
    triangle): cohort = the DATE of a user's first event; a user is
    retained in week k of their cohort if any event falls in day range
    [7k, 7k+7) after that date.  Day arithmetic only — no calendar
    week-truncation semantics to disagree on cross-engine.

    Returns (cohort_date, week_offset, users, retention): distinct
    active users per (cohort, offset) and the fraction of the cohort
    (its week-0 size, which is the cohort size by construction).

    Shape: one user-keyed MIN agg (first event), one user-keyed join
    back, one (cohort, offset) count-distinct agg, cohort sizes joined
    back cohort-keyed — all linear keyed passes."""
    firsts = (events.groupBy(user_col)
              .agg(F.min(ts_col).alias("__ft")))
    joined = (events.select(user_col, ts_col)
              .join(firsts, user_col)
              .select(F.col(user_col),
                      F.col("__ft").cast("date").alias("cohort_date"),
                      F.floor(F.datediff(F.col(ts_col).cast("date"),
                                         F.col("__ft").cast("date")) / 7)
                      .cast("long").alias("week_offset")))
    cells = (joined.distinct()
             .groupBy("cohort_date", "week_offset")
             .agg(F.count("*").cast("long").alias("users")))
    sizes = (cells.where(F.col("week_offset") == 0)
             .select("cohort_date", F.col("users").alias("__size")))
    return (cells.join(sizes, "cohort_date")
            .select("cohort_date", "week_offset", "users",
                    F.round(F.col("users") / F.col("__size"), 4)
                    .alias("retention")))


def cusum_anomaly(events: DataFrame, group_col: str = "event_type",
                  ts_col: str = "ts") -> DataFrame:
    """CUSUM change-point detection (Page, Biometrika 1954 — the
    classic sequential test for a sustained level shift, the
    crawl-ops monitor for 'did this host/event stream step up?'):
    over each group's hourly count series, the upper CUSUM statistic
    S_t = max(0, S_{t−1} + (x_t − μ)).  The recurrence looks
    inherently sequential; the RELATIONAL closed form is
        S_t = P_t − min_{i ≤ t} P_i,
    with P the prefix sums of the centered series — one per-group
    ordered prefix-sum window + one running-min window, both over the
    HOURLY series (≤ a few thousand rows per group, sublinear in the
    event stream; the zipf/heaps proportionality argument).

    Exactness: centering by the exact rational mean is cleared of
    division — y_t = n·x_t − Σx (integers) — so P, the running min
    and every statistic are exact n-scaled longs; the single division
    happens only in the reported 4-dp normalized peak.

    Returns one row per group: (group, n_hours, peak_cusum =
    max S_t / n as a 4-dp per-hour excess, peak_hour = earliest hour
    attaining the max)."""
    hourly = (events
              .groupBy(F.col(group_col).alias("grp"),
                       F.date_trunc("hour", F.col(ts_col)).alias("h"))
              .agg(F.count("*").alias("c")))
    tot = hourly.groupBy("grp").agg(F.sum("c").alias("s"),
                                    F.count("*").alias("n"))
    w = Window.partitionBy("grp").orderBy("h") \
        .rowsBetween(Window.unboundedPreceding, 0)
    centered = (hourly.join(tot, "grp")
                .select("grp", "h", "n",
                        (F.col("n") * F.col("c") - F.col("s"))
                        .cast("long").alias("y")))
    pre = centered.select("grp", "h", "n",
                          F.sum("y").over(w).alias("p"))
    # the prefix-min must include the EMPTY prefix's P_0 = 0 (else
    # S_1 would read 0 instead of max(0, y_1)) — hence the least(0, ·)
    stat = pre.select("grp", "h", "n",
                      (F.col("p") - F.least(F.lit(0).cast("long"),
                                            F.min("p").over(w)))
                      .alias("st"))
    return (stat.groupBy("grp")
            .agg(F.max("n").cast("long").alias("n_hours"),
                 F.max("st").alias("mx"),
                 F.min(F.struct((-F.col("st")).alias("neg"),
                                F.col("h").alias("h"))).alias("pk"))
            .select(F.col("grp").alias(group_col), "n_hours",
                    F.round(F.col("mx")
                            / F.col("n_hours").cast("double"), 4)
                    .alias("peak_cusum"),
                    F.col("pk.h").alias("peak_hour")))


def mann_kendall(events: DataFrame, group_col: str = "event_type",
                 ts_col: str = "ts") -> DataFrame:
    """Mann–Kendall trend test (Mann, Econometrica 1945; Kendall's tau
    framework) — the standard nonparametric "is this series trending?"
    monitor, complementing ``cusum_anomaly``'s level-shift detector on
    the same crawl-ops dashboards: S = Σ_{i<j} sgn(x_j − x_i) over each
    group's hourly count series, with the tie-corrected variance
    18·Var(S) = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) and the
    continuity-corrected z = (S∓1)/√Var(S).

    Scale shape: the pair join is over the HOURLY series, so its size
    is (series length)², bounded by the time span — independent of the
    event count, the same sublinearity argument as the CUSUM/zipf
    windows.  Exactness: S, the tie sum and 18·Var(S) are exact longs
    (sgn of integer differences; no division anywhere); the single
    float op is the final z = (S∓1)/sqrt(var18/18), rounded at 4 dp
    identically in both engines.

    Returns one row per group: (group, n_hours, s_stat, var18, z,
    trend) with trend = increasing/decreasing when |z| ≥ 1.96 (the
    two-sided 5% normal critical value), else none."""
    hourly = (events
              .groupBy(F.col(group_col).alias("grp"),
                       F.date_trunc("hour", F.col(ts_col)).alias("h"))
              .agg(F.count("*").alias("c"))
              .localCheckpoint(eager=False))
    a = hourly.select("grp", F.col("h").alias("h1"), F.col("c").alias("c1"))
    b = hourly.select("grp", F.col("h").alias("h2"), F.col("c").alias("c2"))
    s = (a.join(b, "grp")
         .where(F.col("h1") < F.col("h2"))
         .groupBy("grp")
         .agg(F.sum(F.signum(F.col("c2") - F.col("c1"))
                    .cast("long")).alias("s_stat")))
    n = hourly.groupBy("grp").agg(F.count("*").alias("n_hours"))
    ties = (hourly.groupBy("grp", "c").agg(F.count("*").alias("tg"))
            .groupBy("grp")
            .agg(F.sum(F.col("tg") * (F.col("tg") - 1)
                       * (2 * F.col("tg") + 5)).alias("tiesum")))
    nn = F.col("n_hours")
    var18 = (nn * (nn - 1) * (2 * nn + 5) - F.col("tiesum")).cast("long")
    zraw = F.when(F.col("var18") <= 0, F.lit(0.0)).otherwise(
        F.when(F.col("s_stat") > 0,
               (F.col("s_stat") - 1) / F.sqrt(F.col("var18") / F.lit(18.0)))
        .when(F.col("s_stat") < 0,
              (F.col("s_stat") + 1) / F.sqrt(F.col("var18") / F.lit(18.0)))
        .otherwise(F.lit(0.0)))
    return (n.join(s, "grp").join(ties, "grp")
            .withColumn("var18", var18)
            .withColumn("z", F.round(zraw, 4))
            .select(F.col("grp").alias(group_col),
                    F.col("n_hours").cast("long").alias("n_hours"),
                    "s_stat", "var18", "z",
                    F.when(F.col("z") >= 1.96, F.lit("increasing"))
                    .when(F.col("z") <= -1.96, F.lit("decreasing"))
                    .otherwise(F.lit("none")).alias("trend")))


def load_gini(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Gini coefficient of per-entity load (Gini 1912, via the exact
    rank formula G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) over x sorted
    ascending) — the crawl-frontier concentration diagnostic: how
    skewed is the fetch load across hosts?  This single statistic is
    what justifies (or retires) the salted per-host scheduler and the
    hot-shard guards: G ≈ 0 means uniform hosts, G → 1 means one host
    dominates and every per-host structure needs a skew path.

    Scale shape: one keyed count agg over the event stream, then rank
    + sums over the PER-ENTITY table (n entities ≪ n events — the
    standard sublinear-window argument, documented like the zipf/
    vocabulary cases; the WindowExec-no-partition warning is expected
    and bounded).  Exactness: numerator and denominator are exact
    longs (ranks, counts); the only division is the final 6-dp Gini
    and top-share.

    Returns one row: (n_keys, total, gini, top_share)."""
    x = events.groupBy(F.col(key_col).alias("k")) \
        .agg(F.count("*").alias("x"))
    w = Window.orderBy(F.asc("x"), F.asc("k"))
    ranked = x.select("x", F.row_number().over(w).alias("i"))
    return (ranked.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("x").cast("long").alias("total"),
        F.sum(F.col("i").cast("long") * F.col("x")).alias("ix"),
        F.max("x").cast("long").alias("mx"))
        .select("n_keys", "total",
                F.round((2 * F.col("ix") - (F.col("n_keys") + 1)
                         * F.col("total"))
                        / (F.col("n_keys") * F.col("total")).cast("double"),
                        6).alias("gini"),
                F.round(F.col("mx") / F.col("total").cast("double"), 6)
                .alias("top_share")))


def ab_ztest(events: DataFrame, user_col: str = "user_id",
             type_col: str = "event_type",
             convert_type: str = "purchase") -> DataFrame:
    """Two-proportion z-test (the pooled-variance test of Fleiss,
    Levin & Paik, "Statistical Methods for Rates and Proportions") —
    the experimentation primitive a crawl/ranking team runs on every
    policy change: entities split into two deterministic variants by
    id parity ``abs(id % 2)``, which the oracle spells the same way, so
    a negative id buckets alike in Spark and DuckDB; conversion =
    the entity ever emitted ``convert_type``, and
        z = (p̂₁ − p̂₂) / √( p̂(1−p̂)(1/n₁ + 1/n₂) ),
    with p̂ the pooled rate.  |z| ≥ 1.96 rejects equal rates at the
    two-sided 5% level.

    Scale shape: one entity-keyed agg over the stream (max-if), one
    2-row group agg, one 1-row combine — nothing bigger than the
    variant table ever shuffles.  Exactness: counts exact longs; the
    rates and z are one pinned float chain rounded 4 dp.

    Returns one row: (n_a, conv_a, n_b, conv_b, rate_a, rate_b,
    z, significant)."""
    per = (events.groupBy(F.col(user_col).alias("u"))
           .agg(F.max(F.when(F.col(type_col) == convert_type, 1)
                      .otherwise(0)).alias("conv"))
           .select(F.abs(F.col("u") % 2).alias("v"), "conv"))
    g = (per.groupBy("v")
         .agg(F.count("*").cast("long").alias("n"),
              F.sum("conv").cast("long").alias("c")))
    a = g.where(F.col("v") == 0).select(F.col("n").alias("n_a"),
                                        F.col("c").alias("conv_a"))
    b = g.where(F.col("v") == 1).select(F.col("n").alias("n_b"),
                                        F.col("c").alias("conv_b"))
    out = a.crossJoin(b)
    p1 = F.col("conv_a") / F.col("n_a").cast("double")
    p2 = F.col("conv_b") / F.col("n_b").cast("double")
    pp = (F.col("conv_a") + F.col("conv_b")) \
        / (F.col("n_a") + F.col("n_b")).cast("double")
    se = F.sqrt(pp * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n_a")
                   + F.lit(1.0) / F.col("n_b")))
    z = F.round(F.when(se > 0, (p1 - p2) / se).otherwise(F.lit(0.0)), 4)
    return out.select(
        "n_a", "conv_a", "n_b", "conv_b",
        F.round(p1, 6).alias("rate_a"), F.round(p2, 6).alias("rate_b"),
        z.alias("z"),
        (F.abs(z) >= 1.96).alias("significant"))


def assoc_rules(events: DataFrame, user_col: str = "user_id",
                item_col: str = "event_type",
                min_pair: int = 5) -> DataFrame:
    """Single-item association rules (Agrawal, Imieliński & Swami,
    SIGMOD 1993): over per-entity ITEM SETS (distinct event types per
    user — the market-basket of behavioral mining), every ordered rule
    a→b with support = n_ab/n, confidence = n_ab/n_a and
    lift = confidence/(n_b/n).  Lift > 1 is genuine association,
    < 1 is repulsion — the signal behind "users who sign up also
    purchase" dashboards and crawl-behavior correlation.

    Scale shape: one distinct (entity, item) projection, item counts,
    a user-keyed self-join bounded by (items/user)² — itemsets are
    tiny (≤ event-type cardinality) so the join is linear in entities
    — and one bounded 1-row total broadcast.  Exact-long counts;
    support/confidence/lift single 6-dp divisions.

    Returns (ant, cons, n_ab, support, confidence, lift) for pairs
    with n_ab ≥ ``min_pair``."""
    ui = (events.select(F.col(user_col).alias("u"),
                        F.col(item_col).alias("i")).distinct()
          .localCheckpoint(eager=False))
    n_users = ui.select("u").distinct() \
        .agg(F.count("*").cast("long").alias("n"))
    per_item = ui.groupBy("i").agg(F.count("*").cast("long").alias("ni"))
    pairs = (ui.join(ui.select(F.col("u").alias("u"),
                               F.col("i").alias("j")), "u")
             .where(F.col("i") != F.col("j"))
             .groupBy("i", "j")
             .agg(F.count("*").cast("long").alias("n_ab"))
             .where(F.col("n_ab") >= min_pair))
    out = (pairs
           .join(per_item.select(F.col("i"), F.col("ni").alias("n_a")),
                 "i")
           .join(per_item.select(F.col("i").alias("j"),
                                 F.col("ni").alias("n_b")), "j")
           .crossJoin(F.broadcast(n_users)))
    conf = F.col("n_ab") / F.col("n_a").cast("double")
    return out.select(
        F.col("i").alias("ant"), F.col("j").alias("cons"), "n_ab",
        F.round(F.col("n_ab") / F.col("n").cast("double"), 6)
        .alias("support"),
        F.round(conf, 6).alias("confidence"),
        F.round(conf / (F.col("n_b") / F.col("n").cast("double")), 6)
        .alias("lift"))


def markov_transitions(events: DataFrame, user_col: str = "user_id",
                       type_col: str = "event_type", ts_col: str = "ts",
                       id_col: str = "event_id") -> DataFrame:
    """First-order Markov transition matrix of the event stream — the
    classic user-journey / crawl-session model (the chain underlying
    PageRank itself, here estimated from observed behavior): per
    entity, events ordered by (ts, id) — the id tie-break makes the
    sequence deterministic — each consecutive pair is one observed
    transition, and P(to | from) = n(from,to)/n(from).  The crawl
    reading: which fetch outcome follows which (view→click→purchase
    funnels, error clustering after errors).

    Scale shape: one per-entity ordered LEAD window (entity-partitioned
    — never global), one keyed count agg, a row-marginal join at
    event-type cardinality.  Exact-long counts; p one 6-dp division.

    Returns (from_type, to_type, n, p)."""
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col),
                                             F.asc(id_col))
    steps = (events
             .select(F.col(type_col).alias("from_type"),
                     F.lead(type_col).over(w).alias("to_type"))
             .where(F.col("to_type").isNotNull()))
    cnt = (steps.groupBy("from_type", "to_type")
           .agg(F.count("*").cast("long").alias("n")))
    rowm = cnt.groupBy("from_type").agg(F.sum("n").alias("nr"))
    return (cnt.join(rowm, "from_type")
            .select("from_type", "to_type", "n",
                    F.round(F.col("n") / F.col("nr").cast("double"), 6)
                    .alias("p")))


def kaplan_meier(events: DataFrame, user_col: str = "user_id",
                 ts_col: str = "ts", censor_hours: int = 24) -> DataFrame:
    """Kaplan–Meier survival estimator (Kaplan & Meier, JASA 1958 —
    the most-cited statistics paper) over entity lifetimes — the churn
    curve: lifetime = full hours between an entity's first and last
    event; entities whose last event falls within ``censor_hours`` of the
    stream's end are right-CENSORED (still alive at observation end —
    the estimator's whole point; without censoring KM degenerates to
    the empirical survival function).  At each uncensored lifetime t:
    n_t = entities with lifetime ≥ t (at risk), d_t = uncensored
    deaths at t, and S(t) = Π_{i ≤ t} (1 − d_i/n_i).

    Determinism: the product is evaluated as exp(ordered-prefix-sum of
    ln(1 − d/n)) — an ORDERED window, so both engines sum the same
    doubles in the same order (the cusum prefix-sum argument); counts
    are exact longs; S rounded 6 dp.  A terminal d_t = n_t yields
    exactly 0.0 via an explicit prefix flag (Spark's log(0) is NULL
    while DuckDB's is −inf — the flag removes the engine divergence).

    Scale shape: one entity-keyed min/max agg, one lifetime-keyed agg,
    an at-risk suffix sum + prefix product over the DISTINCT-lifetime
    table (sublinear).  Returns (t_hours, n_risk, d, survival)."""
    per = (events.groupBy(F.col(user_col).alias("u"))
           .agg(F.min(ts_col).alias("t0"), F.max(ts_col).alias("t1")))
    horizon = events.agg(F.max(ts_col).alias("hz"))
    # FULL elapsed hours via exact epoch-second integer division —
    # never date_diff/timestampdiff, whose boundary-crossing vs
    # complete-interval semantics differ across engines
    hdiff = F.expr("(unix_timestamp(t1) - unix_timestamp(t0)) div 3600")
    gap = F.expr("(unix_timestamp(hz) - unix_timestamp(t1)) div 3600")
    lt = (per.crossJoin(F.broadcast(horizon))
          .select(hdiff.cast("long").alias("lt"),
                  (gap < F.lit(censor_hours)).alias("censored")))
    tbl = (lt.groupBy("lt")
           .agg(F.count("*").cast("long").alias("all_at_t"),
                F.sum(F.when(~F.col("censored"), 1).otherwise(0))
                .cast("long").alias("d")))
    w_suffix = Window.orderBy(F.desc("lt")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    risk = tbl.withColumn("n_risk", F.sum("all_at_t").over(w_suffix))
    w_prefix = Window.orderBy(F.asc("lt")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    # the terminal d = n_risk row must yield exactly 0.0: Spark's
    # log(0) is NULL while DuckDB's is -inf, so the zero is carried by
    # an explicit prefix flag in BOTH engines instead of the ln chain
    surv = (risk.where(F.col("d") > 0)
            .withColumn("__ln", F.when(
                F.col("d") < F.col("n_risk"),
                F.log(F.lit(1.0)
                      - F.col("d") / F.col("n_risk").cast("double"))))
            .withColumn("__dead", F.max(
                F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0))
                .over(w_prefix))
            .withColumn("survival", F.when(
                F.col("__dead") == 1, F.lit(0.0)).otherwise(
                F.round(F.exp(F.sum("__ln").over(w_prefix)), 6))))
    return surv.select(F.col("lt").alias("t_hours"), "n_risk", "d",
                       "survival")


def hourly_acf(events: DataFrame, group_col: str = "event_type",
               ts_col: str = "ts",
               lags: tuple = (1, 2, 3, 6, 12, 24)) -> DataFrame:
    """Autocorrelation of the hourly count series (the Box–Jenkins ACF
    — the seasonality detector: a daily-periodic stream spikes at lag
    24) per group, over the DENSIFIED calendar series — missing hours
    count 0, otherwise gaps silently shift every lag.  Cleared of the
    mean division exactly as the CUSUM operator: centered
    c_t = n·x_t − Σx is an exact long, so numerator Σ c_t·c_{t+k} and
    denominator Σ c_t² are exact integer sums and
    r_k = num/den is ONE 6-dp division — no float accumulation at
    all.  Window/join sizes are span-bounded (hourly series), the
    Mann-Kendall sublinearity argument.

    Returns (group, lag, n_hours, acf)."""
    hourly = (events
              .groupBy(F.col(group_col).alias("grp"),
                       F.date_trunc("hour", F.col(ts_col)).alias("h"))
              .agg(F.count("*").alias("c")))
    span = hourly.groupBy("grp").agg(F.min("h").alias("h0"),
                                     F.max("h").alias("h1"))
    dense = (span.select("grp", F.explode(F.sequence(
        F.col("h0"), F.col("h1"),
        F.expr("interval 1 hour"))).alias("h"))
        .join(hourly, ["grp", "h"], "left")
        .select("grp", "h", F.coalesce(F.col("c"), F.lit(0)).alias("x"))
        .localCheckpoint(eager=False))
    tot = dense.groupBy("grp").agg(F.sum("x").alias("s"),
                                   F.count("*").cast("long").alias("n"))
    cen = (dense.join(tot, "grp")
           .select("grp", "h", "n",
                   (F.col("n") * F.col("x") - F.col("s")).cast("long")
                   .alias("ct"))
           .localCheckpoint(eager=False))
    den = cen.groupBy("grp").agg(
        F.sum(F.col("ct") * F.col("ct")).alias("den"),
        F.max("n").alias("n_hours"))
    lagdf = cen.sparkSession.createDataFrame(
        [(int(k),) for k in lags], ["lag"])
    b = cen.select("grp", F.col("h").alias("h2"),
                   F.col("ct").alias("ct2"))
    num = (cen.crossJoin(F.broadcast(lagdf))
           .withColumn("h2", F.expr("h + make_interval(0,0,0,0,lag,0,0)"))
           .join(b, ["grp", "h2"])
           .groupBy("grp", "lag")
           .agg(F.sum(F.col("ct") * F.col("ct2")).alias("num")))
    return (num.join(den, "grp")
            .select(F.col("grp").alias(group_col), "lag", "n_hours",
                    F.round(F.col("num") / F.col("den").cast("double"),
                            6).alias("acf")))
