"""Freshness-driven recrawl scheduling (Cho & Garcia-Molina 2003).

A production frontier doesn't only rank NEW urls (PageRank, url triage)
— it must also decide WHICH ALREADY-CRAWLED pages to refetch.  The
standard model treats each page as a Poisson change process: estimate a
per-page change rate λ from the page's revisit history, then prioritize
refetches by expected staleness 1 − e^(−λ·age).  The reference's
crawler refreshes on fixed velocity/state heuristics (crawl/feeds.py
mirrors those); this module adds the principled estimator the 10^10-URL
frontier wants, as an OPT-IN priority source exactly like
``rank.with_host_rank_priority``.

- ``change_rate(history)`` — per-key λ̂ from (key, ts, changed)
  revisit observations, using Cho & Garcia-Molina's bias-corrected
  estimator for synchronous access:
      λ̂ = −ln((n − X + 0.5) / (n + 0.5)) / Ī
  where n = accesses, X = accesses that detected a change, Ī = mean
  revisit interval.  Naive X/Δt systematically UNDERestimates fast
  changers (multiple changes inside one interval are observed as one);
  the log form corrects it.
- ``staleness(rates, now)`` — P(page changed since last fetch).
- ``with_freshness_priority(frontier, ...)`` — joins the staleness
  score onto frontier rows as the integer priority column.

Scale shape: one key-grouped linear aggregation over the fetch log
(count / count-if / min / max — all mergeable, map-side combined), a
scalar literal for ``now``, and one keyed join onto the frontier; no
window, no iteration.  Determinism: intervals are exact epoch
microseconds; the only float ops are one pinned ln / exp chain per key,
mirrored verbatim by the SQL oracle (queries.py
``events_recrawl_priority``), outputs rounded at 4 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

US_PER_DAY = 86_400_000_000.0


def change_rate(history: DataFrame, key_cols: list, ts_col: str = "ts",
                changed_col: str = "changed") -> DataFrame:
    """Per-key Poisson change-rate estimate from revisit observations.
    Returns (key..., n_obs, n_changes, last_seen_us, lambda_per_day);
    keys with fewer than 2 observations, or whose observations all share
    one timestamp, carry no interval and are dropped (no history ⇒
    caller falls back to the default priority).  The zero-span guard
    keeps λ̂ off a division by zero, which fails a Spark ANSI-mode job
    and is NULL or inf/NaN in DuckDB by version; the DuckDB oracles
    apply the same HAVING.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    obs = history.select(*key_cols, us.alias("__us"),
                         F.col(changed_col).cast("boolean").alias("__ch"))
    agg = (obs.groupBy(*key_cols)
           .agg(F.count("*").cast("long").alias("n_obs"),
                F.sum(F.when(F.col("__ch"), 1).otherwise(0))
                .cast("long").alias("n_changes"),
                F.min("__us").alias("__first"),
                F.max("__us").alias("last_seen_us"))
           .filter((F.col("n_obs") >= 2)
                   & (F.col("last_seen_us") > F.col("__first"))))
    n_d = F.col("n_obs").cast("double")
    x_d = F.col("n_changes").cast("double")
    # mean revisit interval in days: span / (n-1) accesses, exact
    # integer span, two pinned divisions
    i_days = ((F.col("last_seen_us") - F.col("__first")).cast("double")
              / F.lit(US_PER_DAY)) / (n_d - F.lit(1.0))
    lam = -F.log(((n_d - x_d) + F.lit(0.5)) / (n_d + F.lit(0.5))) / i_days
    return agg.select(*key_cols, "n_obs", "n_changes", "last_seen_us",
                      lam.alias("lambda_per_day"))


def staleness(rates: DataFrame, now_us: int) -> DataFrame:
    """P(changed since last fetch) = 1 − e^(−λ · age) per key, age in
    days from ``now_us`` (epoch microseconds, a driver-fixed literal so
    every task and both engines score the same instant)."""
    age_days = ((F.lit(now_us) - F.col("last_seen_us")).cast("double")
                / F.lit(US_PER_DAY))
    return rates.withColumn(
        "staleness",
        F.lit(1.0) - F.exp(-(F.col("lambda_per_day") * age_days)))


def with_freshness_priority(frontier: DataFrame, history: DataFrame,
                            now_us: int, url_col: str = "url",
                            scale: int = 1_000_000) -> DataFrame:
    """Replace frontier priority with expected staleness (scaled to an
    integer; URLs without usable history keep priority 0 — they are
    new, and belong to the discovery ranking, not the refresh one).
    Opt-in, same contract as ``rank.with_host_rank_priority``; the
    rates table is url-keyed (frontier-sized), so the join stays a
    keyed equi-join — never a broadcast assumption."""
    scored = staleness(change_rate(history, [url_col]), now_us)
    pri = scored.select(F.col(url_col).alias("__u"),
                        (F.col("staleness") * scale).cast("long")
                        .alias("__p"))
    return (frontier
            .join(pri, frontier[url_col] == pri["__u"], "left")
            .withColumn("priority",
                        F.coalesce(F.col("__p"), F.lit(0)).cast("long"))
            .drop("__u", "__p"))
