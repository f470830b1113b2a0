"""The reference's REST query surface as DataFrame programs.

Mirrors the Iron routes (reference: src/main.rs:291-356) over the engine's
snapshot tables, so every query a pink-spider user runs today has a
DataFrame equivalent here:

- ``index``      GET /v1/{entity}            — paginated, ?query= search,
                 ?type=active (src/main.rs:42-67, 277-285)
- ``show_by_id`` GET /v1/{entity}/:id        — single row by natural key
- ``mget``       POST /v1/{entity}/.mget     — batched id lookup
                 (src/main.rs:221-227)
- ``show_by_provider_and_identifier``        (src/model/enclosure.rs:12-25)
- ``entry_with_enclosures``                  — entry hydrated with nested
                 track/playlist/album lists (src/model/entry.rs:101-103,
                 set_relations J10) via join + collect_list, NOT per-row
- ``playlistify_lookup``                     — GET /v1/playlistify?url=U
                 cache-hit path: the stored entry for a URL
                 (src/main.rs:173-192 find_or_playlistify)

All return DataFrames; JSON serialization is one ``F.to_json(struct(*))``
away (src/main.rs:65-66 analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.relational import contains_filter, paginate

DEFAULT_PER_PAGE = 25  # reference: src/main.rs:35


def index(df: DataFrame, page: int = 0, per_page: int = DEFAULT_PER_PAGE,
          query: str | None = None, search_col: str = "title",
          active: bool = False, velocity_col: str = "velocity", *,
          order_col: str, total: int | None = None) -> DataFrame:
    """Paginated entity index with optional search + active filter.

    The reference orders by updated_at DESC (src/model/mod.rs:123-138);
    engine tables carry wave numbers instead of wall-clock, so recency =
    (``order_col`` DESC, natural key) — deterministic by design.  The
    caller names the wave column (``entries`` has ``crawled_wave``).

    Physically auto-routed by ``paginate``: small dims take the window
    form, large tables the windowless TakeOrderedAndProject form (pass
    ``total`` from the envelope count to skip the routing count job).
    """
    out = df
    if query is not None:
        out = contains_filter(out, search_col, query)
    if active:
        out = out.filter(F.col(velocity_col) > 0)
    order_keys = [F.desc(order_col)] + [F.asc(c) for c in _natural_key(df)]
    return paginate(out, order_keys, page, per_page, total=total)


def total_count(df: DataFrame, query: str | None = None,
                search_col: str = "title") -> int:
    """The pagination envelope's total (reference: src/model/mod.rs:141-154)."""
    out = df if query is None else contains_filter(df, search_col, query)
    return out.count()


def _natural_key(df: DataFrame) -> list:
    cols = set(df.columns)
    if {"provider", "identifier"} <= cols:
        return ["provider", "identifier"]
    if "url" in cols:
        return ["url"]
    return [df.columns[0]]


def show_by_provider_and_identifier(df: DataFrame, provider: str,
                                    identifier: str) -> DataFrame:
    """Natural-key lookup, latest-published first on ties
    (reference: src/model/enclosure.rs:12-25)."""
    w = Window.partitionBy("provider", "identifier").orderBy(
        F.desc_nulls_last("published_at"))
    return (
        df.filter((F.col("provider") == provider)
                  & (F.col("identifier") == identifier))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1).drop("__rn")
    )


def mget(df: DataFrame, keys: list, key_cols: list | None = None) -> DataFrame:
    """Batched lookup = ANY($ids) (reference: src/main.rs:221-227,
    src/model/track.rs:336-354).  ``keys``: list of tuples matching
    key_cols (default natural key)."""
    key_cols = key_cols or _natural_key(df)
    spark = df.sparkSession
    kdf = spark.createDataFrame(keys, key_cols)
    return df.join(F.broadcast(kdf), on=key_cols, how="inner")


def entry_with_enclosures(entries: DataFrame, enclosures: DataFrame,
                          dims: dict) -> DataFrame:
    """Entries hydrated with nested enriched enclosure lists — the
    set_relations batch join (reference: src/model/entry.rs:101-103,
    src/model/track.rs:162-176): one join per relation + collect_list,
    never per-row loops.  ``dims``: {"track": tracks_df, ...}."""
    out = entries
    for kind, plural in (("track", "tracks"), ("playlist", "playlists"),
                         ("album", "albums")):
        dim = dims[plural].select(
            "provider", "identifier",
            F.col("title").alias("enc_title"),
            F.col("state").alias("enc_state"))
        nested = (
            enclosures.filter(F.col("kind") == kind)
            .join(dim, on=["provider", "identifier"], how="left")
            .groupBy("url")
            .agg(F.sort_array(F.collect_list(F.struct(
                F.col("doc_pos"), F.col("child_pos"),
                F.col("provider"), F.col("identifier"),
                F.col("enc_title").alias("title"),
                F.col("enc_state").alias("state")))).alias(plural))
        )
        out = out.join(nested, on="url", how="left")
        out = out.withColumn(plural, F.coalesce(
            F.col(plural), F.array().cast(out.schema[plural].dataType)))
    return out


def playlistify_lookup(entries: DataFrame, url: str) -> DataFrame:
    """GET /v1/playlistify?url=U cache-hit: the stored entry
    (reference: src/main.rs:173-192; a miss would enqueue the URL into the
    frontier for the next wave — batch engines don't scrape inline)."""
    return entries.filter(F.col("url") == url)


def playlistify(driver, url: str, force: bool = False) -> DataFrame:
    """GET /playlistify?url=U&force= — the FULL find_or_playlistify
    semantics (reference: src/main.rs:162-192):

    - cache hit, ``force=False`` → the stored entry, no crawl
    - cache hit, ``force=True``  → re-scrape: the URL bypasses crawl-once
      via ``driver.recrawl`` and one wave refreshes its entry in place
      (seen ordering preserved)
    - miss → create_by_url: the URL is enqueued and crawled

    ``driver``: a CrawlDriver over the entry store.  Returns the (possibly
    refreshed) entry row as a DataFrame."""
    from .sources import schemas

    def _entries():
        return driver.store.table("entries").read(
            driver.spark, schema=schemas.ENTRY_SCHEMA)

    hit = _entries().filter(F.col("url") == url)
    if force or hit.limit(1).count() == 0:
        driver.recrawl([url])
        driver.run_wave()
        return _entries().filter(F.col("url") == url)
    return hit
