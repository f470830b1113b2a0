"""Enclosure entity persistence: find-or-create dims + catalog enrichment.

Reproduces the reference's playlistify persistence step
(reference: src/model/entry.rs:336-381): every extracted enclosure is
saved into its entity table (tracks/playlists/albums) keyed on
(provider, identifier) — find_or_create semantics
(reference: src/model/enclosure.rs:26-31, unique index
db/migrate/001_create_tracks.rb:11) — and link rows (entry ↔ enclosure)
are inserted if absent.  Playlist membership (playlist_tracks) comes from
the catalog's child lists, mirroring playlist expansion
(reference: src/scraper.rs:322-370, upsert src/model/playlist_track.rs:72-90).

All relational: dedup window + left_anti merge + broadcast catalog join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DIM_KINDS = ("track", "playlist", "album")


def dedup_enclosures(enclosures: DataFrame) -> DataFrame:
    """One wave-wide first-seen dedup pass on (kind, provider, identifier),
    ordered by (url, doc_pos, child_pos) for determinism.  Computed ONCE
    per wave and cached by the driver — the per-kind dim plans then reduce
    to filters over this tiny cached frame instead of three separate
    explode+window jobs."""
    w = Window.partitionBy("kind", "provider", "identifier").orderBy(
        "url", "doc_pos", "child_pos")
    return (enclosures
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn"))


def new_dim_rows(deduped: DataFrame, existing: DataFrame, kind: str,
                 catalog_df: DataFrame, wave: int) -> DataFrame:
    """Rows to append to the ``kind`` entity table this wave, from the
    wave's enclosures already deduped by :func:`dedup_enclosures`.

    - left_anti against the existing dim (find_or_create)
    - broadcast-enriched from the provider catalog (stand-in for the
      reference's per-enclosure REST fetches, src/youtube.rs:202-258 etc.)
    """
    fresh = (
        deduped.filter(F.col("kind") == kind)
        .join(existing.select("provider", "identifier"),
              on=["provider", "identifier"], how="left_anti")
    )
    cat = catalog_df.filter(F.col("kind") == kind).select(
        "provider", "identifier",
        F.col("title").alias("cat_title"),
        F.col("owner_name").alias("cat_owner_name"),
        F.col("url").alias("cat_url"),
        F.col("thumbnail_url").alias("cat_thumbnail_url"),
        F.col("artwork_url").alias("cat_artwork_url"),
        F.col("duration").alias("cat_duration"),
        F.col("published_at").alias("cat_published_at"),
    )
    return (
        fresh.join(F.broadcast(cat), on=["provider", "identifier"], how="left")
        .select(
            "provider", "identifier",
            # fetch miss -> Track::new defaults: title = identifier
            # (reference: src/model/track.rs Track::new / disable path)
            F.coalesce("cat_title", "identifier").alias("title"),
            F.col("owner_id"),
            F.col("cat_owner_name").alias("owner_name"),
            F.col("cat_url").alias("provider_url"),
            F.col("cat_thumbnail_url").alias("thumbnail_url"),
            F.col("cat_artwork_url").alias("artwork_url"),
            F.coalesce("cat_duration", F.lit(0)).alias("duration"),
            F.col("cat_published_at").alias("published_at"),
            "state",
            # creation default 0 (db/migrate/022: float NOT NULL DEFAULT 0);
            # update_playlist_velocity raises it as membership is discovered
            F.lit(0.0).alias("velocity"),
            F.lit(wave).alias("first_wave"),
        )
    )


def link_rows(enclosures: DataFrame, kind: str, wave: int) -> DataFrame:
    """entry-url ↔ enclosure link rows ({kind}_entries analog;
    reference: src/model/entry.rs:383-408 INSERT-if-absent).  Enclosures
    are already per-entry deduped by the extractor, so rows are unique."""
    return (
        enclosures.filter(F.col("kind") == kind)
        .select("url", "provider", "identifier",
                "doc_pos", "child_pos",
                F.lit(wave).alias("first_wave"))
    )


def refresh_stale_dims(dim: DataFrame, catalog_df: DataFrame, kind: str,
                       wave: int) -> DataFrame:
    """The update_tracks/update_albums/update_artists batch refresh as one
    relational pass (reference: src/update_tracks.rs:10-44 scan
    ``owner_id IS NULL AND state='alive'`` + per-row API fetch with a
    500 ms sleep; here: predicate scan + ONE broadcast catalog join —
    politeness is the scheduler's job, not a sleep).

    Returns the refreshed full dim (rows with catalog data updated, state
    flipped to dead when the catalog no longer has the item, mirroring the
    disable path src/model/track.rs:516-519).
    """
    stale = dim.filter(F.col("owner_id").isNull() &
                       (F.col("state") == "alive"))
    fresh_keep = dim.join(stale.select("provider", "identifier"),
                          on=["provider", "identifier"], how="left_anti")
    cat = catalog_df.filter(F.col("kind") == kind).select(
        "provider", "identifier",
        F.col("title").alias("cat_title"),
        F.col("owner_id").alias("cat_owner_id"),
        F.col("owner_name").alias("cat_owner_name"),
        F.col("duration").alias("cat_duration"),
        F.col("published_at").alias("cat_published_at"),
    )
    refreshed = (
        stale.join(F.broadcast(cat), on=["provider", "identifier"], how="left")
        .select(
            "provider", "identifier",
            F.coalesce("cat_title", "title").alias("title"),
            F.col("cat_owner_id").alias("owner_id"),
            F.coalesce("cat_owner_name", "owner_name").alias("owner_name"),
            "provider_url", "thumbnail_url", "artwork_url",
            F.coalesce("cat_duration", "duration").alias("duration"),
            F.coalesce("cat_published_at", "published_at").alias("published_at"),
            F.when(F.col("cat_title").isNull(), F.lit("dead"))
            .otherwise(F.lit("alive")).alias("state"),
            "velocity",
            "first_wave",
        )
    )
    return fresh_keep.unionByName(refreshed)


def find_actives(playlists: DataFrame) -> DataFrame:
    """The reference's Playlist::find_actives: ``velocity > 0 ORDER BY
    updated_at ASC`` (src/model/playlist.rs:263-270).  The engine's
    recency analog of updated_at is first_wave; ``active_rank`` carries
    the deterministic processing order (oldest-refreshed first)."""
    w = Window.orderBy(F.asc("first_wave"), F.asc("provider"),
                       F.asc("identifier"))
    return (playlists.filter(F.col("velocity") > 0)
            .withColumn("active_rank", F.row_number().over(w)))


def update_playlist_velocity(playlists: DataFrame,
                             playlist_tracks: DataFrame,
                             since_wave: int) -> DataFrame:
    """The velocity-update path on the playlists dim (reference:
    playlists.velocity float NOT NULL DEFAULT 0 saved via Playlist::save,
    src/model/playlist.rs:109-148 $9; nothing in the reference computes
    it — it arrives via save).  The engine derives it deterministically:
    velocity := membership rows discovered at or after ``since_wave``
    (items-per-interval with the wave as the interval)."""
    v = (playlist_tracks.filter(F.col("first_wave") >= since_wave)
         .groupBy("provider",
                  F.col("playlist_identifier").alias("identifier"))
         .agg(F.count("*").cast("double").alias("__v")))
    return (playlists.drop("velocity")
            .join(v, on=["provider", "identifier"], how="left")
            .withColumn("velocity", F.coalesce("__v", F.lit(0.0)))
            .drop("__v")
            .select(playlists.columns))


def refresh_active_playlists(playlists: DataFrame, playlist_tracks: DataFrame,
                             catalog_df: DataFrame, wave: int,
                             velocity: DataFrame | None = None) -> DataFrame:
    """playlist_crawler semantics: re-fetch members of 'active' playlists
    and upsert playlist_tracks (reference: src/playlist_crawler.rs:8-35,
    find_actives src/model/playlist.rs:263-270 velocity>0 ORDER BY
    updated_at ASC, upsert src/model/playlist_track.rs:72-90 ON CONFLICT
    DO UPDATE).  Active set, in precedence order: an explicit ``velocity``
    frame; else the playlists dim's own velocity column (find_actives
    semantics, the default); else every playlist (legacy dims without the
    column).  Returns the new playlist_tracks table (existing rows kept,
    membership refreshed from the catalog)."""
    if velocity is not None:
        active = playlists.select("provider", "identifier").join(
            velocity.filter(F.col("velocity") > 0)
            .select("provider", "identifier"),
            on=["provider", "identifier"], how="inner")
    elif "velocity" in playlists.columns:
        active = find_actives(playlists).select("provider", "identifier")
    else:
        active = playlists.select("provider", "identifier")
    cat = catalog_df.filter(F.col("kind") == "playlist").select(
        "provider", "identifier", "child_identifiers")
    latest = (
        active.join(F.broadcast(cat), on=["provider", "identifier"], how="inner")
        .select("provider", F.col("identifier").alias("playlist_identifier"),
                F.posexplode("child_identifiers").alias("pos", "track_identifier"))
        .withColumn("first_wave", F.lit(wave))
    )
    # upsert: keep rows whose (playlist, track) pair isn't re-fetched,
    # take the fresh membership for re-fetched pairs
    keys = ["provider", "playlist_identifier", "track_identifier"]
    kept = playlist_tracks.join(latest.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(latest.select(playlist_tracks.columns))


def am_artist_search_match(artists: DataFrame,
                           catalog_df: DataFrame) -> DataFrame:
    """Apple Music artist search-match (reference:
    src/update_artists.rs:47-69): search the catalog by the artist's NAME;
    exactly one result -> take it unconditionally (:52-55); several ->
    keep those whose name matches case-insensitively and take the first
    (:57-63); none surviving -> unchanged.

    Relationally: the per-artist API search becomes one broadcast join of
    lower(name) against the catalog's ``search_term``; "first" is ordered
    by catalog identifier (the deterministic stand-in for API result
    order).  The resolved catalog artist id lands in ``am_catalog_id``
    and the name is updated from the catalog row
    (update_apple_music_artist, :71-80) — the dim keeps its natural key
    (owner id) so track_artists links stay valid, mirroring the
    reference's stable uuid linkage under identifier rewrite.
    """
    cand = (catalog_df
            .filter((F.col("kind") == "artist")
                    & (F.col("provider") == "AppleMusic"))
            .select(F.col("identifier").alias("am_catalog_id"),
                    F.col("title").alias("am_name"),
                    "search_term"))
    am = artists.filter(F.col("provider") == "AppleMusic")
    rest = artists.filter(F.col("provider") != "AppleMusic")
    hits = am.join(F.broadcast(cand),
                   F.lower(F.col("name")) == F.col("search_term"), "inner")
    w_all = Window.partitionBy("provider", "identifier")
    hits = hits.withColumn("__n", F.count("*").over(w_all))
    eligible = hits.filter(
        (F.col("__n") == 1)
        | (F.lower(F.col("am_name")) == F.lower(F.col("name"))))
    w_pick = Window.partitionBy("provider", "identifier") \
        .orderBy("am_catalog_id")
    picked = (eligible
              .withColumn("__rn", F.row_number().over(w_pick))
              .filter(F.col("__rn") == 1)
              .select("provider", "identifier", "am_catalog_id", "am_name"))
    out_cols = artists.columns + ["am_catalog_id"]
    matched = (am.join(picked, on=["provider", "identifier"], how="left")
               .withColumn("name", F.coalesce("am_name", "name"))
               .select(out_cols))
    return rest.withColumn("am_catalog_id",
                           F.lit(None).cast("string")) \
        .select(out_cols).unionByName(matched)


def artist_rows(tracks_dim: DataFrame, catalog_df: DataFrame,
                wave: int) -> tuple:
    """Artists dim + track_artists links derived from track owners
    (reference: update_artists loop src/update_artists.rs:10-93; the
    catalog's owner fields stand in for the provider artist APIs), with
    the Apple Music search-match pass applied (am_artist_search_match).
    Returns (artists, track_artists)."""
    owned = tracks_dim.filter(F.col("owner_id").isNotNull())
    w = Window.partitionBy("provider", "owner_id").orderBy("identifier")
    artists = (
        owned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("provider",
                F.col("owner_id").alias("identifier"),
                F.col("owner_name").alias("name"),
                F.lit(wave).alias("first_wave"))
    )
    artists = am_artist_search_match(artists, catalog_df)
    track_artists = owned.select(
        "provider",
        F.col("identifier").alias("track_identifier"),
        F.col("owner_id").alias("artist_identifier"),
        F.lit(wave).alias("first_wave"))
    return artists, track_artists


def playlist_track_rows(playlists_new: DataFrame, catalog_df: DataFrame,
                        wave: int) -> DataFrame:
    """playlist_tracks membership from catalog child lists
    (reference: src/model/playlist.rs:445-489 add_tracks + upsert
    src/model/playlist_track.rs:72-90)."""
    cat = catalog_df.filter(F.col("kind") == "playlist").select(
        "provider", "identifier", "child_identifiers")
    return (
        playlists_new.select("provider", "identifier")
        .join(F.broadcast(cat), on=["provider", "identifier"], how="inner")
        .select("provider",
                F.col("identifier").alias("playlist_identifier"),
                F.posexplode("child_identifiers").alias("pos", "track_identifier"),
                )
        .withColumn("first_wave", F.lit(wave))
    )
