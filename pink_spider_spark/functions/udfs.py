"""Vectorized (Arrow-batched) UDFs — the only Python in the hot path.

- ``extract_pages``: the flagship extraction operator as one mapInPandas
  pass (html, url) -> (content, text, og fields, enclosures[], links[]).
  No per-row Python crosses the JVM boundary: one Arrow batch in, one out
  (BASELINE.json input_hint).  The provider catalog rides along as a
  broadcast variable.
- ``canonicalize_url``: URL canonicalization for seen-keys (SURVEY.md
  §2.8 F16).  Documented deviation from the reference: the reference keys
  the seen set on the exact URL string (src/model/entry.rs:206-217); we
  canonicalize for the bloom key but keep exact-string equality in the
  confirming anti-join.
"""

from __future__ import annotations

from urllib.parse import urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SHIPPED_SESSIONS: set = set()


def ensure_package_shipped(spark) -> None:
    """Make ``pink_spider_spark`` importable inside python workers no
    matter how the session was built: zip the package and addPyFile it
    (the spark-submit --py-files path, applied programmatically).  Needed
    because a session created before this module was imported won't have
    the repo root on the workers' PYTHONPATH."""
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    import os
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"pink_spider_spark_ship_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirs, files in os.walk(pkg_root):
                if "__pycache__" in dirpath:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        zf.write(full, os.path.relpath(
                            full, os.path.dirname(pkg_root)))
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)

ENCLOSURE_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("provider", T.StringType()),
    T.StructField("identifier", T.StringType()),
    T.StructField("owner_id", T.StringType()),
    T.StructField("state", T.StringType()),
    T.StructField("in_catalog", T.BooleanType()),
    T.StructField("doc_pos", T.IntegerType()),
    T.StructField("child_pos", T.IntegerType()),
])

EXTRACT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("content", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("og_title", T.StringType()),
    T.StructField("og_description", T.StringType()),
    T.StructField("og_locale", T.StringType()),
    T.StructField("og_image", T.StringType()),
    T.StructField("enclosures", T.ArrayType(ENCLOSURE_STRUCT)),
    T.StructField("links", T.ArrayType(T.StringType())),
])


def extract_pages(df: DataFrame, catalog_items: dict | None = None,
                  html_col: str = "html", url_col: str = "url",
                  url_filter=None, passthrough_cols: list | None = None) -> DataFrame:
    """Run the extraction pipeline over a pages DataFrame.

    Input needs (url, html); output one row per (selected) input row with
    EXTRACT_SCHEMA.  Enclosure rows keep (doc_pos, child_pos) so the
    reference's first-seen document ordering survives the relational
    pipeline.

    ``passthrough_cols``: input columns copied onto the output rows
    (e.g. ``warc_ts`` for streaming windowed rollups).

    ``url_filter``: optional collection of URLs; rows outside it are
    dropped INSIDE the UDF (membership set rides a broadcast variable).
    This deliberately replaces a broadcast hash join for wave batches:
    joining before a pandas UDF forces the scan's columnar batches through
    row-by-row Arrow re-batching of the fat html strings (~5x slower),
    while the in-UDF filter keeps the scan -> Arrow fast path intact.
    """
    spark = df.sparkSession
    ensure_package_shipped(spark)
    b_items = spark.sparkContext.broadcast(catalog_items or {})
    b_filter = (spark.sparkContext.broadcast(set(url_filter))
                if url_filter is not None else None)
    passthrough = list(passthrough_cols or [])
    out_schema = T.StructType(EXTRACT_SCHEMA.fields + [
        df.schema[c] for c in passthrough])

    def run(batches):
        # imports inside the worker to keep the closure light
        from pink_spider_spark.extract import extract
        from pink_spider_spark.providers import Catalog

        catalog = Catalog(b_items.value)
        want = b_filter.value if b_filter is not None else None
        for pdf in batches:
            if want is not None:
                pdf = pdf[pdf[url_col].isin(want)]
            extras = {c: list(pdf[c]) for c in passthrough}
            out = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                product = extract(html, url, catalog)
                og = product.og
                encl = []
                for row in (product.tracks + product.playlists + product.albums):
                    encl.append({
                        "kind": row["kind"],
                        "provider": row["provider"],
                        "identifier": row["identifier"],
                        "owner_id": row["owner_id"],
                        "state": row["state"],
                        "in_catalog": row["in_catalog"],
                        "doc_pos": row["doc_pos"],
                        "child_pos": row["child_pos"],
                    })
                out.append({
                    "url": url,
                    "content": product.content,
                    "text": product.text,
                    "og_title": og.get("title"),
                    "og_description": og.get("description"),
                    "og_locale": og.get("locale"),
                    "og_image": og["images"][0] if og["images"] else None,
                    "enclosures": encl,
                    "links": product.links,
                })
            for c in passthrough:
                for i, row in enumerate(out):
                    row[c] = extras[c][i]
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    cols = [url_col, html_col] + passthrough
    return df.select(*cols).mapInPandas(run, schema=out_schema)


def _canon_one(url: str) -> str:
    """Lowercase scheme+host, strip default port and fragment, '' path -> '/'.
    A URL ``urlsplit`` rejects (bad port, unbalanced brackets) is returned
    unchanged; a bracketed host (IPv6 literal) keeps its brackets."""
    try:
        parts = urlsplit(url)
        port = parts.port
    except ValueError:
        return url
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    if parts.netloc.rpartition("@")[2].startswith("["):
        host = f"[{host}]"
    if port is not None and not ((scheme == "http" and port == 80)
                                 or (scheme == "https" and port == 443)):
        host = f"{host}:{port}"
    path = parts.path or "/"
    return urlunsplit((scheme, host, path, parts.query, ""))


@F.pandas_udf(T.StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    return urls.map(_canon_one)


def with_url_hash(df: DataFrame, url_col: str = "url",
                  out_col: str = "url_hash") -> DataFrame:
    """Seen-set key: xxhash64 over the canonical URL (JVM-side hash; the
    bloom filter derives its k probe positions from this single value)."""
    ensure_package_shipped(df.sparkSession)
    return df.withColumn(out_col, F.xxhash64(canonicalize_url(F.col(url_col))))


def host_col(url_col: str = "url"):
    """Host extraction stays JVM-side (parse_url is a built-in expression)."""
    return F.lower(F.expr(f"parse_url({url_col}, 'HOST')"))
