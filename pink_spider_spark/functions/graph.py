"""The edge-list contract every graph operator starts from.

A graph operator takes an arbitrary frame holding two endpoint columns
and first turns it into its pinned edge list: the (src, dst) pairs,
distinct; for an undirected operator also symmetrized (both
orientations) with self-loops dropped; hash-partitioned on the column
its iterations join on (``key``, or None where the operator joins on
no fixed column); and ``localCheckpoint``-ed.  The edge list is the
loop invariant of every Pregel-style round (degrees, node sets and each
round's join all read it), so without the pin each consumer re-executed
the upstream edge derivation (a join, an entries explode, a MinHash-LSH
pair pipeline) and re-shuffled it; the partitioning lets each round's
keyed join reuse the exchange instead of re-shuffling the edge side,
and the checkpoint truncates the lineage the rounds would replay.

An operator that needs more (reciprocity's self-loop drop on a
directed list) filters the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pin(e: DataFrame, key: str | None) -> DataFrame:
    if key is not None:
        e = e.repartition(key)
    return e.localCheckpoint(eager=False)


def directed_edges(edges: DataFrame, src: str, dst: str,
                   key: str | None) -> DataFrame:
    """The distinct (src, dst) pairs of ``edges``, pinned."""
    return _pin(edges.select(F.col(src).alias("src"),
                             F.col(dst).alias("dst")).distinct(), key)


def undirected_edges(edges: DataFrame, src: str, dst: str,
                     key: str | None) -> DataFrame:
    """Both orientations of every non-loop edge of ``edges`` as distinct
    (src, dst) pairs, pinned."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .union(edges.select(F.col(dst).alias("src"),
                             F.col(src).alias("dst")))
         .where(F.col("src") != F.col("dst"))
         .distinct())
    return _pin(e, key)


def edge_nodes(edges: DataFrame, node: str = "node") -> DataFrame:
    """The distinct endpoints of a (src, dst) frame as one column
    ``node``."""
    return (edges.select(F.col("src").alias(node))
            .union(edges.select(F.col("dst").alias(node))).distinct())
