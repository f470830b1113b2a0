"""The edge contract of every graph operator (functions/graph.py).

Each operator ranks or walks the DISTINCT edges of its input: a directed
operator gives the same rows when duplicate edges are added; an
undirected one also when reversed copies and self-loops are added; and
reciprocity, though directed, ignores self-loops.  One tiny graph (two
triangles joined by a bridge, plus a chord) serves every case.
"""

import pytest

from pink_spider_spark.crawl import rank as K
from pink_spider_spark.functions import sketches as SK
from pink_spider_spark.functions import webtext as W

# node 2 has no in-edge, so only the symmetrized graph labels it 1 (CC)
EDGES = [(2, 1), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (1, 5)]
# (3, 1) without (3, 4): a repeat shifts node 3's out-degree shares
DUPLICATES = [(2, 1), (3, 1), (5, 6)]
REVERSED = [(b, a) for a, b in EDGES[::2]]
SELF_LOOPS = [(2, 2), (6, 6)]


def _nodes(spark):
    return spark.createDataFrame([(n,) for n in range(1, 7)], ["node"])


DIRECTED = {
    "pagerank": lambda spark, e: K.pagerank(e, iters=2),
    "trustrank": lambda spark, e: K.trustrank(
        e, spark.createDataFrame([(3,)], ["node"]), iters=2),
    "hits": lambda spark, e: K.hits(e, iters=1),
    "opic": lambda spark, e: K.opic(e, iters=2),
    "salsa": lambda spark, e: K.salsa(e, iters=1),
}
UNDIRECTED = {
    "connected_components": lambda spark, e: W.connected_components(
        _nodes(spark), e),
    "label_propagation": lambda spark, e: W.label_propagation(
        _nodes(spark), e, rounds=2),
    "triangle_counts": lambda spark, e: W.triangle_counts(e),
    "bfs_hops": lambda spark, e: W.bfs_hops(_nodes(spark), e, source=1,
                                            rounds=2),
    "coreness": lambda spark, e: W.coreness(None, e, rounds=2),
    "harmonic_exact": lambda spark, e: W.harmonic_exact(None, e, rounds=2),
    "adamic_adar": lambda spark, e: W.adamic_adar(e, min_common=1),
    "assortativity": lambda spark, e: W.assortativity(e),
    "hyperball": lambda spark, e: SK.hyperball(None, e, rounds=2),
}
CASES = (
    [(name, op, DUPLICATES) for name, op in DIRECTED.items()]
    + [(name, op, DUPLICATES + REVERSED + SELF_LOOPS)
       for name, op in UNDIRECTED.items()]
    + [("reciprocity", lambda spark, e: W.reciprocity(e),
        DUPLICATES + SELF_LOOPS)])


@pytest.mark.parametrize("op,extra", [c[1:] for c in CASES],
                         ids=[c[0] for c in CASES])
def test_operator_reads_the_distinct_edge_set(spark, op, extra):
    def rows(edges):
        df = spark.createDataFrame(edges, ["src", "dst"])
        return sorted(tuple(r) for r in op(spark, df).collect())

    plain = rows(EDGES)
    assert plain
    assert rows(EDGES + extra) == plain
