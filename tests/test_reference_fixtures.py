"""Parity tests on the reference's own shipped graph fixtures
(/root/reference/graph/, documented in its graph/README.md:12-23).

These are data files, not code: reading them proves the three readers
parse the reference's actual formats (METIS adjacency `graph.h:562-709`,
fmt-1111 subgraph `graph.h:677-699`, headered edge list
`partition.h:570-583`) and that the algorithms reproduce hand-checkable
golden results on the 10-vertex `small.graph` topology."""

import os

import pytest

from pyspark.sql import functions as F

from graphmapreduce_spark.graph import algorithms as alg
from graphmapreduce_spark.sources import (
    read_edge_list,
    read_metis,
    read_subgraph_files,
)

REF = "/root/reference/graph"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference fixtures not present"
)


def test_metis_small_graph_shape(spark):
    g = read_metis(spark, f"{REF}/small.graph")
    assert g.num_vertices() == 10
    # 10 undirected edges -> 20 directed adjacency entries
    assert g.edges.count() == 20
    # symmetry: every edge has its reverse
    e = g.edges.select("src", "dst")
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert e.exceptAll(rev).count() == 0


def test_subgraph_partitions_union_to_small_graph(spark):
    parts = [f"{REF}/small.graph.subgraph.{i}" for i in range(3)]
    g = read_subgraph_files(spark, parts)
    # partitioned fixture covers the same 10-vertex topology
    assert g.num_vertices() == 10
    assert g.edges.select("src", "dst").distinct().count() == 20


def test_edge_list_rdsmall_counts(spark):
    g = read_edge_list(spark, f"{REF}/rdsmall.graph")
    # header: 12 vertices, 24 edges (partition.h:570-583 two-line header)
    assert g.edges.count() == 24


def test_bfs_levels_on_small_graph(spark, graph_tiers):
    """Hand-computed: from vertex 1, neighbors {2,3,4,5,10} are level 1;
    {6,7} (via 2) and {8,9} (via 3) are level 2."""
    for _ in graph_tiers():
        g = read_metis(spark, f"{REF}/small.graph")
        lv = {r["id"]: r["level"] for r in alg.bfs(g, source=1).collect()}
        assert lv[1] == 0
        for v in (2, 3, 4, 5, 10):
            assert lv[v] == 1, v
        for v in (6, 7, 8, 9):
            assert lv[v] == 2, v


def test_pagerank_on_small_graph_sums_to_one(spark, graph_tiers):
    for _ in graph_tiers():
        g = read_metis(spark, f"{REF}/small.graph")
        pr = alg.pagerank(g, damping=0.85, max_iter=30, threshold=1e-10)
        total = pr.agg(F.sum("rank")).first()[0]
        assert abs(total - 1.0) < 1e-6
        ranks = {r["id"]: r["rank"] for r in pr.collect()}
        # vertex 1 has the highest degree (5) -> highest rank
        assert max(ranks, key=ranks.get) == 1


def test_triangle_count_small_graph(spark):
    """small.graph's only triangle is {1,2,3} (2 and 3 adjacent to each
    other and both to 1; all other vertices are degree-1 leaves)."""
    g = read_metis(spark, f"{REF}/small.graph")
    assert alg.triangle_count(g) == 1
