"""Golden-graph tests mirroring the reference's manual-verification method
(SURVEY.md §5): tiny hand-checkable graphs with analytically known answers.
Fixture topologies from FIXTURES.md §1."""

import math

import pytest
from pyspark.sql import functions as F

from graphmapreduce_spark.graph import PropertyGraph
from graphmapreduce_spark.graph import algorithms as alg
from graphmapreduce_spark.graph import pregel


def make_graph(spark, rows, default_value=0.0):
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    return PropertyGraph.from_edges(e, default_value=default_value)


# g_path5: 1→2→3→4→5 weights 1,2,3,4 — SSSP golden [0,1,3,6,10]
PATH5 = [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 3.0), (4, 5, 4.0)]

# g_k4: complete graph on 4 vertices (both directions) — 4 triangles
K4 = [
    (a, b, 1.0)
    for a in range(1, 5)
    for b in range(1, 5)
    if a != b
]

# g_2cc: two disjoint chains {1..4} and {5..8}
TWO_CC = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (5, 6, 1.0), (6, 7, 1.0), (7, 8, 1.0)]

# g_cycle (ref graph/3line.graph): 1→2, 2→3, 3→2 — PageRank spider trap
CYCLE = [(1, 2, 1.0), (2, 3, 1.0), (3, 2, 1.0)]


def test_sssp_path(spark, graph_tiers):
    for _ in graph_tiers():
        g = make_graph(spark, PATH5)
        d = {r["id"]: r["distance"] for r in alg.sssp(g, 1).collect()}
        assert d == {1: 0.0, 2: 1.0, 3: 3.0, 4: 6.0, 5: 10.0}


def test_sssp_unreachable(spark, graph_tiers):
    for _ in graph_tiers():
        g = make_graph(spark, TWO_CC)
        d = {r["id"]: r["distance"] for r in alg.sssp(g, 1).collect()}
        assert d[4] == 3.0
        assert math.isinf(d[5]) and math.isinf(d[8])


def test_bfs_levels(spark, graph_tiers):
    for _ in graph_tiers():
        g = make_graph(spark, TWO_CC)
        lv = {r["id"]: r["level"] for r in alg.bfs(g, 5).collect()}
        assert lv == {1: -1, 2: -1, 3: -1, 4: -1, 5: 0, 6: 1, 7: 2, 8: 3}


def test_triangle_count_k4(spark):
    g = make_graph(spark, K4)
    assert alg.triangle_count(g) == 4
    per = {r["id"]: r["triangles"] for r in alg.triangles_per_vertex(g).collect()}
    assert per == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_path_has_none(spark):
    g = make_graph(spark, PATH5)
    assert alg.triangle_count(g) == 0


def test_wcc_two_components(spark, graph_tiers):
    for _ in graph_tiers():
        g = make_graph(spark, TWO_CC)
        c = {r["id"]: r["component"] for r in alg.connected_components(g).collect()}
        assert c == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 5}


def test_pagerank_cycle_sums_to_one(spark, graph_tiers):
    for _ in graph_tiers():
        g = make_graph(spark, CYCLE)
        pr = alg.pagerank(g, damping=0.85, max_iter=50, threshold=1e-10)
        rows = {r["id"]: r["rank"] for r in pr.collect()}
        assert abs(sum(rows.values()) - 1.0) < 1e-6
        # spider trap 2↔3 absorbs most mass; 1 only gets teleport share
        assert rows[1] < rows[2] < rows[3] or rows[1] < rows[3]


def test_pagerank_uniform_on_symmetric(spark, graph_tiers):
    for _ in graph_tiers():
        g = make_graph(spark, K4)
        pr = {r["id"]: r["rank"] for r in alg.pagerank(g, max_iter=30).collect()}
        for v in pr.values():
            assert abs(v - 0.25) < 1e-6


def test_scc_cycle(spark):
    # 1→2→3→1 is an SCC; 4 hangs off it
    g = make_graph(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0)])
    c = {r["id"]: r["component"] for r in alg.strongly_connected_components(g).collect()}
    assert c[1] == c[2] == c[3]
    assert c[4] != c[1]


def test_scc_chain_peels_in_few_rounds(spark):
    """A directed chain is 200 singleton SCCs.  The unique-(f,b)-pair
    peel must take them all in one round — the old f==b-only rule
    degenerated to one peel per round (round-1 verdict scale-killer)."""
    n = 200
    rows = [(i, i + 1, 1.0) for i in range(1, n)]
    g = make_graph(spark, rows)
    df, rounds = alg.strongly_connected_components(g, return_rounds=True)
    c = {r["id"]: r["component"] for r in df.collect()}
    assert c == {i: i for i in range(1, n + 1)}
    assert rounds <= 3, rounds


def test_scc_reversed_chain_and_shared_pairs(spark):
    # reversed-id chain: singleton SCCs whose b-label (not f) is constant
    rows = [(i + 1, i, 1.0) for i in range(1, 50)]
    g = make_graph(spark, rows)
    df, rounds = alg.strongly_connected_components(g, return_rounds=True)
    c = {r["id"]: r["component"] for r in df.collect()}
    assert c == {i: i for i in range(1, 51)}
    assert rounds <= 3, rounds

    # 5 and 6 share the (f,b)=(1,2) pair without being one SCC: the
    # pair rule must NOT merge them, and round 2 must resolve them
    g2 = make_graph(
        spark, [(1, 5, 1.0), (5, 2, 1.0), (1, 6, 1.0), (6, 2, 1.0)]
    )
    c2 = {
        r["id"]: r["component"]
        for r in alg.strongly_connected_components(g2).collect()
    }
    assert c2 == {1: 1, 2: 2, 5: 5, 6: 6}


def test_scc_mixed_cycles_and_tails(spark):
    # two 3-cycles joined by a path, plus a dangling tail
    rows = (
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)]
        + [(3, 10, 1.0), (10, 11, 1.0)]
        + [(11, 12, 1.0), (12, 13, 1.0), (13, 11, 1.0)]
        + [(13, 99, 1.0)]
    )
    g = make_graph(spark, rows)
    df, rounds = alg.strongly_connected_components(g, return_rounds=True)
    c = {r["id"]: r["component"] for r in df.collect()}
    assert c[1] == c[2] == c[3] == 1
    assert c[11] == c[12] == c[13] == 11
    assert c[10] == 10 and c[99] == 99
    assert rounds <= 3, rounds


def test_scc_incomplete_raises(spark):
    # max_outer=0 runs zero peel rounds -> leftovers must raise, and the
    # sentinel mode must label them -1 instead of dropping them
    g = make_graph(spark, [(1, 2, 1.0), (2, 1, 1.0)])
    with pytest.raises(RuntimeError, match="max_outer"):
        alg.strongly_connected_components(g, max_outer=0)
    c = {
        r["id"]: r["component"]
        for r in alg.strongly_connected_components(
            g, max_outer=0, on_incomplete="sentinel"
        ).collect()
    }
    assert c == {1: -1, 2: -1}


def test_component_labels_exceed_double_mantissa(spark, graph_tiers):
    """Ids above 2^53 are not representable in a double; labels must
    survive exactly (they are kept long end-to-end)."""
    for _ in graph_tiers():
        base = 1 << 60
        rows = [
            (base + 1, base + 2, 1.0),
            (base + 3, base + 4, 1.0),
        ]
        g = make_graph(spark, rows)
        c = {r["id"]: r["component"] for r in alg.connected_components(g).collect()}
        # a double round-trip would collapse base+1 and base+3 to the same
        # label and merge the two components
        assert c[base + 1] == c[base + 2] == base + 1
        assert c[base + 3] == c[base + 4] == base + 3
        s = {
            r["id"]: r["component"]
            for r in alg.strongly_connected_components(g).collect()
        }
        assert len(set(s.values())) == 4


def test_matmul_identity(spark):
    a = spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 3.0), (2, 1, 4.0)], "i long, k long, v double"
    )
    ident = spark.createDataFrame([(1, 1, 1.0), (2, 2, 1.0)], "k long, j long, v double")
    out = {(r["i"], r["j"]): r["v"] for r in alg.matmul(a, ident).collect()}
    assert out == {(1, 1): 2.0, (1, 2): 3.0, (2, 1): 4.0}


def test_boruvka_mst_path(spark):
    # MST of a path is the path itself
    g = make_graph(spark, PATH5)
    mst = alg.boruvka_mst(g)
    total = mst.agg(F.sum("weight")).first()[0]
    assert total == 10.0
    assert mst.count() == 4


def test_boruvka_mst_cycle_drops_heaviest(spark):
    rows = [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 3.0), (4, 1, 10.0)]
    g = make_graph(spark, rows)
    mst = alg.boruvka_mst(g)
    total = mst.agg(F.sum("weight")).first()[0]
    assert total == 6.0


def test_kmeans_two_obvious_clusters(spark):
    pts = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),
            (2, [0.1, 0.0]),
            (3, [0.0, 0.1]),
            (10, [5.0, 5.0]),
            (11, [5.1, 5.0]),
            (12, [5.0, 5.1]),
        ],
        "id long, vec array<double>",
    )
    out = alg.kmeans(pts, k=2, max_iter=10)
    c = {r["id"]: r["cluster"] for r in out.collect()}
    assert c[1] == c[2] == c[3]
    assert c[10] == c[11] == c[12]
    assert c[1] != c[10]


def test_kmeans_sorted_clustered_input_recovers_all_clusters(spark):
    """Hash-spread seeding regression: on id-sorted clustered input,
    first-k-by-id seeding would draw all k seeds from the FIRST true
    cluster and routinely collapse the rest; hash-ordered seeds are
    spread across the input, and Lloyd's recovers the planted 3-way
    partition."""
    rows = []
    for c, (cx, cy) in enumerate([(0.0, 0.0), (10.0, 10.0), (20.0, 0.0)]):
        for i in range(10):
            rows.append(
                (c * 10 + i + 1, [cx + 0.01 * i, cy + 0.013 * i])
            )
    pts = spark.createDataFrame(rows, "id long, vec array<double>")
    out = alg.kmeans(pts, k=3, max_iter=15)
    got = {r["id"]: r["cluster"] for r in out.collect()}
    labels = []
    for c in range(3):
        ids = [c * 10 + i + 1 for i in range(10)]
        ls = {got[i] for i in ids}
        assert len(ls) == 1, (c, got)
        labels.append(ls.pop())
    assert len(set(labels)) == 3, labels


def test_pregel_check_interval_equivalent(spark, graph_tiers):
    """Chunked vote-to-halt (check_interval>1) must land on the same
    fixpoint as per-superstep checking for idempotent (min/cover)
    updates — overshoot past convergence changes nothing.  Checked on
    both tiers of graph/."""
    for _ in graph_tiers():
        _check_interval_equivalent(spark)


def _check_interval_equivalent(spark):
    g = make_graph(spark, PATH5)
    base = {r["id"]: r["distance"] for r in alg.sssp(g, source=1).collect()}
    chunk = {
        r["id"]: r["distance"]
        for r in alg.sssp(g, source=1, check_interval=3).collect()
    }
    assert chunk == base

    g2 = make_graph(spark, TWO_CC)
    cc1 = {r["id"]: r["component"]
           for r in alg.connected_components(g2).collect()}
    cc3 = {r["id"]: r["component"]
           for r in alg.connected_components(g2, check_interval=3).collect()}
    assert cc3 == cc1

    # pagerank: fixed iteration count must be exact under chunking
    g3 = make_graph(spark, CYCLE)
    pr1 = {r["id"]: round(r["rank"], 9)
           for r in alg.pagerank(g3, max_iter=6, threshold=0.0).collect()}
    pr3 = {r["id"]: round(r["rank"], 9)
           for r in alg.pagerank(
               g3, max_iter=6, threshold=0.0, check_interval=3
           ).collect()}
    assert pr3 == pr1


def test_locality_partition_reduces_cut(spark):
    """Balanced LPA on two cliques bridged by one edge: the partitioner
    must put each clique in one part (cut=1, the bridge), improving on
    the expected ~half-cut of hash placement, while staying balanced."""
    from graphmapreduce_spark.graph.partitioning import (
        edge_cut,
        locality_partition,
    )

    clique_a = [(a, b, 1.0) for a in range(1, 7) for b in range(1, 7) if a != b]
    clique_b = [
        (a, b, 1.0) for a in range(11, 17) for b in range(11, 17) if a != b
    ]
    bridge = [(6, 11, 1.0)]
    g = make_graph(spark, clique_a + clique_b + bridge)

    parts = locality_partition(g, num_parts=2, max_iter=8)
    rows = {r["id"]: r["part"] for r in parts.collect()}
    pa = {rows[i] for i in range(1, 7)}
    pb = {rows[i] for i in range(11, 17)}
    assert len(pa) == 1 and len(pb) == 1 and pa != pb, rows

    sym = g.edges.select("src", "dst").unionByName(
        g.edges.selectExpr("dst as src", "src as dst")
    )
    assert edge_cut(sym, parts) // 2 == 1


def test_k_core_golden(spark):
    """K4 with a pendant tail: 3-core = exactly the K4 (degree 3 inside
    the core); the tail (and its bridge endpoint's extra degree) peels
    away.  A path graph has no 2-core at all."""
    from graphmapreduce_spark.graph.algorithms import k_core
    from graphmapreduce_spark.graph.property_graph import PropertyGraph

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tail = [(4, 5), (5, 6)]
    g = PropertyGraph.from_edges(
        spark.createDataFrame(k4 + tail, "src long, dst long")
    )
    got = {r["id"]: r["core_degree"] for r in k_core(g, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    path = PropertyGraph.from_edges(
        spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    )
    assert k_core(path, k=2).count() == 0


def test_coreness_golden_and_kcore_consistency(spark):
    """Full decomposition on K5 + tail: clique vertices have coreness
    4, the tail 1; and for every k the {coreness >= k} set equals the
    k_core membership (the defining cross-invariant)."""
    from graphmapreduce_spark.graph.algorithms import coreness, k_core
    from graphmapreduce_spark.graph.property_graph import PropertyGraph

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    tail = [(4, 5), (5, 6)]
    g = PropertyGraph.from_edges(
        spark.createDataFrame(k5 + tail, "src long, dst long")
    )
    got = {r["id"]: r["coreness"] for r in coreness(g).collect()}
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4, 5: 1, 6: 1}

    # both methods must agree (h-index propagation vs level peeling)
    peel = {
        r["id"]: r["coreness"] for r in coreness(g, method="peel").collect()
    }
    assert peel == got

    for k in (1, 2, 3, 4):
        members = {r["id"] for r in k_core(g, k=k).collect()}
        assert members == {v for v, c in got.items() if c >= k}, k

    # a path has max coreness 1; endpoints included
    path = PropertyGraph.from_edges(
        spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    )
    pc = {r["id"]: r["coreness"] for r in coreness(path).collect()}
    assert pc == {1: 1, 2: 1, 3: 1, 4: 1}


def test_louvain_recovers_planted_communities(spark):
    """Two K5s joined by one bridge edge: Louvain local moving must
    place each clique in one community (and the two in different
    ones), with modularity at least matching label propagation's on
    the same graph."""
    from graphmapreduce_spark.graph.algorithms import (
        label_propagation,
        louvain,
        modularity,
    )
    from graphmapreduce_spark.graph.property_graph import PropertyGraph

    k5a = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    k5b = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    g = PropertyGraph.from_edges(
        spark.createDataFrame(k5a + k5b + [(4, 10)], "src long, dst long")
    )
    got = {r["id"]: r["community"] for r in louvain(g).collect()}
    ca = {got[i] for i in range(5)}
    cb = {got[i] for i in range(10, 15)}
    assert len(ca) == 1 and len(cb) == 1 and ca != cb, got

    assign = spark.createDataFrame(
        [(k, v) for k, v in got.items()], "id long, community long"
    )
    q_louvain = modularity(g, assign).first()["modularity"]
    lp = label_propagation(g, max_iter=8).select(
        "id", F.col("label").alias("community")
    )
    q_lp = modularity(g, lp).first()["modularity"]
    assert q_louvain >= q_lp - 1e-9
    assert q_louvain > 0.3


def test_louvain_disconnected_components(spark):
    """Two DISJOINT K5s (no bridge): after level-1 each clique
    contracts to a super-vertex whose only edge is its own self-loop —
    it has no move candidates at level 2 and must KEEP its community,
    not vanish (regression: an inner join on the move result dissolved
    every disconnected community into singletons at levels=2, dropping
    modularity from 0.5 to −0.1)."""
    from graphmapreduce_spark.graph.algorithms import louvain, modularity
    from graphmapreduce_spark.graph.property_graph import PropertyGraph

    k5a = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    k5b = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    g = PropertyGraph.from_edges(
        spark.createDataFrame(k5a + k5b, "src long, dst long")
    )
    for levels in (1, 2, 3):
        got = {
            r["id"]: r["community"]
            for r in louvain(g, levels=levels).collect()
        }
        assert len(got) == 10, (levels, got)
        ca = {got[i] for i in range(5)}
        cb = {got[i] for i in range(10, 15)}
        assert len(ca) == 1 and len(cb) == 1 and ca != cb, (levels, got)
        assign = spark.createDataFrame(
            [(k, v) for k, v in got.items()], "id long, community long"
        )
        q = modularity(g, assign).first()["modularity"]
        assert abs(q - 0.5) < 1e-9, (levels, q)


def test_louvain_ring_of_cliques(spark):
    """Classic ring-of-cliques fixture: 4 K4s in a ring — local moving
    recovers exactly the 4 cliques as communities."""
    from graphmapreduce_spark.graph.algorithms import louvain
    from graphmapreduce_spark.graph.property_graph import PropertyGraph

    edges = []
    for c in range(4):
        base = 10 * c
        ids = list(range(base, base + 4))
        edges += [(a, b) for a in ids for b in ids if a < b]
    # ring bridges: last of clique c -> first of clique c+1
    for c in range(4):
        edges.append((10 * c + 3, 10 * ((c + 1) % 4)))
    g = PropertyGraph.from_edges(
        spark.createDataFrame(edges, "src long, dst long")
    )
    got = {r["id"]: r["community"] for r in louvain(g).collect()}
    comms = set()
    for c in range(4):
        ids = [10 * c + i for i in range(4)]
        labels = {got[i] for i in ids}
        assert len(labels) == 1, (c, got)
        comms |= labels
    assert len(comms) == 4

    # coarsening must never lower modularity: a singleton super-vertex
    # rejects negative-gain merges (the stay-baseline contract)
    from graphmapreduce_spark.graph.algorithms import modularity

    def q_of(levels):
        assign = louvain(g, levels=levels).select(
            "id", F.col("community")
        )
        return modularity(g, assign).first()["modularity"]

    assert q_of(2) >= q_of(1) - 1e-9


def test_diameter_double_sweep_goldens(spark):
    """Exact on trees (path P5 → 4, star → 2); tight on the C6 cycle
    (→ 3, the true diameter).  Graphs are symmetrized per the
    bfs/sssp directed-edge contract."""
    from graphmapreduce_spark.graph.algorithms import diameter_double_sweep
    from graphmapreduce_spark.graph.property_graph import PropertyGraph

    def und(pairs):
        e = spark.createDataFrame(pairs, "src long, dst long")
        sym = e.unionByName(e.selectExpr("dst as src", "src as dst"))
        return PropertyGraph.from_edges(sym)

    p5 = und([(1, 2), (2, 3), (3, 4), (4, 5)])
    row = diameter_double_sweep(p5).first()
    assert row["diameter_lb"] == 4

    c6 = und([(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)])
    assert diameter_double_sweep(c6).first()["diameter_lb"] == 3

    star = und([(0, i) for i in range(1, 6)])
    assert diameter_double_sweep(star).first()["diameter_lb"] == 2


def test_personalized_pagerank_localizes_to_seed(spark, graph_tiers):
    """Two disjoint triangles; restarting at vertex 1 puts ALL mass in
    its triangle and none in the other; rank sums to ~1."""
    from graphmapreduce_spark.graph.algorithms import personalized_pagerank
    from graphmapreduce_spark.graph.property_graph import PropertyGraph

    for _ in graph_tiers():
        tri_a = [(1, 2), (2, 3), (3, 1)]
        tri_b = [(10, 11), (11, 12), (12, 10)]
        g = PropertyGraph.from_edges(
            spark.createDataFrame(tri_a + tri_b, "src long, dst long")
        )
        pr = {
            r["id"]: r["rank"]
            for r in personalized_pagerank(
                g, sources=[1], max_iter=30, threshold=1e-10
            ).collect()
        }
        assert abs(sum(pr.values()) - 1.0) < 1e-6
        assert pr[10] == pr[11] == pr[12] == 0.0
        assert pr[1] > pr[2] > 0  # seed holds the most mass
        assert pr[3] > 0


def test_label_propagation_two_cliques(spark):
    """Two K4s joined by one bridge edge: every vertex adopts its
    clique's min id; the bridge doesn't merge them (one vote vs three)."""
    from graphmapreduce_spark.graph.algorithms import label_propagation
    from graphmapreduce_spark.graph.property_graph import PropertyGraph

    def k4(base):
        vs = [base + i for i in range(4)]
        return [(a, b) for a in vs for b in vs if a < b]

    g = PropertyGraph.from_edges(
        spark.createDataFrame(
            k4(1) + k4(11) + [(4, 11)], "src long, dst long"
        )
    )
    labels = {
        r["id"]: r["label"]
        for r in label_propagation(g, max_iter=4).collect()
    }
    assert {labels[i] for i in (1, 2, 3, 4)} == {1}
    assert {labels[i] for i in (11, 12, 13, 14)} == {11}


def test_k_truss_k4_with_tail(spark):
    # K4 plus a pendant edge: every K4 edge closes exactly 2 triangles
    # (the 4-truss), the pendant edge closes none and is peeled
    edges = K4 + [(4, 5, 1.0)]
    g = make_graph(spark, edges)
    out = {(r["a"], r["b"]): r["support"] for r in alg.k_truss(g, k=4).collect()}
    assert out == {(1, 2): 2, (1, 3): 2, (1, 4): 2, (2, 3): 2, (2, 4): 2, (3, 4): 2}
    # k=5 needs support >= 3: K4 can't provide it -> empty truss
    assert alg.k_truss(g, k=5).isEmpty()


def test_k_truss_cascade(spark):
    # two triangles sharing an edge: each outer edge has support 1, the
    # shared edge 2 -> the 4-truss is empty only after the cascade
    # (remove outer edges round 1, shared edge loses both triangles)
    edges = [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0), (2, 4, 1.0), (3, 4, 1.0)]
    g = make_graph(spark, edges)
    assert alg.k_truss(g, k=4).isEmpty()
    out = {(r["a"], r["b"]) for r in alg.k_truss(g, k=3).select("a", "b").collect()}
    assert out == {(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)}


def test_maximal_independent_set_properties(spark):
    # path 1-2-3-4-5 plus isolated vertex 9 (via self-contained edge 9-9
    # being filtered, use a disconnected pair 9-10)
    edges = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 5, 1.0), (9, 10, 1.0)]
    g = make_graph(spark, edges)
    mis = {r["id"] for r in alg.maximal_independent_set(g).collect()}
    und = set()
    for a, b, _ in edges:
        und.add((a, b))
        und.add((b, a))
    # independence: no edge joins two MIS members
    assert not any((a, b) in und for a in mis for b in mis if a != b)
    # maximality: every non-member has a MIS neighbor
    vertices = {v for e in edges for v in e[:2]}
    for v in vertices - mis:
        assert any((v, m) in und for m in mis)
    assert len(mis & {9, 10}) == 1  # exactly one of the isolated pair


def test_deterministic_walks_stable_and_stop_at_sink(spark):
    g = make_graph(spark, PATH5)  # 1→2→3→4→5, 5 is a sink
    w1 = {(r["start"], r["step"]): r["node"] for r in alg.deterministic_walks(g, 3).collect()}
    w2 = {(r["start"], r["step"]): r["node"] for r in alg.deterministic_walks(g, 3).collect()}
    assert w1 == w2  # pure function of the graph
    # chain has one out-neighbor per node: the walk IS the path
    assert w1[(1, 0)] == 1 and w1[(1, 1)] == 2 and w1[(1, 3)] == 4
    # start=5 is a sink: only step 0 exists
    assert (5, 1) not in w1 and (5, 0) in w1
    # start=4 reaches the sink after one hop, then stops
    assert w1[(4, 1)] == 5 and (4, 2) not in w1


def test_clustering_coefficient_k4_and_path(spark):
    # K4: every vertex has degree 3 and sits in 3 triangles -> cc = 1
    g = make_graph(spark, K4)
    rows = {r["id"]: r for r in alg.clustering_coefficient(g).collect()}
    for v in (1, 2, 3, 4):
        assert rows[v]["degree"] == 3
        assert rows[v]["triangles"] == 3
        assert rows[v]["cc"] == 1.0
    # path: no triangles anywhere; endpoints have degree 1 -> cc 0
    p = make_graph(spark, PATH5)
    prow = {r["id"]: r for r in alg.clustering_coefficient(p).collect()}
    assert all(r["cc"] == 0.0 for r in prow.values())
    assert prow[1]["degree"] == 1 and prow[3]["degree"] == 2


def test_vertex_jaccard_shared_neighbors(spark):
    # 1 and 2 share neighbors {3,4}; deg(1)=deg(2)=2 (no 1-2 edge)
    # -> jaccard = 2 / (2+2-2) = 1.0; pair (3,4) shares {1,2} with
    # deg 2 each -> also 1.0
    edges = [(1, 3, 1.0), (1, 4, 1.0), (2, 3, 1.0), (2, 4, 1.0)]
    g = make_graph(spark, edges)
    rows = {(r["id_a"], r["id_b"]): r for r in alg.vertex_jaccard(g).collect()}
    assert rows[(1, 2)]["common"] == 2 and rows[(1, 2)]["jaccard"] == 1.0
    assert rows[(3, 4)]["common"] == 2 and rows[(3, 4)]["jaccard"] == 1.0
    # max_degree cap below 2 removes every center -> no pairs
    assert alg.vertex_jaccard(g, max_degree=1).count() == 0


def test_greedy_coloring_proper_and_bounded(spark):
    # C5 odd cycle: chromatic number 3, max degree 2 -> needs exactly
    # 3 colors and must never exceed Δ+1 = 3
    c5 = [(i, (i + 1) % 5, 1.0) for i in range(5)]
    g = make_graph(spark, c5)
    col = {r["id"]: r["color"] for r in alg.greedy_coloring(g).collect()}
    assert set(col) == {0, 1, 2, 3, 4}
    for a, b, _ in c5:
        assert col[a] != col[b]
    assert len(set(col.values())) == 3
    # K3,3 bipartite: proper, and the MIS peel finds the 2-coloring
    k33 = [(a, b, 1.0) for a in (1, 2, 3) for b in (4, 5, 6)]
    g2 = make_graph(spark, k33)
    col2 = {r["id"]: r["color"] for r in alg.greedy_coloring(g2).collect()}
    for a, b, _ in k33:
        assert col2[a] != col2[b]
    assert len(set(col2.values())) == 2
    # determinism: same graph -> same coloring
    col2b = {r["id"]: r["color"] for r in alg.greedy_coloring(g2).collect()}
    assert col2 == col2b


def test_adamic_adar_golden(spark):
    import math

    # square 1-3-2-4-1: pairs (1,2) and (3,4) are non-adjacent and
    # share two deg-2 neighbors each -> score = 2/ln(2); adjacent
    # pairs must NOT appear (link-prediction contract)
    edges = [(1, 3, 1.0), (1, 4, 1.0), (2, 3, 1.0), (2, 4, 1.0)]
    g = make_graph(spark, edges)
    rows = {(r["id_a"], r["id_b"]): r for r in alg.adamic_adar(g).collect()}
    assert set(rows) == {(1, 2), (3, 4)}
    for key in rows:
        assert rows[key]["common"] == 2
        assert abs(rows[key]["score"] - 2.0 / math.log(2.0)) < 1e-9
    # path 5-6-7: (5,7) shares only the deg-2 center 6 -> 1/ln(2);
    # degree-1 leaves can never be centers (ln 1 = 0 excluded)
    path = make_graph(spark, [(5, 6, 1.0), (6, 7, 1.0)])
    out = alg.adamic_adar(path).collect()
    assert len(out) == 1 and (out[0]["id_a"], out[0]["id_b"]) == (5, 7)
    assert abs(out[0]["score"] - 1.0 / math.log(2.0)) < 1e-9
    # min_common above anything present -> empty
    assert alg.adamic_adar(path, min_common=2).count() == 0


def test_degree_assortativity_star_is_negative(spark):
    # star K1,4: every edge links the deg-4 hub to a deg-1 leaf ->
    # perfectly disassortative (corr = -1)
    g = make_graph(spark, [(1, i, 1.0) for i in (2, 3, 4, 5)])
    r = alg.degree_assortativity(g).first()[0]
    assert abs(r - (-1.0)) < 1e-9


def test_degree_assortativity_regular_graph_is_null(spark):
    # 4-cycle: 2-regular, every endpoint degree equal -> zero variance
    # on both sides; assortativity is undefined and must come back
    # NULL (SQL corr semantics), NOT an ANSI DIVIDE_BY_ZERO throw
    g = make_graph(
        spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 1, 1.0)]
    )
    assert alg.degree_assortativity(g).first()[0] is None


def test_modularity_two_cliques(spark):
    # two triangles joined by one bridge edge; the 2-community split
    # along the bridge: m=7, e_c=3 each, a_c=7 each
    # Q = 2*(3/7 - (7/14)^2) = 6/7 - 1/2
    edges = [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0),
             (4, 5, 1.0), (5, 6, 1.0), (4, 6, 1.0), (3, 4, 1.0)]
    g = make_graph(spark, edges)
    comm = g.vertices.selectExpr("id", "CAST(id > 3 AS INT) AS community")
    q = alg.modularity(g, comm).first()[0]
    assert abs(q - (6.0 / 7.0 - 0.5)) < 1e-9
    # everyone in one community -> Q = 0
    one = g.vertices.selectExpr("id", "0 AS community")
    assert abs(alg.modularity(g, one).first()[0]) < 1e-9


def test_scc_chain_of_two_cycles_decomposes_logarithmically(spark):
    """A condensation CHAIN of 30 non-singleton SCCs (2-cycles
    A_i -> A_{i+1}) is the worst case for a pure min-label peel: only
    the class holding the prefix+suffix minimum fires, one SCC per
    round.  The cross-class edge cut must decompose the chain so it
    resolves in a handful of rounds instead of 30."""
    k = 30
    rows = []
    for i in range(k):
        a, b = 2 * i + 1, 2 * i + 2
        rows += [(a, b, 1.0), (b, a, 1.0)]          # the 2-cycle A_i
        if i + 1 < k:
            rows.append((b, 2 * i + 3, 1.0))        # A_i -> A_{i+1}
    g = make_graph(spark, rows)
    df, rounds = alg.strongly_connected_components(g, return_rounds=True)
    c = {r["id"]: r["component"] for r in df.collect()}
    for i in range(k):
        a, b = 2 * i + 1, 2 * i + 2
        assert c[a] == c[b] == a
    # distinct SCCs stay distinct
    assert len({c[2 * i + 1] for i in range(k)}) == k
    assert rounds <= 6, f"chain of {k} SCCs took {rounds} rounds"


def test_weighted_pagerank_hand_computed(spark, graph_tiers):
    """2-node closed form: A->B w=1, B->A w=1 is symmetric (rank 1/2
    each) regardless of weights on a symmetric graph; an asymmetric
    weighted star concentrates rank on the heavier target."""
    from graphmapreduce_spark.graph.property_graph import PropertyGraph

    for _ in graph_tiers():
        # A(1) splits rank 3:1 between B(2) and C(3); B,C return to A.
        e = spark.createDataFrame(
            [(1, 2, 3.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
            "src long, dst long, weight double",
        )
        g = PropertyGraph.from_edges(e)
        pr = {r["id"]: r["rank"] for r in alg.pagerank(
            g, damping=0.85, max_iter=40, threshold=1e-12, weighted=True
        ).collect()}
        assert abs(sum(pr.values()) - 1.0) < 1e-6
        assert pr[2] > pr[3]  # heavier edge -> more rank
        # closed form at fixpoint: r2 = base + d*(3/4)*r1, r3 = base + d*(1/4)*r1
        base = 0.15 / 3
        assert abs((pr[2] - base) / (pr[3] - base) - 3.0) < 1e-3
        # uniform weights must reproduce the unweighted result exactly
        eu = spark.createDataFrame(
            [(1, 2, 2.0), (1, 3, 2.0), (2, 1, 2.0), (3, 1, 2.0)],
            "src long, dst long, weight double",
        )
        gu = PropertyGraph.from_edges(eu)
        w = {r["id"]: r["rank"] for r in alg.pagerank(
            gu, max_iter=20, weighted=True).collect()}
        u = {r["id"]: r["rank"] for r in alg.pagerank(
            gu, max_iter=20, weighted=False).collect()}
        assert all(abs(w[k] - u[k]) < 1e-9 for k in u)


def test_hits_bipartite_golden(spark):
    # 1→3, 2→3: vertex 3 is the sole authority, 1 and 2 equal hubs.
    g = make_graph(spark, [(1, 3, 1.0), (2, 3, 1.0)])
    out = {r["id"]: (r["auth"], r["hub"]) for r in alg.hits(g, max_iter=4).collect()}
    assert out[3][0] == pytest.approx(1.0, abs=1e-9)
    assert out[3][1] == pytest.approx(0.0, abs=1e-9)
    s = 1.0 / math.sqrt(2.0)
    assert out[1] == pytest.approx((0.0, s), abs=1e-9)
    assert out[2] == pytest.approx((0.0, s), abs=1e-9)


def test_hits_norms_are_unit(spark):
    g = make_graph(
        spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (1, 3, 1.0)]
    )
    rows = alg.hits(g, max_iter=8).collect()
    a2 = sum(r["auth"] ** 2 for r in rows)
    h2 = sum(r["hub"] ** 2 for r in rows)
    assert a2 == pytest.approx(1.0, rel=1e-9)
    assert h2 == pytest.approx(1.0, rel=1e-9)


def test_closeness_path_golden(spark):
    # 1→2→3: from source 1, dist(2)=1 dist(3)=2; source never scores itself
    g = make_graph(spark, [(1, 2, 1.0), (2, 3, 1.0)])
    out = {
        r["id"]: (r["n_reached"], r["total_dist"], r["closeness"])
        for r in alg.closeness_centrality(g, [1]).collect()
    }
    assert 1 not in out
    assert out[2] == (1, 1, pytest.approx(1.0))
    assert out[3] == (1, 2, pytest.approx(0.5))


def test_closeness_multi_source(spark):
    # sources 1 and 2 both reach 3 (dists 2 and 1) -> closeness 2/3
    g = make_graph(spark, [(1, 2, 1.0), (2, 3, 1.0)])
    out = {
        r["id"]: (r["n_reached"], r["total_dist"])
        for r in alg.closeness_centrality(g, [1, 2]).collect()
    }
    assert out[3] == (2, 3)
    assert out[2] == (1, 1)


def test_betweenness_path_golden(spark):
    # 1→2→3→4 from source 1: δ(2)=2, δ(3)=1, δ(4)=0 (Brandes dependency)
    g = make_graph(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)])
    out = {
        r["id"]: r["betweenness"]
        for r in alg.betweenness_centrality(g, [1]).collect()
    }
    assert out == {2: pytest.approx(2.0), 3: pytest.approx(1.0), 4: pytest.approx(0.0)}


def test_betweenness_diamond_split_paths(spark):
    # 1→{2,3}→4: two shortest paths to 4 -> δ(2)=δ(3)=1/2, δ(4)=0
    g = make_graph(
        spark, [(1, 2, 1.0), (1, 3, 1.0), (2, 4, 1.0), (3, 4, 1.0)]
    )
    out = {
        r["id"]: r["betweenness"]
        for r in alg.betweenness_centrality(g, [1]).collect()
    }
    assert out[2] == pytest.approx(0.5)
    assert out[3] == pytest.approx(0.5)
    assert out[4] == pytest.approx(0.0)


def test_eccentricity_path(spark):
    g = make_graph(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)])
    out = {
        r["id"]: (r["eccentricity"], r["n_reached"])
        for r in alg.eccentricity(g, [1, 3]).collect()
    }
    assert out[1] == (3, 3)  # 1 reaches 2,3,4; farthest at dist 3
    assert out[3] == (1, 1)  # 3 reaches only 4


def test_edge_betweenness_path_golden(spark):
    # 1→2→3→4 from source 1: edge deps (1,2)=3, (2,3)=2, (3,4)=1
    g = make_graph(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)])
    out = {
        (r["src"], r["dst"]): r["betweenness"]
        for r in alg.edge_betweenness(g, [1]).collect()
    }
    assert out == {
        (1, 2): pytest.approx(3.0),
        (2, 3): pytest.approx(2.0),
        (3, 4): pytest.approx(1.0),
    }


def test_katz_path_closed_form(spark):
    # 1→2→3, alpha=.5, beta=1: fixpoint x=(1, 1.5, 1.75) reached by iter 3
    g = make_graph(spark, [(1, 2, 1.0), (2, 3, 1.0)])
    out = {
        r["id"]: r["katz"]
        for r in alg.katz_centrality(
            g, alpha=0.5, beta=1.0, max_iter=4
        ).collect()
    }
    assert out == {
        1: pytest.approx(1.0),
        2: pytest.approx(1.5),
        3: pytest.approx(1.75),
    }


def test_eigenvector_cycle_uniform(spark):
    # directed 3-cycle: uniform eigenvector 1/sqrt(3) each
    g = make_graph(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)])
    out = {
        r["id"]: r["eigenvector"]
        for r in alg.eigenvector_centrality(g, max_iter=6).collect()
    }
    s = 1.0 / math.sqrt(3.0)
    assert out == {
        1: pytest.approx(s), 2: pytest.approx(s), 3: pytest.approx(s)
    }


def test_reciprocity_half_mutual(spark):
    # edges: 1→2, 2→1 (mutual pair), 1→3 (one-way): 2 of 3 reciprocated
    g = make_graph(spark, [(1, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0)])
    r = alg.reciprocity(g).collect()[0]
    assert (r["n_edges"], r["n_mutual"]) == (3, 2)
    assert r["reciprocity"] == round(2 / 3, 6)


def test_multi_source_levels_equals_per_source_bfs(spark):
    # tagged frontier must reproduce per-source BFS levels exactly
    edges = [
        (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 5, 1.0),
        (5, 4, 1.0), (4, 6, 1.0), (7, 1, 1.0),
    ]
    g = make_graph(spark, edges)
    tagged = {
        (r["s"], r["id"]): r["level"]
        for r in alg.multi_source_levels(g, [1, 7, 4]).collect()
    }
    for s in (1, 7, 4):
        # bfs() reports unreachable vertices as level -1; the tagged
        # frontier emits only reached (s, id) pairs
        per = {
            (s, r["id"]): r["level"]
            for r in alg.bfs(g, s).collect()
            if r["level"] >= 0
        }
        sub = {k: v for k, v in tagged.items() if k[0] == s}
        assert sub == per, (s, sub, per)


def test_bipartite_project_hub_cap(spark):
    # right vertex 99 is a hub touching all 6 lefts; capping df at 3
    # removes it, leaving only the pair sharing the non-hub vertex 7
    rows = [(i, 99) for i in range(1, 7)] + [(1, 7), (2, 7)]
    e = spark.createDataFrame(rows, "src long, dst long")
    uncapped = alg.bipartite_project(e).collect()
    assert len(uncapped) == 15  # C(6,2) through the hub
    capped = {
        (r["a"], r["b"], r["common"])
        for r in alg.bipartite_project(e, max_df=3).collect()
    }
    assert capped == {(1, 2, 1)}


def test_lineage_severer_close_and_atexit_registration(spark):
    """close() removes the local scratch dir, is idempotent, and every
    severer is registered for atexit cleanup (regression: tempdirs
    leaked in /tmp past process exit)."""
    import os

    from graphmapreduce_spark.graph import sever as sv

    s = sv.LineageSeverer(spark, tag="testclose")
    assert s in sv._LIVE
    df = spark.range(5)
    out = s.sever(df)
    assert out.count() == 5
    assert os.path.isdir(s.dir)
    s.close()
    assert not os.path.exists(s.dir)
    assert s not in sv._LIVE
    s.close()  # idempotent
    # the atexit hook closes whatever is still live without raising
    s2 = sv.LineageSeverer(spark, tag="testatexit")
    sv._close_all()
    assert not os.path.exists(s2.dir)


def test_lineage_severer_dir_removed_at_exit_after_gc(spark):
    """A severer is a loop local: after its loop returns, only the
    frames it produced (read from its dir) outlive it.  The atexit hook
    must still remove the dir (regression: a weak registry dropped the
    garbage-collected severer, and its dir leaked past process exit)."""
    import gc
    import os

    from graphmapreduce_spark.graph import sever as sv

    def loop_local() -> str:
        s = sv.LineageSeverer(spark, tag="testgc")
        s.sever(spark.range(3))
        return s.dir

    d = loop_local()
    gc.collect()
    assert os.path.isdir(d)
    sv._close_all()
    assert not os.path.exists(d)


def test_sever_only_before_a_round_that_runs(
    spark, monkeypatch, distributed_tier
):
    """Severs happen at the START of a round, so the cap never buys one
    nobody reads: 10 pagerank supersteps sever 0 times, 11 sever once
    (before superstep 11).  Borůvka severs every round after the first:
    on the path 1-2-3-4 (weights 1, 5, 1) round 0 merges {1,2} and
    {3,4}, round 1 merges them, round 2 finds no crossing edge — rounds
    1 and 2 each sever comp and mst."""
    from graphmapreduce_spark.graph.sever import LineageSeverer

    calls = []
    orig = LineageSeverer.sever

    def counting(self, df):
        calls.append(df)
        return orig(self, df)

    monkeypatch.setattr(LineageSeverer, "sever", counting)
    g = make_graph(spark, PATH5 + [(5, 1, 1.0), (2, 4, 1.0)])
    alg.pagerank(g, max_iter=10, threshold=0.0).collect()
    assert len(calls) == 0
    alg.pagerank(g, max_iter=11, threshold=0.0).collect()
    assert len(calls) == 1
    calls.clear()
    path = make_graph(spark, [(1, 2, 1.0), (2, 3, 5.0), (3, 4, 1.0)])
    mst = {(r["src"], r["dst"]) for r in alg.boruvka_mst(path).collect()}
    assert mst == {(1, 2), (2, 3), (3, 4)}
    assert len(calls) == 4


def test_maximal_matching_invariants_and_goldens(spark):
    """Mutual-minimum handshake matching: disjoint edges, MAXIMALITY
    (no surviving edge between two unmatched vertices), and exact
    goldens on a path and a star."""
    # path 1-2-3-4: round 1 matches (1,2); round 2 matches (3,4)
    g = make_graph(spark, PATH5[:3])  # edges 1-2,2-3,3-4
    m = {(r["a"], r["b"]) for r in alg.maximal_matching(g).collect()}
    assert m == {(1, 2), (3, 4)}
    # star 1-{2..6}: exactly one matched edge, (1,2)
    star = make_graph(spark, [(1, i, 1.0) for i in range(2, 7)])
    ms = {(r["a"], r["b"]) for r in alg.maximal_matching(star).collect()}
    assert ms == {(1, 2)}
    # K4 both directions: 2 disjoint edges, all 4 vertices covered
    k4 = make_graph(spark, K4)
    mk = {(r["a"], r["b"]) for r in alg.maximal_matching(k4).collect()}
    touched = [v for e in mk for v in e]
    assert len(mk) == 2 and len(touched) == len(set(touched)) == 4
    # maximality on a random-ish graph: no edge joins two unmatched
    rows = [(i, (i * 7) % 23 + 1, 1.0) for i in range(1, 23)
            if i != (i * 7) % 23 + 1]
    gr = make_graph(spark, rows)
    mm = {(r["a"], r["b"]) for r in alg.maximal_matching(gr).collect()}
    matched_v = {v for e in mm for v in e}
    assert len(matched_v) == 2 * len(mm)  # disjoint
    for s, d, _ in rows:
        assert s in matched_v or d in matched_v, (s, d, mm)


def test_maximal_matching_drains_on_final_round(spark):
    """ADVICE r05: a matching that drains EXACTLY during the last
    allowed round must return, not raise — the old for/else fired the
    non-drain error even when the residual edge set was empty."""
    g = make_graph(spark, [(1, 2, 1.0)])  # drains in exactly 1 round
    m = {(r["a"], r["b"]) for r in alg.maximal_matching(g, max_iter=1).collect()}
    assert m == {(1, 2)}
    # a genuinely undrained graph still raises: path 1-2-3-4 needs 2
    import pytest as _pytest

    p = make_graph(spark, PATH5[:3])
    with _pytest.raises(RuntimeError, match="did not drain"):
        alg.maximal_matching(p, max_iter=1)


# ---------------------------------------------------------------------------
# connected_components_contract — alternating star contraction
# ---------------------------------------------------------------------------
def _labels(df):
    return sorted((r["id"], r["component"]) for r in df.collect())


def test_cc_contract_matches_min_label_on_random_graphs(spark, graph_tiers):
    """Same (id, component=min id) contract as connected_components,
    checked on three seeded random graphs."""
    import random

    for _ in graph_tiers():
        for seed in (7, 42, 99):
            rng = random.Random(seed)
            rows = [
                (rng.randrange(40), rng.randrange(40), 1.0) for _ in range(60)
            ]
            rows = [(a, b, w) for a, b, w in rows if a != b] or [(0, 1, 1.0)]
            g = make_graph(spark, rows)
            want = _labels(alg.connected_components(g))
            got = _labels(alg.connected_components_contract(g))
            assert got == want, f"seed {seed}"


def test_cc_contract_long_path_few_rounds(spark):
    """The raison d'etre: a 200-vertex path is diameter 199 — min-label
    would need ~200 supersteps; contraction must land the single
    component well inside 60 rounds (O(log n))."""
    rows = [(i, i + 1, 1.0) for i in range(1, 200)]
    g = make_graph(spark, rows)
    out = alg.connected_components_contract(g)
    comps = {r["component"] for r in out.collect()}
    assert comps == {1}
    assert out.count() == 200


def test_cc_contract_disconnected_and_isolated(spark):
    """Two chains + an isolated vertex: labels are per-component minima
    and the isolated vertex labels itself."""
    rows = [(1, 2, 1.0), (2, 3, 1.0), (10, 11, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    v = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "id long")
    g = PropertyGraph(v.withColumn("value", F.lit(0.0)), e)
    got = _labels(alg.connected_components_contract(g))
    assert got == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (99, 99)]


def test_cc_contract_raises_without_fixpoint(spark):
    g = make_graph(spark, [(i, i + 1, 1.0) for i in range(1, 40)])
    with pytest.raises(RuntimeError):
        alg.connected_components_contract(g, max_rounds=1)


# ---------------------------------------------------------------------------
# connected_components above the driver budget — round-budget handoff
# between the min-label frontier loop (low diameter) and star contraction
# (high diameter), VERDICT r06 task 4
# ---------------------------------------------------------------------------
def test_cc_auto_low_diameter_stays_on_min_label(spark, distributed_tier):
    """Diameter-3 chains converge well inside the default budget: the
    auto path must stay on min-label (no contraction rounds) and match
    the golden labels."""
    g = make_graph(spark, TWO_CC)
    stats = {}
    c = {
        r["id"]: r["component"]
        for r in alg.connected_components(g, stats=stats).collect()
    }
    assert c == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 5}
    assert stats["path"] == "minlabel"
    assert "rounds" not in stats  # contraction never ran


def test_cc_auto_high_diameter_hands_off_to_contraction(
    spark, monkeypatch, distributed_tier
):
    """A 120-vertex path (diameter 119) under a 5-superstep budget must
    hand off to star contraction and still produce exact labels."""
    monkeypatch.setattr(alg, "MIN_LABEL_BUDGET", 5)
    rows = [(i, i + 1, 1.0) for i in range(1, 120)]
    g = make_graph(spark, rows)
    stats = {}
    out = alg.connected_components(g, stats=stats)
    comps = {r["component"] for r in out.collect()}
    assert comps == {1}
    assert out.count() == 120
    assert stats["path"] == "contract"
    assert stats["minlabel_supersteps"] <= 5
    assert stats["rounds"] > 0  # contraction rounds recorded


def test_cc_contract_drops_non_vertex_endpoints(
    spark, monkeypatch, distributed_tier
):
    """Contraction takes only the edges with both endpoints in the vertex
    table, as min-label does: 7 and 8 are not vertices, so 3 and 4 stay
    apart and neither 7 nor 8 gets a row."""
    v = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 9)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (3, 7), (7, 4), (8, 1)], "src long, dst long"
    )
    g = PropertyGraph(v, e)
    want = {(1, 1), (2, 1), (3, 3), (4, 4), (9, 9)}
    stats = {}
    got = {tuple(r) for r in alg.connected_components(g, stats=stats).collect()}
    assert stats["path"] == "minlabel" and got == want
    monkeypatch.setattr(alg, "MIN_LABEL_BUDGET", 0)
    stats = {}
    got = {tuple(r) for r in alg.connected_components(g, stats=stats).collect()}
    assert stats["path"] == "contract" and got == want


def test_pregel_single_job_chunk_equivalent(spark, distributed_tier,
                                            monkeypatch):
    """The size-adaptive single-job chunk path (AQE suspended during
    chunk construction, shuffle-hash-hinted joins, one action per
    chunk) must land on the same fixpoint as the per-superstep AQE
    path.  Forced on via the vertex-count gate; both paths compared on
    SSSP (frontier, custom update) and WCC (min-label)."""
    g = make_graph(spark, PATH5)
    g2 = make_graph(spark, TWO_CC)
    base_d = {r["id"]: r["distance"] for r in alg.sssp(g, source=1).collect()}
    base_c = {r["id"]: r["component"]
              for r in alg.connected_components(g2).collect()}
    # force single-job chunks on tiny graphs
    monkeypatch.setattr(pregel, "SINGLE_JOB_MIN_VERTICES", 1)
    got_d = {
        r["id"]: r["distance"]
        for r in alg.sssp(g, source=1, check_interval=3).collect()
    }
    got_c = {
        r["id"]: r["component"]
        for r in alg.connected_components(g2, check_interval=3).collect()
    }
    assert got_d == base_d
    assert got_c == base_c
    # the context must restore session confs afterwards
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
