"""The two execution tiers of ``graph/`` give the same answers.

``pagerank``, ``personalized_pagerank``, ``sssp``, ``bfs`` and
``connected_components`` run a graph within the driver budget as numpy
on the driver (tier (a)) and any other graph as Spark supersteps.  Each
case below runs under the default budget and under budget 0, which turns
tier (a) off: distances, levels and components must be equal, ranks
equal to a relative 1e-12, schemas equal, nullability included."""

import itertools
import math
from contextlib import contextmanager, nullcontext

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphmapreduce_spark.graph import PropertyGraph
from graphmapreduce_spark.graph import algorithms as alg
from graphmapreduce_spark.graph import iterate, pregel
from graphmapreduce_spark.sources import read_edge_list

EDGES = "src long, dst long, weight double"


def _edges(spark, rows):
    return spark.createDataFrame(rows, EDGES)


def _from_edges(spark, rows):
    return PropertyGraph.from_edges(_edges(spark, rows))


def _with_vertices(spark, ids, rows):
    v = spark.createDataFrame([(i,) for i in ids], "id long")
    return PropertyGraph(v, _edges(spark, rows))


def _isolated(spark):
    """Vertex-supplied graph: 6 and 9 have no edges at all."""
    return _with_vertices(
        spark, [1, 2, 3, 4, 5, 6, 9],
        [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.5), (3, 4, 1.0), (4, 5, 4.0)],
    )


def _foreign_endpoints(spark):
    """Edges to and from ids that are not vertices (7, 8): the joins
    drop them, but 3's edge to 7 still counts in its out-degree."""
    return _with_vertices(
        spark, [1, 2, 3],
        [(1, 2, 1.0), (2, 3, 1.0), (3, 7, 1.0), (3, 1, 2.0), (8, 1, 1.0)],
    )


def _null_endpoints(spark):
    """from_edges over edges with null endpoints: the vertex set gets a
    null id, which no edge reaches."""
    return _from_edges(
        spark,
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (1, None, 1.0),
         (None, 2, 1.0), (3, 4, 2.0)],
    )


def _dangling(spark):
    """Path with sinks 5 and 6; vertex 7's out-weights sum to 0, so it is
    dangling under ``weighted``."""
    return _from_edges(
        spark,
        [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 3.0), (4, 5, 4.0), (2, 6, 1.0),
         (7, 1, 1.0), (7, 3, -1.0), (1, 7, 0.5)],
    )


def _negative(spark):
    """Negative weights: shortest paths through them; under ``weighted``
    vertex 4 has negative out-strength (neither sends nor is dangling)
    while 6's out-weights sum to 0 (dangling)."""
    return _from_edges(
        spark,
        [(1, 2, 4.0), (1, 3, 1.0), (3, 2, -2.0), (2, 4, 1.0), (4, 5, -3.0),
         (4, 1, 1.0), (5, 1, 4.0), (5, 6, 10.0), (6, 1, 2.0), (6, 3, -2.0)],
    )


def _loops_and_big_ids(spark):
    """Self-loops, duplicate edges, and ids above 2^53 that one double
    cannot tell apart (B+1, B+3): component labels must stay exact
    longs."""
    b = 1 << 60
    return _from_edges(
        spark,
        [(1, 2, 1.0), (2, 1, 1.0), (2, 1, 1.0), (1, 1, 1.0), (b + 5, b + 5, 1.0),
         (b + 3, b + 1, 2.0), (b + 3, b + 1, 2.0), (b + 3, b + 2, 1.0),
         (2, 3, 1.0), (3, 3, 1.0)],
    )


def _unreachable(spark):
    """Two chains: from 1, vertices 5-8 stay at +inf."""
    return _from_edges(
        spark,
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (5, 6, 1.0), (6, 7, 1.0),
         (7, 8, 1.0)],
    )


CASES = {
    "isolated": _isolated,
    "foreign_endpoints": _foreign_endpoints,
    "null_endpoints": _null_endpoints,
    "dangling": _dangling,
    "loops_and_big_ids": _loops_and_big_ids,
    "negative_weights": _negative,
    "unreachable": _unreachable,
}

RUNS = {
    "pagerank": lambda g: alg.pagerank(
        g, max_iter=6, threshold=0.0, check_interval=3
    ),
    "pagerank_weighted": lambda g: alg.pagerank(
        g, max_iter=15, threshold=1e-9, weighted=True
    ),
    # 99 is not a vertex: its restart share is lost on both tiers
    "ppr": lambda g: alg.personalized_pagerank(
        g, sources=[1, 99], max_iter=15, threshold=1e-9, check_interval=4
    ),
    "sssp": lambda g: alg.sssp(g, source=1),
    "bfs": lambda g: alg.bfs(g, source=1),
    "wcc": lambda g: alg.connected_components(g),
}


def _on_both_tiers(graph_tiers, fn):
    """[(frame, rows)] of ``fn`` on the driver tier, then the
    distributed tier."""
    out = []
    for _ in graph_tiers():
        df = fn()
        out.append((df, df.collect()))
    return out


def _by_id(rows):
    out = {}
    for r in rows:
        assert r[0] not in out, f"duplicate id {r[0]}"
        out[r[0]] = r[1]
    return out


def _assert_same(both, exact):
    (local, lrows), (dist, drows) = both
    assert local.schema == dist.schema
    got, want = _by_id(lrows), _by_id(drows)
    assert got.keys() == want.keys()
    for k, w in want.items():
        if exact:
            assert got[k] == w, (k, got[k], w)
        else:
            assert math.isclose(got[k], w, rel_tol=1e-12, abs_tol=0.0), (
                k, got[k], w,
            )


@pytest.mark.parametrize("case", sorted(CASES))
def test_tiers_agree(spark, graph_tiers, case):
    g = CASES[case](spark)
    for run, fn in RUNS.items():
        _assert_same(
            _on_both_tiers(graph_tiers, lambda: fn(g)),
            exact=run.startswith(("sssp", "bfs", "wcc")),
        )


def test_tiers_agree_on_a_negative_cycle(spark, graph_tiers):
    """A negative cycle never converges: both tiers stop at ``max_iter``
    with the same distances."""
    g = _from_edges(
        spark, [(1, 2, 1.0), (2, 3, -2.0), (3, 1, -1.0), (3, 4, 1.0)]
    )
    for interval in (1, 2):
        _assert_same(
            _on_both_tiers(
                graph_tiers,
                lambda: alg.sssp(g, source=1, max_iter=5, check_interval=interval),
            ),
            exact=True,
        )


def test_pagerank_empty_graph_on_both_tiers(spark, graph_tiers):
    """An empty graph has no vertices to rank: both tiers return an empty
    (id, rank) frame instead of dividing by n = 0."""
    g = _from_edges(spark, [])
    (local, lrows), (dist, drows) = _on_both_tiers(
        graph_tiers, lambda: alg.pagerank(g)
    )
    assert lrows == [] and drows == []
    assert local.columns == dist.columns == ["id", "rank"]
    assert local.schema == dist.schema


def test_wcc_empty_graph_on_both_tiers(spark, graph_tiers):
    g = _from_edges(spark, [])
    (local, lrows), (dist, drows) = _on_both_tiers(
        graph_tiers, lambda: alg.connected_components(g)
    )
    assert lrows == [] and drows == []
    assert local.columns == dist.columns == ["id", "component"]
    assert local.schema == dist.schema


def test_wcc_long_shuffled_path_on_driver_tier(spark):
    """A 100 000-vertex path over shuffled ids (i -> i·7919 mod 1 000 003)
    closes on the driver tier in O(log n) rounds, far below its diameter,
    with the labels of the distributed star contraction."""
    n, mult, prime = 100_000, 7919, 1_000_003
    ids = F.col("id") * mult % prime
    edges = spark.range(n - 1).select(
        ids.alias("src"),
        ((F.col("id") + 1) * mult % prime).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    g = PropertyGraph.from_edges(edges)
    stats = {}
    got = alg.connected_components(g, stats=stats).collect()
    assert stats["path"] == "local"
    assert stats["rounds"] <= 2 * math.log2(n)
    want = alg.connected_components_contract(g).collect()
    assert len(got) == n
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.fixture
def no_distributed_loop(monkeypatch):
    def boom(*_a, **_k):
        raise AssertionError("a distributed loop ran")

    monkeypatch.setattr(pregel.Pregel, "run", boom)
    for mod in (iterate, pregel, alg):
        monkeypatch.setattr(mod, "fixpoint", boom)


def test_small_graphs_route_to_driver_tier(spark, no_distributed_loop):
    """Under the default budget a tiny graph runs no Spark superstep:
    with ``Pregel.run`` and ``fixpoint`` raising, all five still return."""
    g = _from_edges(spark, [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0)])
    pr = _by_id(alg.pagerank(g).collect())
    assert math.isclose(sum(pr.values()), 1.0, rel_tol=1e-9)
    assert _by_id(alg.personalized_pagerank(g, [1]).collect()).keys() == {1, 2, 3}
    assert _by_id(alg.sssp(g, 1).collect()) == {1: 0.0, 2: 1.0, 3: 3.0}
    assert _by_id(alg.bfs(g, 1).collect()) == {1: 0, 2: 1, 3: 2}
    assert _by_id(alg.connected_components(g).collect()) == {1: 1, 2: 1, 3: 1}


def test_unsupported_inputs_stay_distributed(spark, monkeypatch):
    """Null or NaN weights and duplicate vertex ids are left to the
    distributed tier, even within the budget."""
    runs = []
    orig = pregel.Pregel.run

    def counting(self, vertices, edges):
        runs.append(1)
        return orig(self, vertices, edges)

    monkeypatch.setattr(pregel.Pregel, "run", counting)
    for w in (None, float("nan")):
        alg.sssp(_from_edges(spark, [(1, 2, w), (2, 3, 1.0)]), 1).collect()
    dup = _with_vertices(spark, [1, 2, 2, 3], [(1, 2, 1.0), (2, 3, 1.0)])
    alg.sssp(dup, 1).collect()
    assert len(runs) == 3
    # weights unused: unweighted pagerank of a NaN-weighted graph is local
    g = _from_edges(spark, [(1, 2, float("nan")), (2, 1, 1.0)])
    ranks = _by_id(alg.pagerank(g, max_iter=3, threshold=0.0).collect())
    assert ranks == pytest.approx({1: 0.5, 2: 0.5})


def test_from_edges_vertex_ids_come_from_the_edges(spark, monkeypatch):
    """A ``from_edges`` graph's vertex ids are its distinct endpoints, so
    ``LocalGraph.collect`` takes them from the collected edges (one
    null kept) instead of collecting the vertex table; the ids still
    count against the budget.  A graph with its own vertex table keeps
    the vertex collect."""
    gated = []
    orig = iterate.driver_local

    def recording(df, rows=None):
        gated.append(df.columns)
        return orig(df, rows)

    monkeypatch.setattr(iterate, "driver_local", recording)
    g = _null_endpoints(spark)
    with iterate.persisted(g.edges):
        lg = iterate.LocalGraph.collect(g, weighted=False)
    assert gated == [["src", "dst", "weight"]]
    assert sorted(lg.ids.to_pylist(), key=lambda i: (i is None, i)) == [
        1, 2, 3, 4, None
    ]
    gated.clear()
    g = _isolated(spark)
    with iterate.persisted(g.edges):
        lg = iterate.LocalGraph.collect(g, weighted=False)
    assert gated == [["src", "dst", "weight"], ["id"]] and lg.n == 7
    # 3 edges fit a budget of 4, their 6 endpoints do not
    g = _from_edges(spark, [(1, 2, 1.0), (3, 4, 1.0), (5, 6, 1.0)])
    prev = spark.conf.get(iterate.DRIVER_BUDGET_KEY, None)
    spark.conf.set(iterate.DRIVER_BUDGET_KEY, "4")
    try:
        with iterate.persisted(g.edges):
            assert iterate.LocalGraph.collect(g, weighted=False) is None
    finally:
        if prev is None:
            spark.conf.unset(iterate.DRIVER_BUDGET_KEY)
        else:
            spark.conf.set(iterate.DRIVER_BUDGET_KEY, prev)


def test_local_fixpoint_votes_like_fixpoint(spark):
    """The numpy twin stops on the same superstep as ``fixpoint`` for a
    geometric decay under chunked votes, overshoot included."""
    import numpy as np

    df = spark.createDataFrame([(1, 1.0)], "id long, v double").withColumn(
        "delta", F.lit(float("inf"))
    )

    def step(state, _mode):
        return state.select(
            "id", (F.col("v") / 2).alias("v"), (F.col("v") / 2).alias("delta")
        )

    def local_step(v):
        return v / 2, v / 2

    for interval in (1, 3, 4):
        dist = iterate.fixpoint(
            df, step, max_iter=50, threshold=1e-3,
            check_interval=interval, tag="test",
        )
        local = iterate.local_fixpoint(
            np.array([1.0]), local_step, max_iter=50, threshold=1e-3,
            check_interval=interval,
        )
        assert (local.iterations, local.converged) == (
            dist.iterations, dist.converged
        )
        assert local.deltas == dist.deltas
        assert local.state[0] == dist.state.first()["v"]


def test_reused_graph_derives_its_edges_once_per_call(spark, graph_tiers):
    """The distributed tier caches the graph's edges for each call's
    loop and derives them exactly once per call, also after an earlier
    call over the same graph object dropped its own cache; tier (a)
    derives them once for its first call and reads its snapshot after:
    pagerank, sssp, then pagerank again on one graph, on both tiers."""
    derived = spark.sparkContext.accumulator(0)

    def weight(src):
        derived.add(1)
        return 1.0

    edges = spark.range(6).select(
        F.col("id").alias("src"),
        ((F.col("id") + 1) % 6).alias("dst"),
        F.udf(weight, "double")("id").alias("weight"),
    )
    # no pre-partition shuffle: its map outputs outlive a dropped cache
    # and would serve a re-derivation without running the udf
    g = PropertyGraph.from_edges(edges, prepartition=False)
    for tier in graph_tiers():
        for i, (name, run) in enumerate((
            ("pagerank", lambda: alg.pagerank(g, max_iter=3)),
            ("sssp", lambda: alg.sssp(g, source=0)),
            ("pagerank", lambda: alg.pagerank(g, max_iter=3)),
        )):
            before = derived.value
            run().collect()
            want = 6 if tier == "distributed" or i == 0 else 0
            assert derived.value - before == want, (tier, name)


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@contextmanager
def _budget(spark, value):
    prev = spark.conf.get(iterate.DRIVER_BUDGET_KEY, None)
    spark.conf.set(iterate.DRIVER_BUDGET_KEY, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(iterate.DRIVER_BUDGET_KEY)
        else:
            spark.conf.set(iterate.DRIVER_BUDGET_KEY, prev)


@pytest.fixture
def counted(monkeypatch):
    """Calls of the snapshot's edge count, of ``Pregel.run`` and of
    the local rank kernel, by name."""
    calls = {"count_rows": 0, "pregel": 0, "rank_local": 0}

    def wrap(obj, attr, name):
        orig = getattr(obj, attr)

        def counting(*a, **k):
            calls[name] += 1
            return orig(*a, **k)

        monkeypatch.setattr(obj, attr, counting)

    wrap(iterate, "count_rows", "count_rows")
    wrap(pregel.Pregel, "run", "pregel")
    wrap(alg, "_rank_local", "rank_local")
    return calls


def test_snapshot_serves_later_calls_with_no_job(spark):
    """After ``pagerank`` collects a tier-(a) graph, ``sssp``, ``bfs``,
    ``personalized_pagerank`` and ``connected_components`` on the same
    graph submit no Spark job before their result is consumed."""
    g = _from_edges(spark, [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (3, 4, 0.5)])
    alg.pagerank(g).collect()
    out = {}
    for name, run in (
        ("sssp", lambda: alg.sssp(g, 1)),
        ("bfs", lambda: alg.bfs(g, 1)),
        ("ppr", lambda: alg.personalized_pagerank(g, [1])),
        ("wcc", lambda: alg.connected_components(g)),
    ):
        before = _jobs(spark)
        df = run()
        assert _jobs(spark) == before, name
        out[name] = _by_id(df.collect())
    assert out["sssp"] == {1: 0.0, 2: 1.0, 3: 3.0, 4: 3.5}
    assert out["bfs"] == {1: 0, 2: 1, 3: 2, 4: 3}
    assert out["wcc"] == {1: 1, 2: 1, 3: 1, 4: 1}


def test_snapshot_follows_the_budget(spark, counted):
    """Budget 0 after a tier-(a) call sends the next call on the same
    graph to the distributed tier; restoring the budget brings tier (a)
    back from the kept snapshot, with no new collect."""
    g = _from_edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (5, 6, 1.0)])
    want = {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    stats = {}
    assert _by_id(alg.connected_components(g, stats=stats).collect()) == want
    assert stats["path"] == "local" and counted["count_rows"] == 1
    with _budget(spark, "0"):
        stats = {}
        assert _by_id(alg.connected_components(g, stats=stats).collect()) == want
        assert stats["path"] == "minlabel"
        assert _by_id(alg.sssp(g, 1).collect())[3] == 2.0
        # min-label WCC and sssp each ran one Pregel loop
        assert counted["pregel"] == 2
    stats = {}
    before = counted["count_rows"]
    assert _by_id(alg.connected_components(g, stats=stats).collect()) == want
    assert stats["path"] == "local" and counted["count_rows"] == before
    # a budget the snapshot no longer fits goes distributed too
    with _budget(spark, "2"):
        alg.sssp(g, 1).collect()
        assert counted["pregel"] == 3


def test_reassigned_tables_recollect(spark, graph_tiers, counted):
    """Reassigning ``g.edges`` or ``g.vertices`` takes a new snapshot,
    and tier (a) answers as the distributed tier does for the new
    tables: once ``edges`` is replaced, the derived vertex table still
    holds the old endpoints."""
    g = _from_edges(spark, [(1, 2, 1.0), (2, 3, 1.0)])

    def both():
        got = {}
        for tier in graph_tiers():
            got[tier] = _by_id(alg.sssp(g, 1).collect())
        assert got["driver"] == got["distributed"]
        return got["driver"]

    assert both() == {1: 0.0, 2: 1.0, 3: 2.0}
    assert _by_id(alg.bfs(g, 1).collect()) == {1: 0, 2: 1, 3: 2}
    collects = counted["count_rows"]
    g.edges = g.edges.unionByName(_edges(spark, [(3, 4, 1.0)]))
    assert both() == {1: 0.0, 2: 1.0, 3: 2.0}
    assert counted["count_rows"] == collects + 2
    g.vertices = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    assert both() == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0}
    assert counted["count_rows"] == collects + 4


def test_weights_are_checked_per_call(spark, counted):
    """On one NaN-weighted graph, unweighted ``pagerank`` stays on tier
    (a) and ``sssp`` goes distributed, in both call orders, from one
    collect."""
    for order in (("pagerank", "sssp"), ("sssp", "pagerank")):
        for k in counted:
            counted[k] = 0
        g = _from_edges(spark, [(1, 2, float("nan")), (2, 1, 1.0)])
        for name in order:
            if name == "pagerank":
                ranks = alg.pagerank(g, max_iter=3, threshold=0.0).collect()
                assert _by_id(ranks) == pytest.approx({1: 0.5, 2: 0.5})
            else:
                assert _by_id(alg.sssp(g, 2).collect()) == {1: 1.0, 2: 0.0}
        assert counted == {"count_rows": 1, "pregel": 1, "rank_local": 1}, order


def _hash_broadcast_sides(plan):
    """The subtree under each hash-join BroadcastExchange of a plan's
    text."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :|+-"))

    return [
        "\n".join(
            itertools.takewhile(lambda m: depth(m) > depth(line), lines[i + 1:])
        )
        for i, line in enumerate(lines)
        if "BroadcastExchange HashedRelationBroadcastMode" in line
    ]


def test_rank_superstep_broadcasts_the_rank_side(
    spark, tmp_path, monkeypatch, distributed_tier
):
    """The gate's edge count fills the edge cache before the distributed
    loop plans its first superstep.  ``iterate.planned`` keeps the degree
    state's size estimate from before that, so the superstep's hash join
    broadcasts the (id, out_degree) side and streams the cached edges;
    estimated from the filled cache, this graph's join would broadcast
    the edge table instead."""
    rng = np.random.default_rng(1)
    path = tmp_path / "edges.txt"
    np.savetxt(path, rng.integers(1, 1001, (8000, 2)), fmt="%d")
    plans = []

    def first_step(state, step, **kw):
        with kw.get("chunk", nullcontext)() as mode:
            plans.append(step(state, mode)._jdf.queryExecution().executedPlan())
        return iterate.fixpoint(state, step, **kw)

    monkeypatch.setattr(alg, "fixpoint", first_step)
    g = read_edge_list(spark, str(path))
    alg.pagerank(g, max_iter=1, threshold=0.0).collect()
    alg.personalized_pagerank(g, [1], max_iter=1, threshold=0.0).collect()
    assert len(plans) == 2
    for plan in plans:
        sides = _hash_broadcast_sides(plan.toString())
        assert sides and all("out_degree" in s for s in sides), plan
        assert not any("InMemoryTableScan" in s for s in sides), plan


def test_wcc_superstep_broadcasts_the_label_side(
    spark, monkeypatch, distributed_tier
):
    """``connected_components`` caches its symmetrized edges before the
    gate's count fills the base edge cache, so that cache keeps the size
    estimate it had without the gate: on this small graph the first
    min-label superstep broadcasts the active label state and streams
    the cached edges; estimated from the filled base cache, it would
    broadcast the edge table instead."""
    plans = []

    def first_step(state, step, **kw):
        if not plans:
            with kw.get("chunk", nullcontext)() as mode:
                plans.append(
                    step(state, mode)._jdf.queryExecution().executedPlan()
                )
        return iterate.fixpoint(state, step, **kw)

    monkeypatch.setattr(pregel, "fixpoint", first_step)
    g = _from_edges(
        spark, [(i, (i * 3 + 1) % 300, 1.0) for i in range(300) if i % 7]
    )
    alg.connected_components(g).collect()
    sides = _hash_broadcast_sides(plans[0].toString())
    label = ["ExistingRDD" in s and "InMemoryTableScan" not in s for s in sides]
    edges = ["InMemoryTableScan" in s and "ExistingRDD" not in s for s in sides]
    assert any(label) and not any(edges), plans[0]
