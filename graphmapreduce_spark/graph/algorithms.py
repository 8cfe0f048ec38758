"""Graph algorithms, DataFrame-native.

Implements every algorithm the reference ships (PageRank
``algorithms.h:4-37``, SSSP ``algorithms.h:42-92``, TriangleCount
``algorithms.h:97-180``) plus every declared-but-empty stub
(``algorithms.h:185-250``: MatrixMultiply, BFS, connectedComponents,
MST/Prim, stronglyConnectedComponents, Kmeans), re-expressed as Catalyst
plans: joins for message exchange, groupBy-agg for reduce, driver loops
only for supersteps.

Reference quirks deliberately normalized (SURVEY.md §7.4):
- reference PageRank uses damping 0.5 and divides by the *process-local*
  vertex count (``algorithms.h:30``, ``gmr.cpp:191``) making results depend
  on the partition count; we use the global N and a ``damping`` parameter
  (compat mode: ``damping=0.5``).
- reference TriangleCount's reduce fires only for exactly-2-list key
  groups (``algorithms.h:141``); the join formulation is the clean
  equivalent counting each triangle a<b<c once.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphmapreduce_spark.graph.iterate import (
    LocalGraph,
    Rounds,
    fixpoint,
    local_fixpoint,
    persisted,
    planned,
)
from graphmapreduce_spark.graph.pregel import (
    MAX_ITERATION,
    THRESHOLD,
    Pregel,
    UpdateMode,
)
from graphmapreduce_spark.graph.property_graph import PropertyGraph


def _both_ways(edges: DataFrame, distinct: bool = False) -> DataFrame:
    """(src, dst) rows plus every row reversed — the symmetrized edge
    set; ``distinct`` drops the duplicates that reciprocal pairs make."""
    e = edges.select("src", "dst")
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym.distinct() if distinct else sym


def _induced(edges: DataFrame, ids: DataFrame) -> DataFrame:
    """The edges with both endpoints in ``ids`` (a one-column id
    frame), eagerly checkpointed — the peel loops' shrink step."""
    (c,) = ids.columns
    return (
        edges.join(ids.select(F.col(c).alias("src")), "src", "left_semi")
        .join(ids.select(F.col(c).alias("dst")), "dst", "left_semi")
        .localCheckpoint(eager=True)
    )


# ---------------------------------------------------------------------------
# SSSP — ref algorithms.h:42-92 (Bellman-Ford relaxation; init source=0,
# others=FLT_MAX at :48-54; map emits (nbor, value+edgewgt) at :57-67;
# reduce=min at :73-85; cover update)
# ---------------------------------------------------------------------------
def sssp(
    graph: PropertyGraph,
    source: int,
    threshold: float = THRESHOLD,
    max_iter: int = MAX_ITERATION,
    check_interval: int = 1,
    broadcast_vertices: bool = False,
) -> DataFrame:
    """Single-source shortest paths.  Returns (id, distance); unreachable
    vertices keep +inf.  Frontier-filtered: only vertices whose distance
    improved last superstep relax their out-edges (the optimization the
    reference left disabled — ``graph.h:760-762``).  A graph within the
    driver budget runs the same relaxation as numpy on the driver
    (``_min_plus_local``; tier (a), see ``graph/iterate.py``)."""
    return _shortest_paths(
        graph, source, threshold, max_iter, check_interval,
        broadcast_vertices, unit=False,
    )


def _shortest_paths(
    graph: PropertyGraph,
    source: int,
    threshold: float,
    max_iter: int,
    check_interval: int,
    broadcast_vertices: bool,
    unit: bool,
) -> DataFrame:
    """(id, distance) from ``source`` on either tier; ``unit`` counts
    every edge as 1 whatever its weight (``bfs``)."""
    with persisted(graph.edges):
        lg = LocalGraph.collect(graph, weighted=not unit)
        if lg is not None:
            init = np.where(lg.valid & (lg.key == source), 0.0, np.inf)
            dist = _min_plus_local(
                lg,
                init,
                threshold=threshold,
                max_iter=max_iter,
                check_interval=check_interval,
            )
            return lg.frame("distance", dist)
        return _sssp_pregel(
            graph, source, threshold, max_iter, check_interval,
            broadcast_vertices, unit,
        )


def _sssp_pregel(
    graph: PropertyGraph,
    source: int,
    threshold: float,
    max_iter: int,
    check_interval: int,
    broadcast_vertices: bool,
    unit: bool,
) -> DataFrame:
    init = graph.vertices.select(
        "id",
        F.when(F.col("id") == source, 0.0)
        .otherwise(float("inf"))
        .alias("value"),
    )

    length = F.lit(1.0) if unit else F.col("weight")

    def messages(active: DataFrame, edges: DataFrame) -> DataFrame:
        return (
            active.filter(~F.isnan("value") & (F.col("value") != float("inf")))
            .join(edges, active["id"] == edges["src"])
            .select(
                F.col("dst").alias("id"),
                (F.col("value") + length).alias("msg"),
            )
        )

    pregel = Pregel(
        make_messages=messages,
        agg=F.min("msg"),
        update=lambda old, agg: F.least(old, F.coalesce(agg, old)),
        threshold=threshold,
        max_iter=max_iter,
        active_frontier=True,
        check_interval=check_interval,
        broadcast_vertices=broadcast_vertices,
    )
    res = pregel.run(init, graph.edges)
    return res.vertices.select("id", F.col("value").alias("distance"))


def _min_plus_local(
    lg: LocalGraph,
    value: np.ndarray,
    *,
    threshold: float,
    max_iter: int,
    check_interval: int,
) -> np.ndarray:
    """Tier (a) of the frontier relaxation ``sssp`` runs through
    ``Pregel``: per superstep the active vertices (``delta >
    threshold``; all at the start) whose value is neither NaN nor +inf
    send value + weight along their out-edges, ``np.fmin.at`` takes
    each vertex's least message, and the update is ``fmin(old, msg)`` —
    Spark's ``min``/``least`` order NaN above every number, which is
    ``fmin``'s rule.  An unchanged value (inf → inf too) has delta 0,
    else |new − old|.  Edges with an endpoint that is not a vertex
    carry nothing; without ``lg.weight`` every edge weighs 1.  Returns
    the final values."""
    live = (lg.src >= 0) & (lg.dst >= 0)
    src, dst = lg.src[live], lg.dst[live]
    weight = np.ones(len(src)) if lg.weight is None else lg.weight[live]

    def step(state):
        old, delta = state
        send = (delta > threshold) & ~np.isnan(old) & (old != np.inf)
        m = send[src]
        msg = np.full(len(old), np.inf)
        np.fmin.at(msg, dst[m], old[src[m]] + weight[m])
        new = np.fmin(old, msg)
        with np.errstate(invalid="ignore"):
            delta = np.where(new == old, 0.0, np.abs(new - old))
        return (new, delta), delta

    res = local_fixpoint(
        (value, np.full(len(value), np.inf)),
        step,
        max_iter=max_iter,
        threshold=threshold,
        check_interval=check_interval,
    )
    return res.state[0]


# ---------------------------------------------------------------------------
# BFS — ref stub algorithms.h:190; level = unweighted SSSP
# ---------------------------------------------------------------------------
def bfs(graph: PropertyGraph, source: int, max_iter: int = MAX_ITERATION) -> DataFrame:
    """Breadth-first levels from ``source``.  (id, level); -1 = unreachable."""
    d = _shortest_paths(
        graph, source, threshold=0.5, max_iter=max_iter, check_interval=1,
        broadcast_vertices=False, unit=True,
    )
    return d.select(
        "id",
        F.when(F.col("distance") == float("inf"), F.lit(-1))
        .otherwise(F.col("distance").cast("long"))
        .alias("level"),
    )


# ---------------------------------------------------------------------------
# PageRank — ref algorithms.h:4-37 (map: value/deg to out-neighbors :12-18;
# reduce: d*sum + (1-d)/n :24-33).  Quirks normalized per SURVEY §7.4.
# ---------------------------------------------------------------------------
REFERENCE_DAMPING = 0.5  # ref algorithms.h:30 hard-codes d=0.5


def pagerank(
    graph: PropertyGraph,
    damping: float = 0.85,
    max_iter: int = 20,
    threshold: float = 1e-6,
    handle_dangling: bool = True,
    check_interval: int = 1,
    reference_compat: bool = False,
    weighted: bool = False,
) -> DataFrame:
    """Returns (id, rank), ranks summing to ~1 (proper distribution,
    dangling mass redistributed uniformly unless disabled).

    ``weighted=True`` distributes each vertex's rank over its out-edges
    proportionally to edge weight (contrib = rank · w / Σw_out) instead
    of uniformly — the natural mode for the reference's weighted graph
    format (``graph.h`` adjwgt).  A vertex whose out-weight sums to 0 is
    treated as dangling.  Plan shape is unchanged: ``out_degree``
    becomes the out-STRENGTH (Σw), and the per-edge weight rides the
    message join that already carries the edge row.

    ``reference_compat=True`` is the documented SURVEY §7.4 compat mode:
    it pins ``damping`` to the reference's hard-coded 0.5
    (``algorithms.h:30``).  The reference's other quirk — dividing the
    teleport term by the process-LOCAL vertex count (``gmr.cpp:191``),
    which makes results depend on how many MPI ranks ran — is
    deliberately NOT reproduced; we always use the global N.

    One superstep = one ranks⋈edges join + one groupBy(dst) sum, and
    exactly ONE Spark job per ``check_interval`` supersteps: the dangling
    mass is folded into the plan as a broadcast 1-row cross join (no
    driver round-trip), lineage is cut with a lazy ``localCheckpoint``
    that the convergence action itself materializes, and intermediate
    supersteps chain lazily (``iterate.fixpoint``).  No broadcast hint
    on the rank side: each BroadcastExchange re-executes its (lazily
    checkpointed) subplan driver-side, which measured ~2× slower than
    letting AQE convert the join from runtime stats.

    ``check_interval > 1`` skips the convergence test between chunks —
    exact-iteration parity needs max_iter % check_interval == 0; with a
    reachable threshold the loop may overshoot up to interval-1 extra
    (harmless for fixpoint updates, so cover-style only).

    A graph within the driver budget skips all of the above: it is
    collected once and the same supersteps run as numpy on the driver
    (``_rank_local``; tier (a), see ``graph/iterate.py``).  An empty
    graph returns an empty (id, rank) frame.
    """
    if reference_compat:
        damping = REFERENCE_DAMPING
    # materialize edges FIRST — the vertex-count, degree, and every
    # superstep job below all contain the edge plan as a subtree, so the
    # cache manager serves them all from this one materialization
    with persisted(graph.edges):
        edges = graph.edges
        if weighted:
            strength = edges.groupBy(F.col("src").alias("id")).agg(
                F.sum("weight").alias("out_degree")
            )
            deg = (
                graph.vertices.select("id")
                .join(strength, "id", "left")
                .withColumn("out_degree", F.coalesce("out_degree", F.lit(0.0)))
            )
        else:
            deg = graph.out_degrees()
        deg = planned(deg)
        lg = LocalGraph.collect(graph, weighted)
        if lg is not None:
            n = lg.n
            out = lg.out_degree(weighted)
            if n == 0:
                return lg.frame("rank", out)
            dangling = handle_dangling and bool((out == 0).any())
            return _rank_local(
                lg,
                np.full(n, 1.0 / n),
                out,
                lambda mass: (1.0 - damping) / n + damping / n * mass,
                damping=damping,
                dangling=dangling,
                weighted=weighted,
                max_iter=max_iter,
                threshold=threshold,
                check_interval=check_interval,
            )
        # one job builds the (id, out_degree) state; the vertex count is
        # then a near-free count() on the checkpointed RDD instead of a
        # separate scan of the vertex-derivation pipeline
        deg = deg.localCheckpoint(eager=True)
        # one O(1) action reads BOTH the vertex count and the dangling
        # count off the checkpointed degree table.  When the graph has no
        # dangling vertices the per-superstep dangling-mass aggregate is
        # identically 0.0 for EVERY iteration regardless of rank values —
        # so the agg + broadcast-exchange job it costs per superstep (one
        # extra job × max_iter) is dropped up front; the rank expression
        # is bit-identical (base + d/n·0.0 == base in IEEE doubles).
        n, n_dangling = deg.agg(
            F.count(F.lit(1)),
            F.sum((F.col("out_degree") == 0).cast("long")),
        ).first()
        if n == 0:
            return deg.select("id", F.lit(0.0).alias("rank"))
        handle_dangling = bool(handle_dangling and (n_dangling or 0) > 0)
        base = F.lit((1.0 - damping) / n)
        if handle_dangling:
            base = base + F.lit(damping / n) * F.col("_dangling")
        # ranks carries its degree to avoid a second join per superstep
        return _rank_fixpoint(
            edges,
            deg.withColumn("rank", F.lit(1.0 / n)),
            base,
            damping=damping,
            dangling=handle_dangling,
            weighted=weighted,
            max_iter=max_iter,
            threshold=threshold,
            check_interval=check_interval,
            tag="pagerank",
        )


def _rank_fixpoint(
    edges: DataFrame,
    ranks: DataFrame,
    base: Column,
    *,
    damping: float,
    dangling: bool,
    max_iter: int,
    threshold: float,
    check_interval: int,
    tag: str,
    weighted: bool = False,
) -> DataFrame:
    """The PageRank-family superstep loop shared by `pagerank` and
    `personalized_pagerank`: rank' = base + d·Σ in-contributions, where
    ``base`` is the caller's teleport term (it may read the per-superstep
    ``_dangling`` mass when ``dangling``).  ``ranks`` carries
    (id, out_degree, rank); returns (id, rank).

    This is the distributed tier; graphs within the driver budget never
    reach it (``_rank_local`` runs the same superstep on the driver).

    NOTE (r08, measured): this loop deliberately does NOT use
    pregel.single_job_chunk.  Its loop-carried state is one row per
    vertex of a contracted graph (500 rows on the benched Z₅₀₀ input) —
    small enough that AQE's runtime broadcast of the rank side makes the
    cached edge table never shuffle, which beats the static
    one-exchange-per-superstep chunk plan (A/B min-of-7 back-to-back:
    2.61-3.12 s AQE path vs 3.61 s single-job chunks at sf0.1).  The
    WCC/Pregel loops, whose state is corpus-sized, win the other way.
    Such small states now take tier (a) at the default budget (driver
    budget 0 brings them back here); the note holds for states between
    the budget and the AQE path's broadcast limit.
    """
    share = (
        F.col("rank") * F.col("weight") / F.col("out_degree")
        if weighted
        else F.col("rank") / F.col("out_degree")
    )
    rank_expr = base + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))

    def step(new: DataFrame, _) -> DataFrame:
        contribs = (
            new.filter(F.col("out_degree") > 0)
            .join(edges, new["id"] == edges["src"])
            .select(F.col("dst").alias("id"), share.alias("contrib"))
            .groupBy("id")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        stepped = new.select(
            "id", "out_degree", F.col("rank").alias("_old")
        ).join(contribs, "id", "left")
        if dangling:
            dmass = new.select(
                F.coalesce(
                    F.sum(F.when(F.col("out_degree") == 0, F.col("rank"))),
                    F.lit(0.0),
                ).alias("_dangling")
            )
            stepped = stepped.crossJoin(F.broadcast(dmass))
        return stepped.select(
            "id",
            "out_degree",
            rank_expr.alias("rank"),
            F.abs(rank_expr - F.col("_old")).alias("delta"),
        )

    res = fixpoint(
        ranks,
        step,
        max_iter=max_iter,
        threshold=threshold,
        check_interval=check_interval,
        tag=tag,
    )
    return res.state.select("id", "rank")


def _rank_local(
    lg: LocalGraph,
    rank: np.ndarray,
    deg: np.ndarray,
    base: Callable[[float], np.ndarray | float],
    *,
    damping: float,
    dangling: bool,
    max_iter: int,
    threshold: float,
    check_interval: int,
    weighted: bool = False,
) -> DataFrame:
    """Tier (a) of `_rank_fixpoint`: the same superstep as numpy on the
    collected graph.  A vertex with ``deg > 0`` sends rank·w/deg (or
    rank/deg) along each out-edge to a vertex; ``np.bincount`` sums them
    per dst; rank' = base(mass) + d·in_sum, where ``base`` is the
    caller's teleport term and mass the rank on ``deg == 0`` vertices
    (0 unless ``dangling``); delta = |rank' − rank|.  Returns (id,
    rank)."""
    live = (lg.src >= 0) & (lg.dst >= 0)
    live[live] = deg[lg.src[live]] > 0
    src, dst = lg.src[live], lg.dst[live]
    src_deg = deg[src]
    weight = lg.weight[live] if weighted else None
    sinks = deg == 0

    def step(r):
        share = r[src] * weight / src_deg if weighted else r[src] / src_deg
        in_sum = np.bincount(dst, weights=share, minlength=len(r))
        new = base(r[sinks].sum() if dangling else 0.0) + damping * in_sum
        return new, np.abs(new - r)

    res = local_fixpoint(
        rank,
        step,
        max_iter=max_iter,
        threshold=threshold,
        check_interval=check_interval,
    )
    return lg.frame("rank", res.state)


def _min_label(vertices: DataFrame, edges: DataFrame, **opts):
    """Frontier min-label propagation: every vertex ends labeled with
    the smallest id that reaches it along ``edges`` (a ``PregelResult``;
    ``opts`` go to ``Pregel``).  Labels stay long end-to-end: a double
    round-trip would corrupt ids above 2^53 (hash-derived 64-bit ids
    are normal at scale) and silently merge distinct components."""

    def messages(active: DataFrame, e: DataFrame) -> DataFrame:
        return active.join(e, active["id"] == e["src"]).select(
            F.col("dst").alias("id"), F.col("value").alias("msg")
        )

    return Pregel(
        make_messages=messages,
        agg=F.min("msg"),
        update=lambda old, agg: F.least(old, F.coalesce(agg, old)),
        threshold=0.5,
        active_frontier=True,
        **opts,
    ).run(vertices.select("id", F.col("id").alias("value")), edges)


# ---------------------------------------------------------------------------
# Connected components (WCC) — ref stub algorithms.h:195.
# Iterative min-label propagation over the symmetrized edge set.
# ---------------------------------------------------------------------------
# min-label supersteps before `connected_components` hands a graph that has
# not converged (diameter above this) to star contraction
MIN_LABEL_BUDGET = 20


def connected_components(
    graph: PropertyGraph,
    max_iter: int = MAX_ITERATION,
    check_interval: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """(id, component) where component = min vertex id in the component.

    A graph within the driver budget is closed on the driver
    (``_min_label_local``; tier (a), see ``graph/iterate.py``) in
    O(log n) rounds on any topology.  Above it, min-label propagation
    runs over the symmetrized edges WITHOUT deduplication (the
    min-message aggregation is idempotent under duplicates and map-side
    combine absorbs them, so ``undirected()``'s distinct shuffle would
    be pure overhead).  That takes O(diameter) supersteps, so a long
    path/ring would grind (measured: a 1M-vertex ring extrapolates to
    ~179 h vs 72.6 s by star contraction), and probing the diameter up
    front costs O(diameter) rounds itself.  So min-label runs for at
    most ``MIN_LABEL_BUDGET`` (or ``max_iter``) supersteps: low-diameter
    graphs (social/web/dedup graphs, diameter ≲ 20) converge inside it
    with less work per round than contraction; on a miss the partial
    labels are dropped (contraction collapses label chains
    geometrically anyway) and ``connected_components_contract`` takes
    over.

    ``stats`` receives ``path`` (``"local"``, ``"minlabel"`` or
    ``"contract"``) and the rounds or supersteps it took."""
    sym = _both_ways(graph.edges)
    und = PropertyGraph(
        graph.vertices, sym, num_partitions=graph.num_partitions
    )
    # cache the base edges too: the symmetrized table, the vertex init,
    # and the vertex-set derivation all contain this plan as a subtree.
    # und.edges carries the repartition of the symmetrized table, which
    # would otherwise re-execute every superstep (measured ~30% slower);
    # it is cached before the gate's count fills the base cache, because
    # a cache takes its size estimate when it is created, and estimated
    # from the filled base a small graph's superstep broadcasts the edge
    # table instead of the label state
    with persisted(graph.edges), persisted(und.edges):
        lg = LocalGraph.collect(graph, weighted=False)
        if lg is not None:
            comp, rounds = _min_label_local(lg)
            if stats is not None:
                stats["path"] = "local"
                stats["rounds"] = rounds
            return lg.frame(
                "component", comp, lg.id_field.dataType, lg.id_field.nullable
            )
        res = _min_label(
            und.vertices,
            und.edges,
            max_iter=min(max_iter, MIN_LABEL_BUDGET),
            check_interval=check_interval,
        )
    if not res.converged:
        # budget miss = diameter > MIN_LABEL_BUDGET: hand off to the
        # O(log n)-round contraction path instead of iterating toward
        # the horizon (see docstring)
        if stats is not None:
            stats["path"] = "contract"
            stats["minlabel_supersteps"] = res.iterations
        return connected_components_contract(graph, stats=stats)
    if stats is not None:
        stats["path"] = "minlabel"
        stats["minlabel_supersteps"] = res.iterations
    return res.vertices.select("id", F.col("value").alias("component"))


def _min_label_local(lg: LocalGraph) -> tuple[pa.Array, int]:
    """Tier (a) of WCC: per vertex the min id that reaches it over the
    edges taken both ways, and the rounds it took (``_min_label_roots``).
    Labels are taken from the Arrow ids, so they stay exact longs."""
    roots, rounds = _min_label_roots(lg.key, lg.valid, lg.src, lg.dst)
    return lg.ids.take(roots), rounds


def _min_label_roots(
    key: np.ndarray, valid: np.ndarray, src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, int]:
    """WCC on plain position arrays: vertex ``i`` has id ``key[i]`` (null
    where not ``valid[i]``) and an edge joins positions ``src[k]`` and
    ``dst[k]``, -1 for a non-vertex endpoint.  Returns per vertex the
    position of the min id that reaches it over the edges taken both
    ways, and the rounds it took.  Min-hooking over vertices ranked by
    id: each round every root with an edge to another tree hooks onto
    the smallest such root (parents only point to smaller ranks, so no
    cycle forms), then pointer jumping links every vertex to its root.
    Every tree with an edge out merges each round, so the rounds are
    O(log n) whatever the diameter.  Edges with a non-vertex endpoint
    carry nothing; a null id labels itself."""
    n = len(key)
    order = np.lexsort((key, ~valid))  # ids ascending, null last
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n)
    live = (src >= 0) & (dst >= 0)
    u, v = rank[src[live]], rank[dst[live]]
    parent = np.arange(n)
    rounds = 0
    while (cross := parent[u] != parent[v]).any():
        # an edge inside one tree stays inside it: drop it for good
        u, v = u[cross], v[cross]
        pu, pv = parent[u], parent[v]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while not np.array_equal(jumped := parent[parent], parent):
            parent = jumped
        rounds += 1
    return order[parent[rank]], rounds


# ---------------------------------------------------------------------------
# WCC by alternating star contraction — the HIGH-DIAMETER complement of
# `connected_components`.  Min-label propagation needs O(diameter)
# supersteps (a 1M-vertex path would need 1M); the large-star/small-star
# alternation (Kiveris et al., "Connected Components in MapReduce and
# Beyond") converges in O(log n) rounds on ANY topology, each round two
# groupBy-join passes over the current (shrinking) edge set.  Same output
# contract as `connected_components`: (id, component = min id).
# ---------------------------------------------------------------------------
def connected_components_contract(
    graph: PropertyGraph, max_rounds: int = 60, stats: dict | None = None
) -> DataFrame:
    """(id, component) via alternating large-star / small-star
    contraction.

    Per round:

    - large-star: every vertex u computes m = min(N(u) ∪ {u}) over the
      symmetrized neighborhood and rewires each LARGER neighbor v > u
      to m — long tails collapse toward minima without ever growing the
      edge count;
    - small-star: edges orient (max, min); every u rewires its
      smaller-side neighbors (and itself) to their minimum — stars
      flatten.

    Edges with an endpoint outside the vertex table are dropped first,
    as the min-label path drops them: such an id neither merges
    components nor gets a label.  At the fixpoint the edge set is a
    star forest (child → component minimum), read off as the label
    table; vertices absent from it (roots, isolated) label themselves.
    Rounds are O(log n) in the component size regardless of diameter —
    use this instead of `connected_components` when the graph may
    contain long paths (road networks, provenance chains, event
    successions); on low-diameter graphs the min-label frontier variant
    does less work per round and stays the default.  Convergence is detected by an
    edge-set fixpoint probe (`exceptAll ... limit(1)` — O(1) rows to
    the driver); raises if ``max_rounds`` rounds don't converge rather
    than returning wrong labels.
    """
    e = _induced(
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        graph.vertices.select("id"),
    )
    rounds = Rounds(e.sparkSession, "ccstar")
    converged = False
    for _cc_rnd in range(max_rounds):
        e = rounds.carry(_cc_rnd, e)
        # --- large-star ---------------------------------------------
        sym = _both_ways(e)
        mins = sym.groupBy("src").agg(F.min("dst").alias("_mn")).select(
            "src", F.least(F.col("src"), F.col("_mn")).alias("m")
        )
        ls = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # --- small-star ---------------------------------------------
        orient = ls.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        smins = orient.groupBy("src").agg(F.min("dst").alias("m"))
        new_e = (
            orient.join(smins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(
                smins.select(F.col("src"), F.col("m").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # fixpoint probe: both sides are DISTINCT sets, so equal counts
        # plus an empty one-direction difference imply set equality —
        # one exceptAll shuffle per round, not two (counts on the
        # localCheckpoint'd frames are cheap)
        if (
            new_e.count() == e.count()
            and new_e.exceptAll(e).limit(1).count() == 0
        ):
            e = new_e
            converged = True
            break
        e = new_e
    if not converged:
        raise RuntimeError(
            f"connected_components_contract: no fixpoint in "
            f"{max_rounds} rounds"
        )
    if stats is not None:
        stats["rounds"] = _cc_rnd + 1
    labels = e.groupBy("src").agg(F.min("dst").alias("component")).select(
        F.col("src").alias("id"), "component"
    )
    selfs = graph.vertices.select("id").join(
        labels.select("id"), "id", "left_anti"
    ).select("id", F.col("id").alias("component"))
    return labels.unionByName(selfs)


# ---------------------------------------------------------------------------
# SCC — ref stub algorithms.h:207.  Forward/backward min-label propagation
# with two peel rules per round:
#
#   f(v) = min vertex id that reaches v       (forward fixpoint)
#   b(v) = min vertex id reachable from v     (backward fixpoint)
#
#   rule 1: {v : f(v) == b(v) == r} is exactly SCC(r) — peel, labeled r.
#   rule 2: every member of an SCC shares the (f, b) pair (equal reach-in
#           and reach-out sets), so a vertex whose (f, b) pair-class has
#           size 1 is provably a singleton SCC — peel, labeled by itself.
#
# Rule 2 is what makes DAG-heavy graphs terminate fast: on any DAG all
# pair-classes that are not captured by rule 1 shrink to singletons as
# soon as their reach-sets differ, so a chain of N singleton SCCs (either
# orientation) peels in ONE round instead of N (the round-1 scale-killer:
# the old f==b-only peel removed as little as one SCC per round).
# ---------------------------------------------------------------------------
def strongly_connected_components(
    graph: PropertyGraph,
    max_outer: int = 50,
    on_incomplete: str = "raise",
    return_rounds: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """(id, component), component = min vertex id of the SCC.

    ``on_incomplete`` governs the (pathological) case where ``max_outer``
    rounds don't exhaust the graph: ``'raise'`` (default) fails loudly
    instead of silently dropping vertices; ``'sentinel'`` labels the
    leftovers with component = -1 so callers can triage.
    ``return_rounds=True`` additionally returns the number of peel
    rounds executed (for convergence tests).

    Round bound: each round additionally CUTS every edge whose
    endpoints disagree on the (f, b) pair — an SCC never spans two
    pair-classes, so the cut is safe — which decomposes the condensation
    into independent class subgraphs that the next round's min-label
    passes resolve in parallel.  A chain of K non-singleton SCCs
    therefore peels in O(log K)-ish rounds (isolated classes satisfy
    f == b immediately), not K: without the cut only the class holding
    the chain's prefix+suffix minimum fired per round, which made long
    condensation chains the scale-killer.  Adversarial nestings can
    still recurse ``max_outer`` deep — hence the loud default.
    """

    remaining_v = graph.vertices.select("id").localCheckpoint(eager=True)
    remaining_e = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    assigned: DataFrame | None = None
    rounds = 0
    # deep chain graphs can run many pivot rounds
    carrier = Rounds(remaining_v.sparkSession, "scc")
    for _scc_rnd in range(max_outer):
        remaining_v, remaining_e, assigned = carrier.carry(
            _scc_rnd, remaining_v, remaining_e, assigned
        )
        if remaining_v.limit(1).count() == 0:
            break
        rounds += 1
        fwd = _min_label(remaining_v, remaining_e).vertices.withColumnRenamed(
            "value", "f"
        )
        rev = remaining_e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        bwd = _min_label(remaining_v, rev).vertices.withColumnRenamed(
            "value", "b"
        )
        # checkpointed: feeds BOTH the peel filter and the class-edge
        # cut below — without this the two Pregel label runs recompute
        both = fwd.join(bwd, "id").localCheckpoint(eager=True)
        pair_n = Window.partitionBy("f", "b")
        found = (
            both.withColumn("_n", F.count(F.lit(1)).over(pair_n))
            .filter((F.col("f") == F.col("b")) | (F.col("_n") == 1))
            .select(
                "id",
                F.when(F.col("f") == F.col("b"), F.col("f"))
                .otherwise(F.col("id"))
                .alias("component"),
            )
        )
        found = found.localCheckpoint(eager=True)
        assigned = found if assigned is None else assigned.unionByName(found)
        remaining_v = (
            remaining_v.join(found.select("id"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        # drop edges of peeled vertices AND cut cross-class edges: an
        # SCC is always inside one (f, b) class, so an edge between
        # classes is provably inter-SCC — cutting it decomposes the
        # condensation and lets every isolated class resolve in
        # parallel next round (see docstring round bound)
        cls = both.select("id", "f", "b")
        remaining_e = (
            remaining_e.join(
                found.select(F.col("id").alias("src")), "src", "left_anti"
            )
            .join(found.select(F.col("id").alias("dst")), "dst", "left_anti")
            .join(
                cls.select(
                    F.col("id").alias("src"),
                    F.col("f").alias("_fs"),
                    F.col("b").alias("_bs"),
                ),
                "src",
            )
            .join(
                cls.select(
                    F.col("id").alias("dst"),
                    F.col("f").alias("_fd"),
                    F.col("b").alias("_bd"),
                ),
                "dst",
            )
            .filter(
                (F.col("_fs") == F.col("_fd")) & (F.col("_bs") == F.col("_bd"))
            )
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    leftover = remaining_v.limit(1).count() > 0
    if leftover:
        if on_incomplete == "raise":
            raise RuntimeError(
                f"SCC peel did not converge within max_outer={max_outer} "
                "rounds; raise max_outer or use on_incomplete='sentinel'"
            )
        sentinel = remaining_v.select("id", F.lit(-1).alias("component"))
        assigned = (
            sentinel if assigned is None else assigned.unionByName(sentinel)
        )
    if assigned is None:
        assigned = graph.vertices.select(
            "id", F.col("id").alias("component")
        ).limit(0)
    return (assigned, rounds) if return_rounds else assigned


# ---------------------------------------------------------------------------
# Triangle count — ref algorithms.h:97-180.  Canonical join formulation:
# orient edges a<b, intersect the degree-oriented adjacency lists.  Counts
# each triangle a<b<c once (the semantics the reference achieves via its
# exactly-2-lists reduce and common-neighbor scan c>b, algorithms.h:138-155).
# ---------------------------------------------------------------------------
def _directed_canonical(graph: PropertyGraph) -> DataFrame:
    """Distinct undirected edges oriented small→large, self-loops dropped."""
    e = graph.edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    )
    return e.filter(F.col("a") < F.col("b")).distinct()


def _adjacency(und: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(nbrs, deg) of a canonical edge set (``_directed_canonical``):
    ``nbrs`` = (id, nbr), every edge taken both ways — the simple
    undirected adjacency — and ``deg`` = (id, deg), its degree table.
    Both directions come from one generator over ``und``, so ``nbrs``
    keeps ``und``'s partitions (a union would double them, and the
    matching and MIS loops checkpoint it)."""
    nbrs = und.select(
        F.inline(
            F.array(
                F.struct(F.col("a").alias("id"), F.col("b").alias("nbr")),
                F.struct(F.col("b").alias("id"), F.col("a").alias("nbr")),
            )
        )
    )
    return nbrs, nbrs.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))


def _degree_oriented(edges: DataFrame) -> DataFrame:
    """(u, v) — each distinct undirected edge of canonical ``(a, b)``
    input oriented LOW-degree → HIGH-degree endpoint ((deg, id) lexical
    tiebreak), compared through two degree joins rather than a global
    vertex rank (a row_number over one unpartitioned window would
    single-thread at scale).

    This is the standard skew-killer for wedge enumeration: every
    vertex's OUT-degree under this orientation is O(sqrt(m)), so a
    power-law hub with 10⁶ neighbors contributes O(m) wedge rows, not
    10¹² — the same concern the reference caps with MAX_NEIGHBORSIZE
    (``gmr.h:30``), solved by orientation instead of truncation.
    """
    _, deg = _adjacency(edges)
    ed = edges.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def _oriented_intersections(edges: DataFrame) -> DataFrame:
    """(u, v, cs) — for each degree-oriented edge (u, v), the array
    ``cs`` of common out-neighbors N⁺(u) ∩ N⁺(v): exactly the third
    corners of the triangles whose (deg, id)-minimal corner pair is
    (u, v), so every triangle of the canonical edge set appears in
    exactly one row's array.

    This is the adjacency-intersection ("compact forward") shape and
    the one triangle enumerator: counting (`triangle_count`,
    `triangles_per_vertex`) sums the arrays, and k-truss support
    (`_triangle_support`) explodes them into (a, b, c) tuples.  It
    shuffles the m adjacency-list entries once instead of
    materializing Σ deg_out² wedge rows — on dense graphs the wedge
    table is orders of magnitude larger than the edge set (sf0.1's
    Z₅₀₀ graph: 20.3M wedges from 124k edges).  Out-degrees stay
    O(sqrt m) under the orientation, so no array exceeds ~sqrt(m)
    entries and the per-row intersection is hub-safe."""
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # repartition BEFORE the checkpoint: a tiny edge table otherwise
    # checkpoints into one block and the per-row intersections run
    # serially (measured 3.1 s → 0.5 s at sf0.1).  Hashing on u also
    # pre-aligns the adjacency groupBy and the u-join — the only
    # exchange left is the v-side adjacency attach.
    o = (
        _degree_oriented(edges)
        .repartition(n_part, "u")
        .localCheckpoint(eager=True)
    )
    adj = o.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    adj_v = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nbrs_v"))
    return (
        o.join(adj, "u")
        .join(adj_v, "v", "left")  # v may have no out-edges
        .select("u", "v", F.array_intersect("nbrs", "nbrs_v").alias("cs"))
    )


def triangle_count(graph: PropertyGraph) -> int:
    """Total number of triangles in the undirected graph."""
    row = (
        _oriented_intersections(_directed_canonical(graph))
        .agg(F.sum(F.size("cs")).alias("n"))
        .first()
    )
    return int(row["n"] or 0)


def triangles_per_vertex(graph: PropertyGraph) -> DataFrame:
    """(id, triangles) — number of triangles each vertex participates in.
    Matches the reference's per-vertex accumulate-update (algorithms.h:152-155
    accu onto vertex a) generalized to all three corners: for each
    intersection row (u, v, cs), u and v each close |cs| triangles and
    every c ∈ cs closes one."""
    inter = _oriented_intersections(_directed_canonical(graph)).filter(
        F.size("cs") > 0  # null (v without out-edges) sizes to null → dropped
    )
    uv = inter.select(
        F.explode(F.array("u", "v")).alias("id"), F.size("cs").alias("k")
    )
    cs = inter.select(F.explode("cs").alias("id"), F.lit(1).alias("k"))
    counts = uv.unionByName(cs).groupBy("id").agg(
        F.sum("k").alias("triangles")
    )
    return (
        graph.vertices.select("id")
        .join(counts, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )


# ---------------------------------------------------------------------------
# Matrix multiply — ref stub algorithms.h:185.  COO relational formulation.
# ---------------------------------------------------------------------------
def matmul(a: DataFrame, b: DataFrame) -> DataFrame:
    """A(i,k,v) × B(k,j,v) → (i, j, v).  Shuffle on the contraction key k,
    then hash-agg on (i, j) — both map-side-combinable."""
    return (
        a.select(F.col("i"), F.col("k"), F.col("v").alias("va"))
        .join(b.select(F.col("k"), F.col("j"), F.col("v").alias("vb")), "k")
        .groupBy("i", "j")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("v"))
    )


# ---------------------------------------------------------------------------
# Borůvka MST — ref stub `Prime` algorithms.h:200 (Prim intended; Borůvka is
# the parallel-friendly equivalent).  Undirected; returns the forest.
# ---------------------------------------------------------------------------
def boruvka_mst(graph: PropertyGraph, max_rounds: int = 64) -> DataFrame:
    """Minimum spanning forest edges (src, dst, weight).

    Deterministic tiebreak on (weight, src, dst).  Each round halves the
    component count, so rounds = O(log V); each round is a couple of
    joins + groupBys plus a small label-closure loop on the contracted
    component graph.
    """
    e = (
        graph.edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "weight",
        )
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
        .localCheckpoint(eager=True)
    )
    comp = graph.vertices.select(
        "id", F.col("id").alias("comp")
    ).localCheckpoint(eager=True)
    mst: DataFrame | None = None
    # every=1: Borůvka's round multiplies comp's estimated stats through
    # ec's double join plus the pointer-jump SELF-joins — the BigInt
    # bit-length grows ~17× per round, and by ~round 10 at sf0.1
    # BigInteger.checkRange throws (graph/sever.py, second pathology)
    rounds = Rounds(comp.sparkSession, "boruvka", every=1)
    for _bv_rnd in range(max_rounds):
        comp, mst = rounds.carry(_bv_rnd, comp, mst)
        ec = (
            e.join(comp.withColumnRenamed("id", "src").withColumnRenamed("comp", "cs"), "src")
            .join(comp.withColumnRenamed("id", "dst").withColumnRenamed("comp", "cd"), "dst")
            .filter(F.col("cs") != F.col("cd"))
        )
        if ec.limit(1).count() == 0:
            break
        # min outgoing edge per component, deterministic
        sided = ec.select(
            F.col("cs").alias("c"), "src", "dst", "weight", "cs", "cd"
        ).unionByName(
            ec.select(F.col("cd").alias("c"), "src", "dst", "weight", "cs", "cd")
        )
        w = Window.partitionBy("c").orderBy("weight", "src", "dst")
        chosen = (
            sided.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("src", "dst", "weight", "cs", "cd")
            .distinct()
            .localCheckpoint(eager=True)
        )
        mst = chosen.select("src", "dst", "weight") if mst is None else mst.unionByName(
            chosen.select("src", "dst", "weight")
        ).distinct()
        mst = mst.localCheckpoint(eager=True)
        # contract: union selected component pairs, then min-label closure
        pairs = chosen.select(
            F.least("cs", "cd").alias("a"), F.greatest("cs", "cd").alias("b")
        ).distinct()
        label = pairs.select(F.col("b").alias("c"), F.col("a").alias("to")).groupBy(
            "c"
        ).agg(F.min("to").alias("to"))
        # pointer-jump until stable (component graph is tiny vs. the data)
        mapping = label.localCheckpoint(eager=True)
        for _ in range(max_rounds):
            jumped = (
                mapping.alias("m1")
                .join(
                    mapping.alias("m2"),
                    F.col("m1.to") == F.col("m2.c"),
                    "left",
                )
                .select(
                    F.col("m1.c").alias("c"),
                    F.coalesce(F.col("m2.to"), F.col("m1.to")).alias("to"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                jumped.alias("j")
                .join(mapping.alias("m"), F.col("j.c") == F.col("m.c"))
                .filter(F.col("j.to") != F.col("m.to"))
                .limit(1)
                .count()
            )
            mapping = jumped
            if changed == 0:
                break
        comp = (
            comp.join(mapping, comp["comp"] == mapping["c"], "left")
            .select("id", F.coalesce("to", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
    if mst is None:
        return e.limit(0)
    return mst


# ---------------------------------------------------------------------------
# K-means — ref stub algorithms.h:212-250 (body is a PageRank copy, not a
# real k-means; we implement the real thing).  Deterministic: seeds are the
# k lowest-id points; Lloyd iterations with argmin by (dist, cid) tiebreak.
# ---------------------------------------------------------------------------
def kmeans(
    points: DataFrame,
    k: int,
    max_iter: int = 10,
    id_col: str = "id",
    vec_col: str = "vec",
    exact: bool = False,
) -> DataFrame:
    """Lloyd's algorithm over an array<double> column.

    Returns (id, cluster).  Centroids are broadcast (k × dim is tiny);
    assignment is a broadcast crossJoin + argmin via min(struct) — one
    shuffle per iteration for the centroid recompute, none for assignment.

    Seeding: the k smallest xxhash64(id) rows — deterministic (same
    seeds on any engine/partition layout) but hash-SPREAD across the
    input, so sorted-clustered data doesn't hand all k seeds to one
    true cluster the way first-k-by-id would (first-k degenerates to
    one-seed-per-run-of-ids when ids correlate with position).

    ``exact=True`` makes every iteration CROSS-ENGINE byte-exact (the
    q39 value-oracle mode — an ANSI-SQL engine running the unrolled
    iterations reproduces the assignment bit-for-bit):

    - seeds order by ``md5(cast(id as string))`` instead of xxhash64
      (same hash spread property; computable verbatim in any engine,
      xxhash64 is Spark-private);
    - centroid updates are exact-decimal means — per-dim
      ``cast(sum(cast(x as DECIMAL(20,14))) as double) / n`` instead
      of a double AVG, whose partial-sum order differs run-to-run and
      engine-to-engine in the last ulp (a boundary point then flips
      cells; bounds: |x| < 1e6, n·x̄ < 1e24 — float32-sourced
      embeddings are quantized losslessly at 14dp);
    - the argmin key is ``round(d², 6)`` with the cid tiebreak (the
      q48/q240 ranking discipline, sf10-verified there).
    """
    spark = points.sparkSession
    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    seed_key = (
        F.md5(F.col("id").cast("string").cast("binary"))
        if exact
        else F.xxhash64("id")
    )
    seeds = pts.orderBy(seed_key, F.col("id")).limit(k).collect()
    centroids = [(i, row["vec"]) for i, row in enumerate(seeds)]

    def dist2(vec: F.Column, cen: list[float]) -> F.Column:
        c = F.array(*[F.lit(float(x)) for x in cen])
        d = F.aggregate(
            F.zip_with("vec", c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(d, 6) if exact else d

    assign = None
    for _ in range(max_iter):
        dist_structs = F.array(
            *[
                F.struct(dist2(F.col("vec"), cen).alias("d"), F.lit(cid).alias("cid"))
                for cid, cen in centroids
            ]
        )
        assign = pts.select(
            "id", "vec", F.array_min(dist_structs)["cid"].alias("cluster")
        )
        # recompute centroids: per-dimension mean via posexplode
        mean_expr = (
            (
                F.sum(F.col("x").cast("decimal(20,14)")).cast("double")
                / F.count(F.lit(1))
            )
            if exact
            else F.avg("x")
        )
        dims = (
            assign.select("cluster", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(mean_expr.alias("m"))
        )
        new_rows = (
            dims.groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cluster", F.transform("pm", lambda s: s["m"]).alias("cen")
            )
            .collect()
        )
        new_centroids = sorted((r["cluster"], list(r["cen"])) for r in new_rows)
        if [c for _, c in new_centroids] == [c for _, c in centroids] and len(
            new_centroids
        ) == len(centroids):
            centroids = new_centroids
            break
        # keep empty clusters' previous centroid
        got = dict(new_centroids)
        centroids = [(cid, got.get(cid, cen)) for cid, cen in centroids]
    return assign.select("id", "cluster")


# ---------------------------------------------------------------------------
# k-core decomposition [EXT] — no reference analog; standard subgraph-mining
# primitive (densest-region extraction, spam/bot filtering on interaction
# graphs).  Synchronous peel: drop ALL vertices of degree < k each round;
# converges to the unique maximal subgraph with min degree >= k, so the
# schedule cannot change the answer (which is what makes the unrolled-CTE
# SQL oracle exact).
# ---------------------------------------------------------------------------
def k_core(
    graph: PropertyGraph,
    k: int,
    max_iter: int = 100,
    assume_simple: bool = False,
) -> DataFrame:
    """(id, core_degree) for vertices of the k-core, with their degree
    inside the core subgraph.

    Scale shape: per round, one degree agg + two semi-joins on the
    SHRINKING edge set (never the original graph), lineage truncated by
    an eager localCheckpoint, and exactly one O(1) driver action (the
    empty-check on the peel frontier).  Rounds are bounded by the
    degeneracy ordering depth, typically small on real graphs.

    ``assume_simple=True`` skips the symmetrize-distinct shuffle when
    the input edges are already a simple canonical (a<b) orientation —
    at 100 TB that is one full shuffle saved.
    """
    edges = _both_ways(graph.edges, distinct=not assume_simple)
    edges = edges.localCheckpoint(eager=True)
    rounds = Rounds(edges.sparkSession, "kcore")
    for rnd in range(max_iter):
        edges = rounds.carry(rnd, edges)
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("core_degree"))
        low = deg.filter(F.col("core_degree") < k).select("src")
        if low.isEmpty():
            break
        keep = (
            deg.filter(F.col("core_degree") >= k)
            .select("src")
            .localCheckpoint(eager=True)
        )
        edges = _induced(edges, keep)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("core_degree"))
    return deg.select(F.col("src").alias("id"), "core_degree")


def _louvain_local_moving(edges: DataFrame, max_rounds: int) -> DataFrame:
    """Phase-1 local moving over a symmetric weighted edge list (may
    contain self-loops from coarsening).  Returns (id, c).

    Self-loop handling: a contracted community's internal weight rides
    a (c, c, 2·w_intra) row.  It counts toward the vertex strength k
    (the Louvain k_i = Σ_j w_ij + 2·w_ii convention falls out of the
    symmetric-row representation for free) but is EXCLUDED from the
    move messages — a self-loop moves with its vertex, contributing
    equally to every candidate's score, so it cancels in the argmax."""
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("w").alias("k")
    ).localCheckpoint(eager=True)
    m = float(edges.agg((F.sum("w") / 2).alias("m")).first()["m"])
    msg_edges = edges.filter(F.col("src") != F.col("dst"))
    comm = deg.select("id", F.col("id").alias("c")).localCheckpoint(
        eager=True
    )
    rounds = Rounds(comm.sparkSession, "louvain")
    stalled = 0
    for rnd in range(max_rounds):
        comm = rounds.carry(rnd, comm)
        sigma = (
            comm.join(deg, "id").groupBy("c").agg(F.sum("k").alias("sigma"))
        )
        # w(v -> neighbor community)
        wvc = (
            msg_edges.join(
                comm.select(
                    F.col("id").alias("dst"), F.col("c").alias("nc")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"), F.col("nc").alias("cand"))
            .agg(F.sum("w").alias("wvc"))
        )
        cur = comm.join(deg, "id")
        cand = (
            wvc.join(cur, "id")
            .join(
                F.broadcast(
                    sigma.select(
                        F.col("c").alias("cand"),
                        F.col("sigma").alias("sig"),
                    )
                ),
                "cand",
            )
            .withColumn(
                "score",
                F.col("wvc")
                - F.col("k")
                * (
                    F.col("sig")
                    - F.when(
                        F.col("cand") == F.col("c"), F.col("k")
                    ).otherwise(0.0)
                )
                / F.lit(2 * m),
            )
        )
        best = cand.groupBy("id").agg(
            F.max(F.struct(F.col("score"), (-F.col("cand")).alias("nc")))
            .alias("b"),
            F.max(
                F.when(F.col("cand") == F.col("c"), F.col("wvc"))
            ).alias("stay_w"),
            F.first("c").alias("c_old"),
            F.first("k").alias("k"),
        ).join(
            F.broadcast(
                sigma.select(
                    F.col("c").alias("c_old"),
                    F.col("sigma").alias("sig_own"),
                )
            ),
            "c_old",
        )
        movable = F.pmod(F.xxhash64("id"), F.lit(2)) == F.lit(rnd % 2)
        # the stay baseline must be computed even when the vertex has
        # NO edge into its own community (no cand==c row): it is
        # 0 − k·(Σ_tot(c)−k)/(2m), NOT −inf — a singleton super-vertex
        # (every coarsened vertex starts as one) must still reject
        # negative-gain merges
        stay = (
            F.coalesce(F.col("stay_w"), F.lit(0.0))
            - F.col("k")
            * (F.col("sig_own") - F.col("k"))
            / F.lit(2 * m)
        )
        moves = best.select(
            "id",
            F.when(
                movable & (F.col("b.score") > stay + 1e-12),
                -F.col("b.nc"),
            )
            .otherwise(F.col("c_old"))
            .alias("c_move"),
        )
        # LEFT-join the moves back onto the full membership: a vertex
        # with no wvc rows (a coarsened community whose only edge is
        # its own self-loop — msg_edges excludes self-loops) has no
        # candidate row and therefore no `best` row; it must KEEP its
        # community, not vanish (an inner-join here silently dissolved
        # such communities into singletons at the next level merge)
        new_comm = (
            comm.select("id", F.col("c").alias("c_keep"))
            .join(moves, "id", "left")
            .select(
                "id", F.coalesce("c_move", "c_keep").alias("c")
            )
            .localCheckpoint(eager=True)
        )
        # the convergence probe joins two CHECKPOINTED frames — cheap;
        # checkpointing new_comm first keeps the heavy move plan from
        # executing twice (once for the probe, once next round)
        did_move = not (
            new_comm.join(
                comm.select("id", F.col("c").alias("c_prev")), "id"
            )
            .filter(F.col("c") != F.col("c_prev"))
            .limit(1)
            .isEmpty()
        )
        comm = new_comm
        if did_move:
            stalled = 0
        else:
            stalled += 1
            if stalled >= 2:  # a full even+odd cycle with no move
                break
    return comm


def louvain(
    graph: PropertyGraph,
    max_rounds: int = 20,
    levels: int = 2,
    assume_simple: bool = False,
) -> DataFrame:
    """Louvain modularity community detection (Blondel et al. 2008):
    synchronous local moving — every round each movable vertex picks
    the neighbor community with the best modularity gain
    Δ ∝ w(v→c) − k_v·Σ_tot\\v(c)/(2m) and moves if it strictly beats
    staying (deterministic smallest-community-id tiebreak) — followed
    by up to ``levels−1`` coarsening passes that contract communities
    to super-vertices (intra-community weight becomes a self-loop) and
    repeat the same moving plan on the quotient graph.  Returns
    (id, community).

    Synchronous application of all best-moves can oscillate (two
    vertices swapping communities forever), so moves alternate by
    vertex-hash parity — the standard distributed-Louvain fix: each
    round only half the vertices may move, which serializes swap pairs
    and preserves convergence (rounds stop when a full even+odd cycle
    makes no move).  Coarsening stops early when a pass contracts
    nothing.

    Scale shape per round: one edges⋈community join + one (v, c) sum
    agg for w(v→c); Σ_tot is a community-keyed agg broadcast back; the
    argmax is a max(struct) per vertex — no windows over raw edges, no
    driver data.  Each coarsening is one two-sided assignment join +
    one (c_src, c_dst) sum — and the quotient graph only shrinks.
    `modularity()` is the quality gate."""
    sym = graph.edges.select(
        "src", "dst",
        F.coalesce(
            F.col("weight") if "weight" in graph.edges.columns else F.lit(1.0),
            F.lit(1.0),
        ).alias("w"),
    ).filter(F.col("src") != F.col("dst"))
    sym = sym.unionByName(
        sym.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    if not assume_simple:
        sym = sym.groupBy("src", "dst").agg(F.max("w").alias("w"))

    mapping = None  # original id -> current community
    e_lvl = sym
    for level in range(max(1, levels)):
        comm = _louvain_local_moving(e_lvl, max_rounds)
        if mapping is None:
            mapping = comm
        else:
            # LEFT join: if a super-vertex is absent from the quotient
            # moving result (defensive — new_comm now preserves full
            # membership), its members keep their previous community
            # rather than being dropped and later singleton-ized
            mapping = (
                mapping.join(
                    comm.select(
                        F.col("id").alias("c"), F.col("c").alias("c_new")
                    ),
                    "c",
                    "left",
                )
                .select(
                    "id", F.coalesce("c_new", F.col("c")).alias("c")
                )
                .localCheckpoint(eager=True)
            )
        if level < levels - 1:
            n_v, n_c = comm.agg(
                F.count(F.lit(1)), F.count_distinct("c")
            ).first()
            if n_c == n_v:  # nothing contracted — fixpoint
                break
            a = comm.select(F.col("id").alias("src"), F.col("c").alias("cs"))
            b = comm.select(F.col("id").alias("dst"), F.col("c").alias("cd"))
            e_lvl = (
                e_lvl.join(a, "src")
                .join(b, "dst")
                .groupBy(
                    F.col("cs").alias("src"), F.col("cd").alias("dst")
                )
                .agg(F.sum("w").alias("w"))
            )
    # isolated vertices (no edges) never enter the move loop: they are
    # their own singleton communities
    return (
        graph.vertices.select("id")
        .join(mapping, "id", "left")
        .select("id", F.coalesce("c", F.col("id")).alias("community"))
    )


def diameter_double_sweep(
    graph: PropertyGraph, start: int | None = None, max_iter: int = 1000
) -> DataFrame:
    """Double-sweep BFS diameter estimate: BFS from ``start`` (default:
    smallest vertex id), take the farthest reachable vertex (max level,
    min-id tiebreak), BFS again from there — the second eccentricity is
    a lower bound on the true diameter, EXACT on trees and usually
    tight on real graphs (Magnien, Latapy & Habib's classic heuristic;
    the O(n·BFS) exact alternative is not a 100 TB plan).  Returns one
    row (start_id, peripheral_id, diameter_lb).  Cost = exactly two
    frontier-BFS runs; the two argmax reductions are 1-row aggs.
    Edges are followed as given (the bfs/sssp contract) — pass a
    symmetrized graph for undirected diameter."""
    if start is None:
        start = int(graph.vertices.agg(F.min("id")).first()[0])
    lv1 = bfs(graph, start, max_iter=max_iter).filter(F.col("level") >= 0)
    far = (
        lv1.orderBy(F.desc("level"), F.asc("id")).limit(1).first()
    )
    peripheral = int(far["id"])
    lv2 = bfs(graph, peripheral, max_iter=max_iter).filter(
        F.col("level") >= 0
    )
    return (
        lv2.agg(F.max("level").alias("diameter_lb"))
        .select(
            F.lit(start).cast("long").alias("start_id"),
            F.lit(peripheral).cast("long").alias("peripheral_id"),
            F.col("diameter_lb").cast("long"),
        )
    )


def coreness(
    graph: PropertyGraph,
    max_iter: int = 1000,
    assume_simple: bool = False,
    method: str = "hindex",
) -> DataFrame:
    """(id, coreness) for every vertex: the full k-core decomposition
    (coreness(v) = largest k such that v survives in the k-core).

    ``method="hindex"`` (default): h-index propagation (Lü, Zhou,
    Zhang & Stanley, "The H-index of a network node and its relation
    to degree and coreness", Nat. Commun. 2016) — initialize c(v) to
    degree, then iterate c(v) ← H(c(u) : u ∈ N(v)); the sequence is
    monotonically non-increasing and converges exactly to coreness.
    Each superstep is ONE join + ONE aggregation (fixed shape, like
    pagerank), supersteps = convergence depth — typically ≪ the number
    of core levels, so this is the scale path.  The per-vertex h-index
    runs over a degree-sized sorted array; on a graph with extreme
    hubs, prefer ``method="peel"`` (no per-vertex array materialized).

    ``method="peel"``: distributed peeling in increasing k, below.

    Each peel round is the k_core() inner step — one degree agg + two
    semi-joins on the SHRINKING edge set, lineage truncated by eager
    localCheckpoints, one O(1) driver action (`isEmpty` on the peel
    frontier).  When no vertex is below the current k, k advances to
    the smallest surviving degree (skipping empty levels), so total
    rounds are bounded by peel depth + number of occupied core levels —
    both degeneracy-bounded, independent of |V|.  Vertices that appear
    only as isolated ids in ``graph.vertices`` get coreness 0.

    Parity: the full decomposition the reference's fixed-k neighbor
    pruning (gmr.h:30 MAX_NEIGHBORSIZE) approximates from one side;
    ``coreness(v) >= k  <=>  v in k_core(graph, k)`` is the pytest
    cross-invariant.
    """
    spark = graph.edges.sparkSession
    edges = _both_ways(graph.edges, distinct=not assume_simple)
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    if method == "hindex":
        # h-index of a sorted-desc value array xs: #{i : xs[i] >= i}
        # (1-based) — computed as a codegen expression, no UDF
        est = deg.select(
            "src", F.col("deg").cast("long").alias("c")
        ).localCheckpoint(eager=True)
        rounds = Rounds(spark, "coreness")
        for _hx_rnd in range(max_iter):
            est = rounds.carry(_hx_rnd, est)
            nbr = edges.join(
                est.withColumnRenamed("src", "dst").withColumnRenamed(
                    "c", "nc"
                ),
                "dst",
            )
            new = (
                nbr.groupBy("src")
                .agg(
                    F.expr(
                        "size(filter(transform("
                        "  sort_array(collect_list(nc), false),"
                        "  (x, i) -> x >= i + 1), b -> b))"
                    )
                    .cast("long")
                    .alias("c")
                )
                .localCheckpoint(eager=True)
            )
            done = (
                new.join(est.withColumnRenamed("c", "c_old"), "src")
                .filter(F.col("c") != F.col("c_old"))
                .limit(1)
                .isEmpty()
            )
            est = new
            if done:
                break
        return (
            graph.vertices.select("id")
            .join(
                est.select(
                    F.col("src").alias("id"), F.col("c").alias("coreness")
                ),
                "id",
                "left",
            )
            .fillna(0, subset=["coreness"])
        )

    out_schema = "id long, coreness long"
    peeled = spark.createDataFrame([], out_schema)
    # peeled rides along the severs so its lazy union over many rounds'
    # frontiers stays shallow too
    rounds = Rounds(spark, "peel")
    k = 1
    for _peel_rnd in range(max_iter):
        edges, peeled = rounds.carry(_peel_rnd, edges, peeled)
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # ONE driver action per round: emptiness check + the smallest
        # surviving degree (for the empty-level jump) from one agg
        n, mn = deg.agg(F.count(F.lit(1)), F.min("deg")).first()
        if n == 0:
            break
        if mn >= k:
            # level k is fully carved — jump past the empty levels; the
            # min-degree vertices peel this very round at level mn+1
            k = int(mn) + 1
        # everything peeled while the k-core is being carved has
        # coreness k-1.  The accumulator is a lazy union of tiny
        # per-round frontiers over checkpointed sources — no job.
        low = deg.filter(F.col("deg") < k)
        peeled = peeled.unionByName(
            low.select(
                F.col("src").alias("id"),
                F.lit(k - 1).cast("long").alias("coreness"),
            )
        )
        keep = (
            deg.filter(F.col("deg") >= k)
            .select("src")
            .localCheckpoint(eager=True)
        )
        edges = _induced(edges, keep)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # survivors of the last completed carve (only when max_iter hit
    # with edges remaining) plus isolated vertices
    rest = deg.select(
        F.col("src").alias("id"), F.lit(k - 1).cast("long").alias("coreness")
    )
    out = peeled.unionByName(rest)
    return (
        graph.vertices.select("id")
        .join(out, "id", "left")
        .fillna(0, subset=["coreness"])
    )


# ---------------------------------------------------------------------------
# Personalized PageRank — random walk with restart to a seed set.
# Same superstep shape as pagerank() (one join + one agg per step, one
# Spark job per check_interval chunk); only the teleport vector differs:
# uniform over the seed set instead of uniform over V, and dangling mass
# restarts to the seeds.  The workhorse of seed-expansion retrieval
# ("find documents related to these") over a similarity graph.
# ---------------------------------------------------------------------------
def personalized_pagerank(
    graph: PropertyGraph,
    sources: Sequence[int],
    damping: float = 0.85,
    max_iter: int = 20,
    threshold: float = 1e-6,
    check_interval: int = 1,
) -> DataFrame:
    """Returns (id, rank) with restart distribution uniform over
    ``sources``.  Ranks sum to ~1 over the reachable set."""
    if not sources:
        raise ValueError("sources must be non-empty")
    srcs = sorted(set(int(s) for s in sources))
    e_v = 1.0 / len(srcs)

    with persisted(graph.edges):
        deg = planned(graph.out_degrees())
        lg = LocalGraph.collect(graph, weighted=False)
        if lg is not None:
            restart = np.where(lg.valid & np.isin(lg.key, srcs), e_v, 0.0)
            return _rank_local(
                lg,
                restart,
                lg.out_degree(),
                lambda mass: ((1.0 - damping) + damping * mass) * restart,
                damping=damping,
                dangling=True,
                max_iter=max_iter,
                threshold=threshold,
                check_interval=check_interval,
            )
        deg = deg.localCheckpoint(eager=True)
        restart = F.when(F.col("id").isin(srcs), F.lit(e_v)).otherwise(0.0)
        return _rank_fixpoint(
            graph.edges,
            deg.withColumn("rank", restart),
            (F.lit(1.0 - damping) + F.lit(damping) * F.col("_dangling"))
            * restart,
            damping=damping,
            dangling=True,
            max_iter=max_iter,
            threshold=threshold,
            check_interval=check_interval,
            tag="ppr",
        )


# ---------------------------------------------------------------------------
# Label propagation communities (synchronous, deterministic).
# Per round: (dst, label) count agg, then per-dst argmax with
# (count desc, label asc) tie-break folded into ONE struct-min agg —
# two map-side-combinable aggs + one left join per round, no window.
# Fixed round count: synchronous LPA can 2-cycle on bipartite
# structures, so callers pick max_iter and results are reproducible.
# ---------------------------------------------------------------------------
def label_propagation(
    graph: PropertyGraph,
    max_iter: int = 5,
    symmetrize: bool = True,
) -> DataFrame:
    """Returns (id, label): community = fixed-point-ish of 'adopt the
    most frequent neighbor label, ties to the smallest label'."""
    edges = graph.edges.select("src", "dst")
    if symmetrize:
        # distinct IS required here (unlike WCC, whose min-agg absorbs
        # duplicates): a reciprocal directed pair must not double the
        # neighbor's vote.  One extra shuffle, amortized over rounds by
        # the persist below.
        edges = _both_ways(graph.edges, distinct=True)
    labels = graph.vertices.select("id", F.col("id").alias("label"))
    with persisted(edges, base=graph.edges):
        for _ in range(max_iter):
            cnt = (
                edges.join(labels, edges["src"] == labels["id"])
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            # min of (-c, label) == (max count, then smallest label)
            best = cnt.groupBy("id").agg(
                F.min(F.struct((-F.col("c")).alias("nc"), "label"))[
                    "label"
                ].alias("new_label")
            )
            labels = (
                labels.join(best, "id", "left")
                .select(
                    "id",
                    F.coalesce("new_label", "label").alias("label"),
                )
                .localCheckpoint(eager=True)
            )
    return labels


# ---------------------------------------------------------------------------
# k-truss — the edge-analog of k_core: the maximal subgraph in which
# every edge closes at least k-2 triangles.  Same synchronous-peel
# driver shape as k_core (ref BSP loop gmr.cpp:224-232): per round one
# triangle enumeration + one support agg + one filter on the SHRINKING
# edge set, eager localCheckpoint lineage truncation, one O(1) driver
# action (the peel-frontier empty check).
# ---------------------------------------------------------------------------
def _triangle_support(edges: DataFrame) -> DataFrame:
    """(a, b, support) for every canonical edge: the number of
    triangles of ``edges`` it closes (each triangle credits its three
    edges), eagerly checkpointed."""
    t = F.array_sort(F.array("u", "v", "c"))
    tri = (
        _oriented_intersections(edges)
        .select("u", "v", F.explode("cs").alias("c"))
        .select(t[0].alias("a"), t[1].alias("b"), t[2].alias("c"))
    )
    support = (
        tri.select("a", "b")
        .unionAll(tri.select(F.col("b").alias("a"), F.col("c").alias("b")))
        .unionAll(tri.select("a", F.col("c").alias("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return edges.join(support, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).alias("support")
    ).localCheckpoint(eager=True)


def k_truss(graph: PropertyGraph, k: int, max_iter: int = 50) -> DataFrame:
    """(a, b, support) — the canonical (a<b) edges of the k-truss with
    their triangle support inside the truss.

    Triangles are enumerated once per recount by the degree-oriented
    adjacency intersection (`_oriented_intersections` — each triangle
    once, in the array of its lowest-degree corner pair, out-degrees
    bounded O(sqrt m) so power-law hubs can't go quadratic; exploded
    and re-canonicalized to a<b<c ids by `_triangle_support`), then
    each triangle credits its three edges; support is one
    map-side-combinable count agg.  Rounds are bounded by the truss
    peeling depth — typically a handful on real graphs, since each
    round removes every under-supported edge at once.
    """
    if k < 2:
        raise ValueError("k-truss requires k >= 2")
    need = k - 2
    edges = _directed_canonical(graph).localCheckpoint(eager=True)
    # full triangle enumeration exactly ONCE; every later round only
    # touches triangles adjacent to removals
    scored = _triangle_support(edges)
    n_edges = scored.count()
    rounds = Rounds(scored.sparkSession, "ktruss")
    for _tr_rnd in range(max_iter):
        scored = rounds.carry(_tr_rnd, scored)
        removed = (
            scored.filter(F.col("support") < need)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        n_removed = removed.count()
        if n_removed == 0:
            return scored
        survivors = scored.filter(F.col("support") >= need).select("a", "b")
        n_edges -= n_removed
        if n_removed > 0.02 * n_edges:
            # dense round (the peel's head): a removal-centric pass
            # would touch most triangles anyway — recount on the
            # smaller survivor graph instead (re-orienting: degrees
            # change as edges peel)
            scored = _triangle_support(survivors.localCheckpoint(eager=True))
            continue
        # sparse round (the peel's tail): INCREMENTAL maintenance —
        # enumerate only the current graph's triangles containing >=1
        # removed edge (common neighbors of each removed pair), dedup
        # on the triangle id so a triangle losing 2-3 edges at once
        # still decrements its surviving edges exactly once, then
        # subtract.  Cost O(removed x degree), not a full recount.
        nbrs, _ = _adjacency(scored.select("a", "b"))
        na = nbrs.select(F.col("id").alias("a"), F.col("nbr").alias("w"))
        nb = nbrs.select(F.col("id").alias("b"), F.col("nbr").alias("w"))
        tri_r = (
            removed.join(na, "a")
            .join(nb, ["b", "w"])
            .select(F.array_sort(F.array("a", "b", "w")).alias("t"))
            .distinct()
            .select(
                F.col("t")[0].alias("v1"),
                F.col("t")[1].alias("v2"),
                F.col("t")[2].alias("v3"),
            )
        )
        dec = (
            tri_r.select(F.col("v1").alias("a"), F.col("v2").alias("b"))
            .unionAll(
                tri_r.select(F.col("v1").alias("a"), F.col("v3").alias("b"))
            )
            .unionAll(
                tri_r.select(F.col("v2").alias("a"), F.col("v3").alias("b"))
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("_dec"))
        )
        scored = (
            scored.filter(F.col("support") >= need)
            .join(dec, ["a", "b"], "left")
            .select(
                "a",
                "b",
                (F.col("support") - F.coalesce("_dec", F.lit(0))).alias(
                    "support"
                ),
            )
            .localCheckpoint(eager=True)
        )
    # max_iter exhausted without reaching the fixpoint: the result would
    # silently include under-supported edges — fail loudly instead
    raise RuntimeError(f"k_truss did not converge within {max_iter} rounds")


def harmonic_centrality(
    graph: PropertyGraph,
    sources: Sequence[int],
    max_iter: int = MAX_ITERATION,
) -> DataFrame:
    """Sampled harmonic centrality: (id, harmonic) with
    ``harmonic(v) = sum over seed sources s of 1/dist(s, v)`` (directed
    BFS distances, unreachable pairs contribute nothing, sources don't
    score themselves).  With sources = a uniform sample this is the
    standard estimator for full harmonic centrality at 1/|V| of the
    all-pairs cost; with a fixed seed list it is deterministic and
    oracle-checkable.

    All sources advance in ONE tagged frontier (`multi_source_levels`,
    state keyed (source, vertex)), so the superstep count is the max
    BFS depth, not depth × |sources| — measured 3× fewer Spark jobs
    than the original per-source loop at 3 sources.
    """
    if not sources:
        raise ValueError("harmonic_centrality needs at least one source")
    levels = multi_source_levels(graph, sources, max_depth=max_iter)
    return (
        levels.filter(F.col("level") > 0)
        .groupBy("id")
        .agg(F.sum(F.lit(1.0) / F.col("level")).alias("harmonic"))
    )


def maximal_matching(
    graph: PropertyGraph, max_iter: int = 100
) -> DataFrame:
    """Distributed greedy MAXIMAL matching via the mutual-minimum
    handshake (the classic BSP matching: Israeli–Itai shape with
    deterministic id priorities): each round every still-unmatched
    vertex proposes to its smallest unmatched neighbor, edges whose
    endpoints propose to EACH OTHER join the matching, and both
    endpoints leave the game.  At least the locally-minimal edges
    shake hands every round (following smaller-neighbor pointers is
    strictly decreasing, so a mutual pair always exists), giving
    classical expected O(log n) rounds on id-spread graphs.  Returns
    (a, b) matched edges with a < b — disjoint by construction, and
    MAXIMAL: on exit no surviving edge has two unmatched endpoints.

    Per round: one neighbor-min agg + one self-join of the proposal
    table + two semi-join shrinks of the active edge set, lineage
    truncated by eager localCheckpoints and the LineageSeverer past
    the chain cliff; one O(1) driver emptiness probe.  Raises if
    ``max_iter`` rounds don't drain the edge set — a silently partial
    matching is not maximal."""
    nbrs, _ = _adjacency(_directed_canonical(graph))
    edges = nbrs.toDF("src", "dst").localCheckpoint(eager=True)
    matched_parts = []
    rounds = Rounds(edges.sparkSession, "matching")
    for rnd in range(max_iter):
        if edges.isEmpty():
            break
        edges = rounds.carry(rnd, edges)
        prop = edges.groupBy("src").agg(F.min("dst").alias("to"))
        mutual = (
            prop.join(
                prop.select(
                    F.col("src").alias("to"), F.col("to").alias("back")
                ),
                "to",
            )
            .filter(F.col("back") == F.col("src"))
            .filter(F.col("src") < F.col("to"))
            .select(F.col("src").alias("a"), F.col("to").alias("b"))
            .localCheckpoint(eager=True)
        )
        matched_parts.append(mutual)
        gone = mutual.select(F.col("a").alias("id")).unionByName(
            mutual.select(F.col("b").alias("id"))
        )
        edges = (
            edges.join(
                gone.withColumnRenamed("id", "src"), "src", "left_anti"
            )
            .join(
                gone.withColumnRenamed("id", "dst"), "dst", "left_anti"
            )
            .localCheckpoint(eager=True)
        )
    # post-loop emptiness check, NOT for/else: a matching that drains
    # exactly during the final allowed round leaves the loop by range
    # exhaustion with a complete maximal matching — only a genuinely
    # non-empty residual edge set is a failure (O(1) probe on the
    # checkpointed frame)
    if not edges.isEmpty():
        raise RuntimeError(
            f"maximal_matching did not drain in {max_iter} rounds"
        )
    if not matched_parts:
        return (
            graph.edges.select(
                F.col("src").alias("a"), F.col("dst").alias("b")
            ).limit(0)
        )
    return reduce(DataFrame.unionByName, matched_parts)


def maximal_independent_set(graph: PropertyGraph, max_iter: int = 60) -> DataFrame:
    """Luby's parallel MIS with DETERMINISTIC priorities: vertex v joins
    the independent set when its priority (portable md5-60bit of the id)
    beats every still-active neighbor's; v and its neighbors then leave
    the game.  Hash priorities instead of per-round RNG keep the
    classical O(log n)-round behavior while making the result a pure
    function of the graph — reproducible across runs, engines and
    partitionings, hence oracle-checkable.

    Per round: one neighbor-min agg + one anti-join on the SHRINKING
    active set (edges re-filtered by semi-joins), eager localCheckpoint
    lineage truncation, one O(1) driver emptiness check.  Returns (id)
    rows of the MIS.  Raises if max_iter rounds don't finish — a
    silently partial MIS is not independent-set-maximal.
    """
    from graphmapreduce_spark.functions.text import md5_hash60

    nbrs, _ = _adjacency(_directed_canonical(graph))
    edges = nbrs.toDF("src", "dst").localCheckpoint(eager=True)
    active = graph.vertices.select(
        "id", md5_hash60(F.concat(F.col("id").cast("string"), F.lit(":mis"))).alias("pri")
    ).localCheckpoint(eager=True)
    mis_parts = []
    rounds = Rounds(active.sparkSession, "mis")
    for _mis_rnd in range(max_iter):
        active, edges = rounds.carry(_mis_rnd, active, edges)
        if active.isEmpty():
            if not mis_parts:  # empty graph
                return graph.vertices.select("id").limit(0)
            return reduce(DataFrame.unionByName, mis_parts)
        nb_min = (
            edges.join(active.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.min("pri").alias("_mn"))
            .withColumnRenamed("dst", "id")
        )
        winners = (
            active.join(nb_min, "id", "left")
            .filter(F.col("_mn").isNull() | (F.col("pri") < F.col("_mn")))
            .select("id")
            .localCheckpoint(eager=True)
        )
        mis_parts.append(winners)
        removed = winners.unionByName(
            edges.join(winners.withColumnRenamed("id", "src"), "src").select(
                F.col("dst").alias("id")
            )
        ).distinct()
        active = active.join(removed, "id", "left_anti").localCheckpoint(
            eager=True
        )
        edges = _induced(edges, active.select("id"))
    raise RuntimeError(f"maximal_independent_set did not finish in {max_iter} rounds")


def deterministic_walks(
    graph: PropertyGraph,
    walk_length: int = 5,
    starts: DataFrame | None = None,
) -> DataFrame:
    """Random-walk corpus generation (the node2vec/DeepWalk input stage)
    with DETERMINISTIC transitions: from each start vertex, step t moves
    to the out-neighbor minimizing md5(cur, t, neighbor) — a fixed
    pseudo-random choice, so the corpus is a pure function of the graph
    (reproducible across runs/engines, diversified across steps by the
    step salt).  Walks stop early at sinks.

    Returns (start, step, node) rows, step 0 = the start itself.
    Scale shape: one hash join + one min-struct agg per step against the
    cached edge table — walk_length sequential joins, each shuffling
    only the frontier (|starts| rows), never the edge set.
    """
    from graphmapreduce_spark.functions.text import md5_hash60

    edges = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    if starts is None:
        starts = graph.vertices.select(F.col("id").alias("start"))
    cur = starts.select("start", F.col("start").alias("node"))
    out = [cur.select("start", F.lit(0).alias("step"), "node")]
    for t in range(1, walk_length + 1):
        hop = (
            cur.join(edges, cur["node"] == edges["src"])
            .select(
                "start",
                F.col("dst"),
                md5_hash60(
                    F.concat_ws("|", F.col("node"), F.lit(str(t)), F.col("dst"))
                ).alias("_h"),
            )
            .groupBy("start")
            .agg(F.min(F.struct("_h", "dst")).alias("_w"))
            .select("start", F.col("_w.dst").alias("node"))
        )
        cur = hop.localCheckpoint(eager=True)
        out.append(cur.select("start", F.lit(t).alias("step"), "node"))
    return reduce(DataFrame.unionByName, out)


# ---------------------------------------------------------------------------
# Local clustering coefficient — composes the triangle machinery
# (ref algorithms.h:97-180) with undirected degrees: cc(v) =
# 2*tri(v) / (deg(v)*(deg(v)-1)), 0 where deg < 2.
# ---------------------------------------------------------------------------
def clustering_coefficient(graph: PropertyGraph) -> DataFrame:
    """(id, degree, triangles, cc) for every vertex.

    Scale shape: triangles come from the degree-oriented adjacency
    intersection (`triangles_per_vertex` over
    `_oriented_intersections`); degrees from the simple undirected
    adjacency's degree table (`_adjacency`); a final key join stitches
    them.  No driver loop, no UDF — all whole-stage-codegen
    expressions."""
    _, deg = _adjacency(_directed_canonical(graph))
    tri = triangles_per_vertex(graph)
    return (
        tri.join(deg, "id", "left")
        .select(
            "id",
            F.coalesce("deg", F.lit(0)).alias("degree"),
            "triangles",
        )
        .select(
            "id",
            "degree",
            "triangles",
            F.when(F.col("degree") < 2, F.lit(0.0))
            .otherwise(
                2.0 * F.col("triangles")
                / (F.col("degree") * (F.col("degree") - 1))
            )
            .alias("cc"),
        )
    )


# ---------------------------------------------------------------------------
# Common-neighbour pairs — the link-prediction / entity-resolution
# primitive behind vertex Jaccard, Adamic-Adar and bipartite projection.
# Inverted-index formulation.
# ---------------------------------------------------------------------------
def _common_neighbours(
    inc: DataFrame,
    max_degree: int | None = None,
    min_common: int = 1,
    weighted: bool = False,
) -> DataFrame:
    """(id_a, id_b, common) for the leaf pairs id_a < id_b of a distinct
    incidence table ``inc`` = (c, leaf) that share at least
    ``min_common`` centers c, ``common`` counting the shared centers;
    ``weighted`` adds ``score`` = Σ 1/ln(deg c) over them (Adamic-Adar),
    deg c being the center's number of leaves.

    Pairs are generated ONLY through shared centers (a self-join on the
    center, the same inverted-index blocking as
    `ngram_jaccard_pairs`), never an all-pairs cross, so the cost is
    Σ_c deg(c)².  A hub center of degree 10⁶ alone would make 10¹²
    pairs; ``max_degree`` drops the centers above it from pair
    generation.  The center degree is a window over the join key, so it
    rides the self-join's hash partitioning; it is taken only when the
    cap or the score needs it (uncapped, an unweighted call pays no sort
    for it).  A center in a pair has at least two leaves, so the score
    never divides by ln 1 = 0."""
    if weighted or max_degree is not None:
        inc = inc.withColumn(
            "_deg", F.count(F.lit(1)).over(Window.partitionBy("c"))
        )
    if max_degree is not None:
        inc = inc.filter(F.col("_deg") <= max_degree)
    aggs = [F.count(F.lit(1)).alias("common")]
    if weighted:
        w = F.lit(1.0) / F.log(F.col("l._deg").cast("double"))
        aggs.append(F.sum(w).alias("score"))
    l, r = inc.alias("l"), inc.alias("r")
    return (
        l.join(
            r,
            (F.col("l.c") == F.col("r.c"))
            & (F.col("l.leaf") < F.col("r.leaf")),
        )
        .groupBy(
            F.col("l.leaf").alias("id_a"), F.col("r.leaf").alias("id_b")
        )
        .agg(*aggs)
        .filter(F.col("common") >= min_common)
    )


def vertex_jaccard(
    graph: PropertyGraph,
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """(id_a, id_b, common, jaccard) for vertex pairs sharing ≥
    ``min_common`` neighbors, id_a < id_b, over the undirected simple
    graph.  jaccard = |N(a)∩N(b)| / |N(a)∪N(b)|.

    Pairs come from `_common_neighbours` over the simple undirected
    adjacency; ``max_degree`` drops hub centers from pair GENERATION
    (their edges still count toward degrees), the standard
    approximation for power-law graphs."""
    nbrs, deg = _adjacency(_directed_canonical(graph))
    common = _common_neighbours(nbrs.toDF("c", "leaf"), max_degree, min_common)
    da = deg.select(F.col("id").alias("id_a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("id").alias("id_b"), F.col("deg").alias("_db"))
    return (
        common.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            (
                F.col("common")
                / (F.col("_da") + F.col("_db") - F.col("common"))
            ).alias("jaccard"),
        )
    )


def greedy_coloring(graph: PropertyGraph, max_colors: int = 64) -> DataFrame:
    """(id, color) proper vertex coloring via iterative MIS peeling
    (Jones-Plassmann by rounds): color c is a maximal independent set
    of the still-uncolored subgraph, then those vertices and their
    incident edges leave.  Uses ≤ Δ+1 colors on any graph (each round's
    MIS is maximal, so every uncolored vertex loses at least one
    uncolored neighbor per round) and is deterministic — the underlying
    `maximal_independent_set` runs on md5 hash priorities, so the
    coloring is a pure function of the graph.

    Per color: one MIS (itself O(log n) supersteps), one anti-join to
    shrink vertices, two semi-joins to shrink edges — all on the
    SHRINKING remainder, eagerly checkpointed, with `LineageSeverer`
    keeping the per-round chain below the measured ~16-checkpoint
    cliff.  Raises if ``max_colors`` rounds leave vertices uncolored
    (a silently partial coloring is not a coloring)."""
    verts = graph.vertices.select("id").distinct().localCheckpoint(
        eager=True
    )
    edges = (
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    parts = []
    rounds = Rounds(verts.sparkSession, "coloring")
    for color in range(max_colors):
        if verts.isEmpty():
            break
        verts, edges = rounds.carry(color, verts, edges)
        sub = PropertyGraph(verts, edges, prepartition=False)
        mis = maximal_independent_set(sub).localCheckpoint(eager=True)
        parts.append(mis.withColumn("color", F.lit(color)))
        verts = verts.join(mis, "id", "left_anti").localCheckpoint(
            eager=True
        )
        edges = _induced(edges, verts)
    else:
        if not verts.isEmpty():
            raise RuntimeError(
                f"greedy_coloring: vertices remain after {max_colors} colors"
            )
    if not parts:
        return graph.vertices.select(
            "id", F.lit(0).alias("color")
        ).limit(0)
    return reduce(DataFrame.unionByName, parts)


def adamic_adar(
    graph: PropertyGraph,
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """(id_a, id_b, common, score) Adamic-Adar link-prediction scores
    for NON-adjacent vertex pairs: score = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z)
    — rare shared neighbors count more than hubs.  Pairs with id_a <
    id_b and ≥ ``min_common`` shared neighbors; already-connected pairs
    are removed (that is the link-prediction contract).

    Same pair generation as `vertex_jaccard` (`_common_neighbours`,
    whose weighted score is this measure), and the adjacency exclusion
    is a left_anti against the canonical edge set.  ``max_degree`` drops
    hub centers from pair generation (their edges still count toward
    degrees) — degree-1 centers contribute nothing (ln 1 = 0 would
    divide by zero) and are excluded by definition of the measure."""
    und = _directed_canonical(graph)
    nbrs, _ = _adjacency(und)
    pairs = _common_neighbours(
        nbrs.toDF("c", "leaf"), max_degree, min_common, weighted=True
    )
    adj = und.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    return pairs.join(adj, ["id_a", "id_b"], "left_anti").select(
        "id_a", "id_b", "common", "score"
    )


# ---------------------------------------------------------------------------
# Whole-graph structure statistics — degree assortativity and partition
# modularity, the two standard "is this graph healthy / well-clustered"
# scalars.  Both are single-scan aggregates over the symmetrized edges.
# ---------------------------------------------------------------------------
def degree_assortativity(graph: PropertyGraph) -> DataFrame:
    """One-row (assortativity DOUBLE): Pearson correlation of endpoint
    degrees over the symmetrized undirected edge set (Newman 2002).
    Positive = hubs link hubs; negative = hub-leaf (most real webs).

    Degrees via one agg; the correlation from co-moment aggregates over
    the degree-annotated edges — two hash joins, no iteration.  NOT the
    built-in ``corr``: under ANSI mode it throws DIVIDE_BY_ZERO when a
    side has zero variance, and a k-REGULAR graph has exactly that
    (every endpoint degree equal); this returns NULL there, matching
    SQL ``corr`` semantics (assortativity is undefined on regular
    graphs)."""
    nbrs, deg = _adjacency(_directed_canonical(graph))
    da = deg.select("id", F.col("deg").alias("_da"))
    db = deg.select(F.col("id").alias("nbr"), F.col("deg").alias("_db"))
    return (
        nbrs.join(da, "id")
        .join(db, "nbr")
        .agg(
            F.try_divide(
                F.covar_samp("_da", "_db"),
                F.stddev_samp("_da") * F.stddev_samp("_db"),
            ).alias("assortativity")
        )
    )


def modularity(graph: PropertyGraph, communities: DataFrame) -> DataFrame:
    """One-row (modularity DOUBLE): Newman modularity Q of a community
    assignment ``communities(id, community)`` over the undirected simple
    graph — Q = Σ_c [ e_c/m − (a_c/2m)² ] with e_c = intra-community
    edges, a_c = degree mass of c, m = total undirected edges.

    The quality gate for `label_propagation` / `locality_partition`
    output.  Two broadcastable joins of the assignment onto the
    canonical edge set + two tiny aggs — no iteration, no collect of
    anything larger than the community list."""
    und = _directed_canonical(graph)
    m = und.agg(F.count(F.lit(1)).alias("m"))
    ca = communities.select(
        F.col("id").alias("a"), F.col("community").alias("_ca")
    )
    cb = communities.select(
        F.col("id").alias("b"), F.col("community").alias("_cb")
    )
    tagged = und.join(ca, "a").join(cb, "b")
    intra = (
        tagged.filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    nbrs, _ = _adjacency(und)
    degmass = (
        nbrs.toDF("a", "b")
        .join(ca, "a")
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("a_c"))
    )
    per_c = degmass.join(intra, "community", "left").select(
        "community",
        F.coalesce("e_c", F.lit(0)).alias("e_c"),
        "a_c",
    )
    return per_c.crossJoin(F.broadcast(m)).agg(
        F.sum(
            F.col("e_c") / F.col("m")
            - F.pow(F.col("a_c") / (2.0 * F.col("m")), 2)
        ).alias("modularity")
    )


# ---------------------------------------------------------------------------
# HITS (Kleinberg hubs & authorities) — same BSP family as the reference's
# PageRank (algorithms.h:4-37): two message exchanges per iteration instead
# of one, each a join + groupBy-sum.
# ---------------------------------------------------------------------------
def hits(
    graph: PropertyGraph,
    max_iter: int = 8,
    check_interval: int = 4,
) -> DataFrame:
    """Returns (id, auth, hub) after ``max_iter`` full HITS iterations
    with L2-normalized output.

    One iteration = auth(v) ← Σ_{u→v} hub(u), then
    hub(u) ← Σ_{u→v} auth(v) — each half-step one shuffle (join on the
    edge endpoint + hash agg).  The iteration runs UN-normalized and
    the L2 norm is applied once at the end: both half-steps are linear
    maps, so per-iteration norm scalars factor straight through and the
    final normalized vectors are mathematically identical to
    per-iteration-normalized HITS — but skipping the in-loop norm
    removes one global agg + broadcast per half-step, letting
    ``check_interval`` iterations chain as ONE lazy plan per eager
    checkpoint (the pagerank batching).  First version normalized every
    half-step in-plan; the norm broadcast re-executed its lineage on
    materialization, compounding per iteration — measured 19x slower
    at the same iteration count.

    Un-normalized values grow like λ_max^iter (λ_max ≤ max degree), so
    doubles (1e308) overflow only past ~150 iterations on even a
    degree-1e6 graph; for longer runs lower ``check_interval`` and
    renormalize at checkpoints.  Per-step state is one row per vertex,
    far below message volume, at any cluster size.
    """
    with persisted(graph.edges) as cached:
        edges = graph.edges
        v = graph.vertices.select("id").localCheckpoint(eager=True)

        hub = v.select("id", F.lit(1.0).alias("hub"))
        auth = v.select("id", F.lit(0.0).alias("auth"))
        interval = max(1, check_interval)
        for it in range(1, max_iter + 1):
            araw = (
                edges.join(hub, edges["src"] == hub["id"])
                .select(F.col("dst").alias("id"), F.col("hub").alias("_c"))
                .groupBy("id")
                .agg(F.sum("_c").alias("_raw"))
            )
            auth = v.join(araw, "id", "left").select(
                "id", F.coalesce("_raw", F.lit(0.0)).alias("auth")
            )
            checkpoint_now = it % interval == 0 and it < max_iter
            if checkpoint_now:
                # cut auth BEFORE deriving hub from it — checkpointing
                # after would leave hub's captured lineage pointing at the
                # pre-checkpoint auth plan, re-executing the whole chunk
                auth = auth.localCheckpoint(eager=True)
            hraw = (
                edges.join(auth, edges["dst"] == auth["id"])
                .select(F.col("src").alias("id"), F.col("auth").alias("_c"))
                .groupBy("id")
                .agg(F.sum("_c").alias("_raw"))
            )
            hub = v.join(hraw, "id", "left").select(
                "id", F.coalesce("_raw", F.lit(0.0)).alias("hub")
            )
            if checkpoint_now:
                hub = hub.localCheckpoint(eager=True)
        # single final normalization: one joined pass, norms as one
        # broadcast 1-row agg over the joined (auth, hub) state
        joined = auth.join(hub, "id").localCheckpoint(eager=True)
        norms = joined.agg(
            F.sqrt(F.sum(F.col("auth") * F.col("auth"))).alias("_na"),
            F.sqrt(F.sum(F.col("hub") * F.col("hub"))).alias("_nh"),
        )
        out = joined.crossJoin(F.broadcast(norms)).select(
            "id",
            F.when(F.col("_na") > 0, F.col("auth") / F.col("_na"))
            .otherwise(F.lit(0.0))
            .alias("auth"),
            F.when(F.col("_nh") > 0, F.col("hub") / F.col("_nh"))
            .otherwise(F.lit(0.0))
            .alias("hub"),
        )
        if cached:
            out = out.localCheckpoint(eager=True)
    return out


# ---------------------------------------------------------------------------
# Closeness centrality (sampled-source estimator) — companion to
# harmonic_centrality above: same per-source frontier-filtered BFS over
# the shared cached edge table, different collapse (sum of distances
# instead of sum of reciprocals, plus the reached count).
# ---------------------------------------------------------------------------
def closeness_centrality(
    graph: PropertyGraph,
    sources: Sequence[int],
    max_iter: int = MAX_ITERATION,
) -> DataFrame:
    """(id, n_reached, total_dist, closeness) with
    ``closeness(v) = n_reached / Σ_{s∈sources reaching v} dist(s, v)``
    (directed distances, sources don't score themselves).  With a
    uniform source sample this is the standard estimator of closeness
    at 1/|V| of the all-pairs cost; a fixed seed list makes it
    deterministic and oracle-checkable."""
    if not sources:
        raise ValueError("closeness_centrality needs at least one source")
    levels = multi_source_levels(graph, sources, max_depth=max_iter)
    return (
        levels.filter(F.col("level") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("level").alias("total_dist"),
            (F.count(F.lit(1)) / F.sum("level")).alias("closeness"),
        )
    )


def multi_source_levels(
    graph: PropertyGraph,
    sources: Sequence[int],
    max_depth: int = MAX_ITERATION,
) -> DataFrame:
    """(s, id, level): BFS level of ``id`` from each source ``s`` that
    reaches it (level 0 = the source itself) — the level tables of the
    tagged multi-source BFS (`_bfs_levels`, also Brandes' forward
    phase), numbered by level.  ALL sources advance in ONE tagged
    frontier, so the superstep count is the maximum depth, not depth ×
    |sources|, and |sources|× fewer Spark jobs than sequential BFS
    runs."""
    with persisted(graph.edges):
        levels = _bfs_levels(graph, sources, max_depth)
    return reduce(
        DataFrame.unionByName,
        [
            t.select("s", "id", F.lit(i).alias("level"))
            for i, t in enumerate(levels)
        ],
    )


def _bfs_levels(
    graph: PropertyGraph, sources: Sequence[int], max_depth: int
) -> list[DataFrame]:
    """The level tables (s, id, sigma) of a tagged multi-source BFS over
    ``graph.edges`` (which the caller keeps cached): table i holds the
    (source, vertex) pairs first reached at depth i, with ``sigma`` the
    number of shortest paths from s to the vertex; table 0 is the
    sources.  State keyed (s, id) is ≤ |sources| rows per vertex, and
    the anti-join key spreads every source's frontier across one hash
    partitioning.  Each table is lazily checkpointed and materialized
    by the emptiness probe (one job per level)."""
    edges = graph.edges.select("src", "dst")
    src_list = [int(s) for s in sources]
    frontier = (
        graph.vertices.filter(F.col("id").isin(src_list))
        .select(F.col("id").alias("s"), "id", F.lit(1.0).alias("sigma"))
        .localCheckpoint(eager=False)
    )
    level_tables = [frontier]
    seen = frontier.select("s", "id")
    for _ in range(max_depth):
        # lazy checkpoint + count(): ONE job per level both materializes
        # the level table (severing lineage) and answers the emptiness
        # probe.  `seen` is a union of ≤ max_depth checkpointed leaves,
        # already flat, so it is never re-checkpointed.
        nxt = (
            frontier.join(edges, frontier["id"] == edges["src"])
            .select("s", F.col("dst").alias("id"), "sigma")
            .join(seen, ["s", "id"], "left_anti")
            .groupBy("s", "id")
            .agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        level_tables.append(nxt)
        seen = seen.unionByName(nxt.select("s", "id"))
        frontier = nxt
    return level_tables


# ---------------------------------------------------------------------------
# Betweenness centrality (sampled Brandes) — the one classic centrality
# whose dataflow is NOT a plain fixpoint: a forward BFS that carries
# shortest-path counts, then a backward per-level dependency sweep.
# Both phases are joins + hash aggs over the shared cached edge table.
# ---------------------------------------------------------------------------
def betweenness_centrality(
    graph: PropertyGraph,
    sources: Sequence[int],
    max_depth: int = 32,
) -> DataFrame:
    """Sampled Brandes betweenness: (id, betweenness) with
    ``betweenness(v) = Σ_{s∈sources} δ_s(v)`` where δ_s is Brandes'
    dependency of s on v (directed, unweighted shortest paths; sources
    don't score themselves).  With uniform sources this is the standard
    estimator at |sources|/|V| of the all-pairs cost; a fixed seed list
    is deterministic and oracle-checkable.

    ALL sources advance in ONE tagged dataflow (state keyed (s, id)), so
    both phases cost max-depth supersteps total, not depth × |sources|.
    The forward phase is the tagged BFS (`_bfs_levels`, shared with
    `multi_source_levels`), whose messages carry σ (shortest-path
    counts) — one join + anti-join + sum per level; the backward phase
    walks levels deepest-first, each step one edges⋈next-level join +
    sum computing
    δ(v) = Σ_{v→w, lvl(w)=lvl(v)+1} σ(v)/σ(w) · (1+δ(w)) per source tag.
    A source whose BFS exhausted earlier than the global depth simply
    has no rows at the deeper levels, so its own deepest level gets
    δ = 0 from the empty join — per-source semantics preserved.
    Every per-level state is ≤ |sources| rows per touched vertex
    (≪ edges), cut with eager localCheckpoints, so lineage stays flat
    and 2·max-depth supersteps are the whole cost — the shape that
    amortizes on a real cluster exactly like pagerank's check_interval
    batching.
    """
    out = _brandes_sweep(graph, sources, max_depth, want="vertex")
    if out is None:
        return graph.vertices.select(
            "id", F.lit(0.0).alias("betweenness")
        ).limit(0)
    return out


def edge_betweenness(
    graph: PropertyGraph,
    sources: Sequence[int],
    max_depth: int = 32,
) -> DataFrame:
    """Sampled EDGE betweenness — the Girvan–Newman community-detection
    primitive: (src, dst, betweenness) summing, over the seed sources,
    each edge's shortest-path dependency σ(src)/σ(dst)·(1+δ(dst)) for
    edges on the BFS shortest-path DAG.  Same two-phase tagged Brandes
    dataflow as `betweenness_centrality` (the per-edge terms are exactly
    the pre-aggregation rows of its backward sweep); edges off every
    shortest-path DAG score no rows and are absent."""
    out = _brandes_sweep(graph, sources, max_depth, want="edge")
    if out is None:
        return graph.edges.select(
            "src", "dst", F.lit(0.0).alias("betweenness")
        ).limit(0)
    return out


def _brandes_sweep(
    graph: PropertyGraph,
    sources: Sequence[int],
    max_depth: int,
    want: str = "vertex",
):
    """Shared tagged multi-source Brandes core: the forward phase is
    `_bfs_levels`' σ-carrying level tables, the backward sweep walks
    them deepest-first.  ``want='vertex'`` returns (id, betweenness)
    summing δ per non-source vertex; ``want='edge'`` returns (src, dst,
    betweenness) summing the per-edge dependency terms (the
    pre-aggregation rows of the same backward sweep).  Returns None
    for an empty sweep.  The final agg is materialized (eager
    checkpoint) BEFORE the edge cache drops, so callers never
    re-execute the sweep."""
    if not sources:
        raise ValueError("the Brandes sweep needs at least one source")
    # persist graph.edges ITSELF, not a projection of it: the cache
    # manager substitutes persisted plans by exact subtree match, so
    # caching the full edge table lets the frontier job (whose vertex set
    # from_edges derives from the same subtree) read the cache instead of
    # re-running the upstream scan + dedup.
    with persisted(graph.edges):
        edges = graph.edges.select("src", "dst")
        level_tables = _bfs_levels(graph, sources, max_depth)
        # backward sweep: δ at each source's deepest level is 0 — those
        # vertices still belong in the output (reached; score 0)
        deltas = level_tables[-1].select(
            "s", "id", "sigma", F.lit(0.0).alias("delta")
        )
        acc, eacc = [], []
        if len(level_tables) > 1:
            acc.append(deltas.select("s", "id", "delta"))
        for lvl in range(len(level_tables) - 2, -1, -1):
            cur = level_tables[lvl]
            w = deltas.select(
                F.col("s").alias("_ws"),
                F.col("id").alias("_wid"),
                F.col("sigma").alias("_wsigma"),
                F.col("delta").alias("_wdelta"),
            )
            terms = (
                cur.join(edges, cur["id"] == edges["src"])
                .join(
                    w,
                    (F.col("dst") == F.col("_wid"))
                    & (cur["s"] == F.col("_ws")),
                )
                .select(
                    cur["s"].alias("s"),
                    cur["id"].alias("id"),
                    F.col("dst"),
                    (
                        F.col("sigma")
                        / F.col("_wsigma")
                        * (F.lit(1.0) + F.col("_wdelta"))
                    ).alias("_c"),
                )
            )
            if want == "edge":
                # the per-edge terms ARE the edge-betweenness contributions;
                # lineage: checkpointed cur/deltas + cached edges only
                eacc.append(
                    terms.select("s", F.col("id").alias("src"), "dst", "_c")
                )
            contrib = terms.groupBy("s", "id").agg(F.sum("_c").alias("_d"))
            # lazy: no action runs inside the backward sweep, so the whole
            # deepest-first chain materializes in the ONE final-agg job (each
            # level persisted on first compute, shared by the next level and
            # by acc/eacc) instead of one eager job per level
            deltas = (
                cur.join(contrib, ["s", "id"], "left")
                .select(
                    "s",
                    "id",
                    "sigma",
                    F.coalesce("_d", F.lit(0.0)).alias("delta"),
                )
                .localCheckpoint(eager=False)
            )
            if lvl > 0:  # the source itself never scores
                acc.append(deltas.select("s", "id", "delta"))
        result = None
        if want == "vertex" and acc:
            u = reduce(DataFrame.unionByName, acc)
            result = u.groupBy("id").agg(F.sum("delta").alias("betweenness"))
        elif want == "edge" and eacc:
            u = reduce(DataFrame.unionByName, eacc)
            result = u.groupBy("src", "dst").agg(
                F.sum("_c").alias("betweenness")
            )
        if result is not None:
            result = result.localCheckpoint(eager=True)
    return result


# ---------------------------------------------------------------------------
# Bipartite projection — collapse a two-mode graph (supplier–part,
# user–item, doc–term) onto one side, weighting pairs by shared
# neighbors.  The reference's partitioned bipartite loads (SSSP's
# part–supplier graph) make this the natural companion operator.
# ---------------------------------------------------------------------------
def bipartite_project(
    edges: DataFrame,
    left_col: str = "src",
    right_col: str = "dst",
    max_df: int | None = None,
) -> DataFrame:
    """(a, b, common): pairs of left-side vertices sharing at least one
    right-side neighbor, weighted by the shared count, a < b.

    `_common_neighbours` with the right-side vertices as centers, so
    cost is Σ_p df(p)² over right vertices, NOT an all-pairs join.
    That sum is degree-distribution-driven — a single hub right-vertex
    with df=10⁶ alone generates 10¹² pairs — so ``max_df`` caps it by
    dropping right vertices above the threshold, the same contract as
    the n-gram blocking operators' document-frequency cap: hubs carry
    no pair signal (everything co-occurs with everything through them)
    and their removal is explicit, not silent.
    """
    # partition by the join key FIRST, then dedup: equal (c, leaf) rows
    # share c, so the dedup is correct within partitions, and the df
    # window and the pair self-join reuse this one hash partitioning
    # exchange-free (the _ps_graph trick)
    inc = (
        edges.select(
            F.col(right_col).alias("c"), F.col(left_col).alias("leaf")
        )
        .repartition("c")
        .dropDuplicates(["c", "leaf"])
    )
    return _common_neighbours(inc, max_df).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"), "common"
    )


def eccentricity(
    graph: PropertyGraph,
    sources: Sequence[int],
    max_iter: int = MAX_ITERATION,
) -> DataFrame:
    """(id, eccentricity, n_reached) per SOURCE: the max BFS distance
    from each seed source to any vertex it reaches, plus the reached
    count — the sampled-landmark estimator of graph eccentricity whose
    max over sources lower-bounds the diameter (the classic
    double-sweep heuristic runs this twice, re-seeding with the first
    sweep's farthest vertex).  One tagged multi-source BFS
    (`multi_source_levels`), one per-source agg."""
    if not sources:
        raise ValueError("eccentricity needs at least one source")
    levels = multi_source_levels(graph, sources, max_depth=max_iter)
    return levels.groupBy(F.col("s").alias("id")).agg(
        F.max("level").alias("eccentricity"),
        (F.count(F.lit(1)) - 1).alias("n_reached"),
    )


def katz_centrality(
    graph: PropertyGraph,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 8,
    check_interval: int = 4,
) -> DataFrame:
    """Katz centrality x(v) = β + α·Σ_{u→v} x(u), iterated ``max_iter``
    times from x₀ = β — the attenuated-walk-count centrality between
    degree (α→0) and eigenvector centrality (α→1/λ_max); converges for
    α < 1/λ_max, callers pick α accordingly.  Returns (id, katz).

    PageRank's exact plan shape minus the degree normalization and
    dangling handling: one in-edge join + hash agg per superstep,
    ``check_interval`` supersteps chained lazily per eager checkpoint.
    """
    return _power_iteration(
        graph,
        beta,
        lambda in_sum: F.lit(beta) + F.lit(alpha) * in_sum,
        lambda x: x.select("id", F.col("x").alias("katz")),
        max_iter,
        check_interval,
    )


def eigenvector_centrality(
    graph: PropertyGraph,
    max_iter: int = 8,
    check_interval: int = 4,
) -> DataFrame:
    """Eigenvector centrality by power iteration on Aᵀ (in-edge sums)
    from x₀ = 1, L2-normalized ONCE at the end — per-iteration norms
    factor through the linear map exactly as in `hits`, so chunks of
    ``check_interval`` supersteps chain as one lazy plan per eager
    checkpoint.  Returns (id, eigenvector); vertices outside every
    cycle's in-basin decay to 0, the standard directed-graph caveat.
    """

    def normalized(x: DataFrame) -> DataFrame:
        x = x.localCheckpoint(eager=True)
        norm = x.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("_n"))
        return x.crossJoin(F.broadcast(norm)).select(
            "id",
            F.when(F.col("_n") > 0, F.col("x") / F.col("_n"))
            .otherwise(F.lit(0.0))
            .alias("eigenvector"),
        )

    return _power_iteration(
        graph, 1.0, lambda in_sum: in_sum, normalized, max_iter, check_interval
    )


def _power_iteration(
    graph: PropertyGraph,
    x0: float,
    update,
    finish,
    max_iter: int,
    check_interval: int,
) -> DataFrame:
    """x ← update(Σ_{u→v} x(u)) from x ≡ ``x0``, ``max_iter`` times, then
    ``finish(x)`` — the loop shared by Katz and eigenvector centrality.
    ``check_interval`` supersteps chain lazily per eager checkpoint."""
    with persisted(graph.edges) as cached:
        edges = graph.edges
        v = graph.vertices.select("id").localCheckpoint(eager=True)
        x = v.select("id", F.lit(x0).alias("x"))
        interval = max(1, check_interval)
        for it in range(1, max_iter + 1):
            msgs = (
                edges.join(x, edges["src"] == x["id"])
                .select(F.col("dst").alias("id"), F.col("x").alias("_c"))
                .groupBy("id")
                .agg(F.sum("_c").alias("_in"))
            )
            x = v.join(msgs, "id", "left").select(
                "id", update(F.coalesce("_in", F.lit(0.0))).alias("x")
            )
            if it % interval == 0 and it < max_iter:
                x = x.localCheckpoint(eager=True)
        out = finish(x)
        if cached:
            out = out.localCheckpoint(eager=True)
    return out


def reciprocity(graph: PropertyGraph) -> DataFrame:
    """One-row (n_edges, n_mutual, reciprocity): the fraction of
    directed edges whose reverse also exists (self-loops excluded) —
    the classic directed-graph symmetry statistic.  One distinct, one
    self-semi-join on the flipped key, two counts."""
    e = (
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = e.join(rev, ["src", "dst"], "left_semi")
    n = e.agg(F.count(F.lit(1)).alias("n_edges"))
    m = mutual.agg(F.count(F.lit(1)).alias("n_mutual"))
    return n.crossJoin(m).select(
        "n_edges",
        "n_mutual",
        F.round(F.col("n_mutual") / F.col("n_edges"), 6).alias(
            "reciprocity"
        ),
    )
