"""Locality-aware graph partitioning — the reference's Zoltan/METIS role.

The reference optionally re-partitions the graph with Zoltan's graph
partitioner to minimize edge cut before iterating (``gmr.cpp:107-167``,
``partition.h:861-1141``), because every cut edge is a ghost message per
superstep.  Catalyst only hash/range-partitions, so this module supplies
the missing pre-pass as a DataFrame-native *balanced label propagation*:

1. init: ``part(v) = hash(v) % p`` (the reference's own initial
   placement, ``partition.h:662-677``);
2. each round, every vertex moves to the part holding the plurality of
   its neighbors, discounted by a load penalty so parts stay balanced
   (capacity-aware LPA — the standard scalable approximation of
   METIS-quality partitioning; see Ugander & Backstrom, WSDM'13);
3. stop after ``max_iter`` rounds or when the cut stops improving.

The result is an ``(id, part)`` assignment; feeding it through
``repartition(p, col("part"))`` co-locates each part (hashing a value
in [0, p) is deterministic).  Purely a performance pre-pass — never
needed for correctness — matching SURVEY §4's assessment.

Each round is one edges⋈parts join + two groupBys (all map-side
combinable), so cost scales like one superstep of the target workload;
spending k rounds here pays off when the algorithm will run ≫ k
supersteps over the same edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphmapreduce_spark.graph.iterate import persisted
from graphmapreduce_spark.graph.property_graph import PropertyGraph


def edge_cut(edges: DataFrame, parts: DataFrame) -> int:
    """Number of edges whose endpoints live in different parts (the
    quantity Zoltan minimizes; each such edge is one ghost message per
    superstep in the reference, ``graph.h:755-789``)."""
    p_src = parts.select(F.col("id").alias("src"), F.col("part").alias("ps"))
    p_dst = parts.select(F.col("id").alias("dst"), F.col("part").alias("pd"))
    return (
        edges.select("src", "dst")
        .join(p_src, "src")
        .join(p_dst, "dst")
        .filter(F.col("ps") != F.col("pd"))
        .count()
    )


def locality_partition(
    graph: PropertyGraph,
    num_parts: int,
    max_iter: int = 5,
    balance_slack: float = 0.1,
) -> DataFrame:
    """Balanced-LPA partition assignment.  Returns ``(id LONG, part INT)``.

    ``balance_slack``: a part may exceed the ideal size ``V/p`` by this
    fraction before the load penalty outweighs any neighbor plurality.
    """
    with persisted(graph.edges) as cached:
        if cached:
            graph.edges.count()
        # symmetrize: locality is an undirected property
        sym = graph.edges.select("src", "dst").unionByName(
            graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        n = graph.num_vertices()
        ideal = n / num_parts
        parts = graph.vertices.select(
            "id", (F.pmod(F.xxhash64("id"), F.lit(num_parts))).cast("int").alias("part")
        ).localCheckpoint(eager=True)

        best_cut = edge_cut(sym, parts) // 2
        for _ in range(max_iter):
            # per-vertex histogram of neighbor parts
            nbr_parts = (
                sym.join(
                    parts.select(F.col("id").alias("dst"), F.col("part")), "dst"
                )
                .groupBy(F.col("src").alias("id"), "part")
                .agg(F.count(F.lit(1)).alias("n_nbrs"))
            )
            # current part sizes → load penalty per candidate part
            sizes = parts.groupBy("part").agg(F.count(F.lit(1)).alias("sz"))
            scored = nbr_parts.join(F.broadcast(sizes), "part").select(
                "id",
                "part",
                (
                    F.col("n_nbrs")
                    - F.greatest(
                        (F.col("sz") - F.lit(ideal * (1.0 + balance_slack)))
                        / F.lit(ideal),
                        F.lit(0.0),
                    )
                    * F.col("n_nbrs")
                ).alias("score"),
            )
            # argmax by (score, part) — deterministic tiebreak
            choice = scored.groupBy("id").agg(
                F.max(F.struct("score", "part")).alias("best")
            )
            new_parts = (
                parts.join(choice, "id", "left")
                .select(
                    "id",
                    F.coalesce(F.col("best.part"), F.col("part")).alias("part"),
                )
                .localCheckpoint(eager=True)
            )
            new_cut = edge_cut(sym, new_parts) // 2
            if new_cut >= best_cut:
                break
            best_cut, parts = new_cut, new_parts
    return parts


def repartition_by_assignment(
    graph: PropertyGraph, parts: DataFrame, num_parts: int
) -> PropertyGraph:
    """Physically co-locate each part: edges land on the partition of
    their ``src``'s assigned part (the analog of ``sendToBelongProc``,
    ``partition.h:861-1141`` — Spark's shuffle replaces the hand-rolled
    pairwise sends + p-way merge)."""
    e = (
        graph.edges.join(
            parts.select(F.col("id").alias("src"), F.col("part")), "src"
        )
        .repartition(num_parts, "part")
        .drop("part")
    )
    return PropertyGraph(
        graph.vertices, e, num_partitions=num_parts, prepartition=False
    )
