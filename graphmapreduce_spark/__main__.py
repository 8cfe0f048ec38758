"""Command-line launcher — the `startgmr.sh` / `gmr` argv surface,
Spark-side.

The reference is driven as ``mpirun -np 3 ./gmr algorithm partition
graphfile`` (``startgmr.sh:14-69``; argv dispatch ``gmr.cpp:52-105``,
algorithm selection ``gmr.cpp:176-188``: pagerank | trianglecount |
sssp, default trianglecount, default graph ``graph/rdsmall.graph``).
This module reproduces that surface::

    python -m graphmapreduce_spark pagerank graph/small.graph
    python -m graphmapreduce_spark sssp graph/rdsmall.graph --source 1
    python -m graphmapreduce_spark trianglecount graph/4elt.graph \
        --partition locality --partitions 8 --output /tmp/out

plus the extended algorithm set the Spark engine carries (wcc, bfs,
scc, kcore, ktruss, labelprop, mis, harmonic).  ``--partition``
mirrors the reference's random|metis|zoltan choice: ``hash`` is the
engine's default co-partitioning, ``locality`` runs the balanced-LPA
partitioner (the Zoltan/METIS role, ``graphmapreduce_spark/graph/
partitioning.py``) and physically repartitions by the assignment
before the algorithm runs.
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import time


def _detect_format(path: str) -> str:
    """auto → edgelist | metis | subgraph.

    Heuristic mirroring the reference's reader split (edge list
    ``partition.h:548-829`` vs METIS adjacency ``graph.h:562-709``):
    ``*.subgraph.N`` files are the pre-partitioned format; a first
    non-comment line with ONE token is the edge list's 2-line count
    header; otherwise the line is a METIS header iff its vertex count
    matches the body line count (an edge-list row like ``1 2`` never
    does, except degenerate 1-vertex graphs).
    """
    if ".subgraph." in os.path.basename(path):
        return "subgraph"
    first = None
    n_body = 0
    with open(path) as f:
        for ln in f:
            s = ln.strip()
            if not s or s.startswith(("#", "%")):
                continue
            if first is None:
                first = s
            else:
                n_body += 1
    if first is None:
        return "edgelist"
    toks = first.split()
    if len(toks) == 1:
        return "edgelist"
    if len(toks) <= 4:
        try:
            nvtxs = int(toks[0])
        except ValueError:
            return "edgelist"
        if n_body == nvtxs:
            return "metis"
    return "edgelist"


def _load_graph(spark, path: str, fmt: str):
    from graphmapreduce_spark.sources import graph_readers as gr

    if fmt == "auto":
        fmt = _detect_format(path)
        print(f"# format: {fmt}", file=sys.stderr)
    if fmt == "metis":
        return gr.read_metis(spark, path)
    if fmt == "subgraph":
        paths = sorted(glob.glob(f"{path}.subgraph.*")) or [path]
        return gr.read_subgraph_files(spark, paths)
    return gr.read_edge_list(spark, path)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m graphmapreduce_spark",
        description="Run a graph algorithm on an edge-list/METIS/subgraph "
        "file (the reference's `mpirun ./gmr algorithm partition "
        "graphfile` surface).",
    )
    p.add_argument(
        "algorithm",
        choices=[
            "pagerank", "trianglecount", "sssp",  # reference parity
            "wcc", "bfs", "scc", "kcore", "coreness", "ktruss",
            "labelprop", "louvain", "mis", "harmonic",
            "closeness", "betweenness", "edgebetweenness", "eccentricity",
            "hits", "katz", "eigenvector", "reciprocity",
            "coloring", "adamicadar", "matching", "wcccontract",
        ],
    )
    p.add_argument(
        "graphfile",
        nargs="?",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "testdata_fixtures",
            "rdsmall.graph",
        ),
        help="graph file (default: the repo's headered edge-list fixture "
        "testdata_fixtures/rdsmall.graph)",
    )
    p.add_argument(
        "--format", choices=["auto", "edgelist", "metis", "subgraph"],
        default="auto",
    )
    p.add_argument(
        "--partition", choices=["hash", "locality"], default="hash",
        help="hash = engine default co-partitioning; locality = "
        "balanced-LPA assignment + physical repartition (Zoltan role)",
    )
    p.add_argument("--partitions", type=int, default=None,
                   help="shuffle/graph partition count")
    p.add_argument("--source", type=int, default=1,
                   help="source vertex for sssp/bfs (ref SSSP(1))")
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--reference-compat", action="store_true",
                   help="pin pagerank damping to the reference's 0.5")
    p.add_argument("--max-iter", type=int, default=30)
    p.add_argument("--k", type=int, default=3, help="k for kcore/ktruss")
    p.add_argument("--sources", default=None,
                   help="comma-separated seed vertices for harmonic "
                   "(default: the 8 smallest vertex ids)")
    p.add_argument("--output", default=None,
                   help="write the full result as parquet here")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from graphmapreduce_spark import get_spark
    from graphmapreduce_spark.graph import algorithms as alg
    from graphmapreduce_spark.graph import partitioning as part

    spark = get_spark(
        app_name=f"gmr-{args.algorithm}",
        master=args.master,
        shuffle_partitions=args.partitions,
    )
    t0 = time.perf_counter()
    g = _load_graph(spark, args.graphfile, args.format)
    if args.partition == "locality":
        n_parts = args.partitions or g.num_partitions
        assignment = part.locality_partition(g, n_parts)
        g = part.repartition_by_assignment(g, assignment, n_parts)

    if args.algorithm == "pagerank":
        res = alg.pagerank(
            g, damping=args.damping, max_iter=args.max_iter,
            reference_compat=args.reference_compat,
        ).orderBy(F.desc("rank"))
    elif args.algorithm == "trianglecount":
        res = None
        n_tri = alg.triangle_count(g)
    elif args.algorithm == "sssp":
        res = alg.sssp(g, args.source, max_iter=args.max_iter).orderBy("id")
    elif args.algorithm == "bfs":
        res = alg.bfs(g, args.source, max_iter=args.max_iter).orderBy("id")
    elif args.algorithm == "wcc":
        res = alg.connected_components(g, max_iter=args.max_iter).orderBy("id")
    elif args.algorithm == "wcccontract":
        # the high-diameter WCC variant (star contraction); --max-iter
        # bounds contraction ROUNDS here (each O(log n), not O(diameter))
        res = alg.connected_components_contract(
            g, max_rounds=args.max_iter
        ).orderBy("id")
    elif args.algorithm == "scc":
        res = alg.strongly_connected_components(
            g, max_outer=args.max_iter
        ).orderBy("id")
    elif args.algorithm == "kcore":
        res = alg.k_core(g, args.k).orderBy("id")
    elif args.algorithm == "coreness":
        res = alg.coreness(g).orderBy("id")
    elif args.algorithm == "ktruss":
        res = alg.k_truss(g, args.k).orderBy("a", "b")
    elif args.algorithm == "labelprop":
        res = alg.label_propagation(g, max_iter=args.max_iter).orderBy("id")
    elif args.algorithm == "louvain":
        res = alg.louvain(g).orderBy("id")
    elif args.algorithm == "mis":
        res = alg.maximal_independent_set(g).orderBy("id")
    elif args.algorithm == "coloring":
        res = alg.greedy_coloring(g).orderBy("id")
    elif args.algorithm == "matching":
        res = alg.maximal_matching(g).orderBy("a", "b")
    elif args.algorithm == "adamicadar":
        res = alg.adamic_adar(g).orderBy("id_a", "id_b")
    elif args.algorithm in (
        "harmonic", "closeness", "betweenness", "edgebetweenness",
        "eccentricity",
    ):
        if args.sources:
            seeds = [int(s) for s in args.sources.split(",")]
        else:
            # deterministic default: the 8 smallest vertex ids (tiny
            # collect — seed list only, never the data path)
            seeds = [
                r[0]
                for r in g.vertices.select("id").orderBy("id").limit(8).collect()
            ]
        if args.algorithm == "harmonic":
            res = alg.harmonic_centrality(
                g, seeds, max_iter=args.max_iter
            ).orderBy("id")
        elif args.algorithm == "closeness":
            res = alg.closeness_centrality(
                g, seeds, max_iter=args.max_iter
            ).orderBy("id")
        elif args.algorithm == "betweenness":
            res = alg.betweenness_centrality(
                g, seeds, max_depth=args.max_iter
            ).orderBy("id")
        elif args.algorithm == "edgebetweenness":
            res = alg.edge_betweenness(
                g, seeds, max_depth=args.max_iter
            ).orderBy("src", "dst")
        else:
            res = alg.eccentricity(
                g, seeds, max_iter=args.max_iter
            ).orderBy("id")
    elif args.algorithm == "hits":
        res = alg.hits(g, max_iter=8).orderBy("id")
    elif args.algorithm == "katz":
        res = alg.katz_centrality(g, max_iter=8).orderBy("id")
    elif args.algorithm == "eigenvector":
        res = alg.eigenvector_centrality(g, max_iter=8).orderBy("id")
    elif args.algorithm == "reciprocity":
        res = alg.reciprocity(g)
    else:  # pragma: no cover - argparse enforces choices
        raise AssertionError(args.algorithm)

    if args.algorithm == "trianglecount":
        print(f"triangles: {n_tri}")
    else:
        rows = res.limit(20).collect()
        cols = res.columns
        print("\t".join(cols))
        for r in rows:
            print("\t".join(str(r[c]) for c in cols))
        n = res.count()
        print(f"# rows: {n}")
        if args.output:
            res.write.mode("overwrite").parquet(args.output)
            print(f"# written: {args.output}")
    print(f"# wall: {time.perf_counter() - t0:.2f}s "
          f"(ref printTimeConsume analog, gmr.h:369-380)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
