"""A/B of the two execution tiers of ``graph/`` on one graph size.

Runs graph-bsp's cycle (``read_edge_list``, ``pagerank`` for 10
supersteps, ``sssp`` from vertex 1) plus ``connected_components``, each
collected via Arrow, on a graph-bsp-shaped graph of the given size, in
alternating pairs: tier (a) at the default driver budget, the
distributed tier at budget 0.  Tier (a) collects a graph once and its
algorithms read that snapshot, so its collect is timed as a row of its
own (``collect``).  Prints one JSON line: per-tier wall seconds of the
whole cycle and of each algorithm (quartiles), the pairs
tier (a) won, the largest rank difference between the tiers and whether
distances and components are equal, and tier (a)'s driver-side peak
memory: numpy allocations seen by tracemalloc in one extra untimed run
(whole cycle and per algorithm), and pyarrow's pool high-water mark.

Usage:
  python tools/graph_tier_ab.py --vertices 125000 --edges 1000000 -n 3
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import tracemalloc

import numpy as np
import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from graphmapreduce_spark.graph import algorithms as alg  # noqa: E402
from graphmapreduce_spark.graph.iterate import (  # noqa: E402
    DRIVER_BUDGET_KEY,
    LocalGraph,
    persisted,
)
from graphmapreduce_spark.session import get_spark  # noqa: E402
from graphmapreduce_spark.sources import graph_readers  # noqa: E402
from perfbench import gen  # noqa: E402

TIERS = {"driver": None, "distributed": "0"}


def cycle(spark, path: str, tier: str) -> tuple[dict, dict, dict]:
    """graph-bsp's cycle plus WCC: (id, value) arrays sorted by id, wall
    seconds, and (only while tracemalloc traces) peak bytes, each per
    algorithm.  On tier (a) the graph's one collect is timed first, as
    ``collect``: the algorithms then read its snapshot."""
    g = graph_readers.read_edge_list(spark, path)
    out, secs, peaks = {}, {}, {}
    if tier == "driver":
        t0 = time.perf_counter()
        with persisted(g.edges):
            assert LocalGraph.collect(g, weighted=True) is not None
        secs["collect"] = time.perf_counter() - t0
        if tracemalloc.is_tracing():
            peaks["collect"] = tracemalloc.get_traced_memory()[1]
            tracemalloc.reset_peak()
    for name, df in (
        ("pagerank", lambda: alg.pagerank(
            g, damping=0.85, max_iter=10, threshold=0.0
        )),
        ("sssp", lambda: alg.sssp(g, source=1)),
        ("wcc", lambda: alg.connected_components(g)),
    ):
        t0 = time.perf_counter()
        t = df().toArrow()
        secs[name] = time.perf_counter() - t0
        if tracemalloc.is_tracing():
            peaks[name] = tracemalloc.get_traced_memory()[1]
            tracemalloc.reset_peak()
        order = np.argsort(t.column(0).to_numpy())
        out[name] = (t.column(0).to_numpy()[order], t.column(1).to_numpy()[order])
    return out, secs, peaks


def run(spark, path: str, tier: str) -> tuple[float, dict, dict, dict]:
    if TIERS[tier] is None:
        spark.conf.unset(DRIVER_BUDGET_KEY)
    else:
        spark.conf.set(DRIVER_BUDGET_KEY, TIERS[tier])
    t0 = time.perf_counter()
    out, secs, peaks = cycle(spark, path, tier)
    return time.perf_counter() - t0, out, secs, peaks


def quartiles(xs: list[float]) -> list[float]:
    return [round(float(q), 3) for q in np.percentile(xs, [25, 50, 75])]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--vertices", type=int, required=True)
    ap.add_argument("--edges", type=int, required=True)
    ap.add_argument("-n", type=int, default=3, help="pairs")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()
    spark = get_spark(
        app_name="gmr-graph-tier-ab",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    with tempfile.TemporaryDirectory() as work:
        path = os.path.join(work, "edges.txt")
        src, dst = gen.make_graph(args.seed, args.vertices, args.edges, 2)
        gen.write_edge_list(path, src, dst)
        run(spark, path, "distributed")  # warm-up: JIT, file cache
        secs = {t: [] for t in TIERS}
        alg_secs = {t: {} for t in TIERS}
        outs = {}
        for i in range(args.n):
            for tier in list(TIERS)[:: 1 if i % 2 == 0 else -1]:
                s, outs[tier], per_alg, _ = run(spark, path, tier)
                secs[tier].append(s)
                for name, x in per_alg.items():
                    alg_secs[tier].setdefault(name, []).append(x)
        a, b = outs["driver"], outs["distributed"]
        assert all(np.array_equal(a[k][0], b[k][0]) for k in a)
        rank_rel = np.max(np.abs(a["pagerank"][1] / b["pagerank"][1] - 1))
        finite = np.isfinite(b["sssp"][1])
        dist_same = np.array_equal(a["sssp"][1], b["sssp"][1])
        wcc_same = np.array_equal(a["wcc"][1], b["wcc"][1])
        tracemalloc.start()
        _, _, _, alg_peaks = run(spark, path, "driver")
        numpy_peak = max(alg_peaks.values())
        tracemalloc.stop()
    spark.stop()
    print(json.dumps({
        "vertices": args.vertices,
        "edges": args.edges,
        "cpus": args.cpus,
        "pairs": args.n,
        "seconds_q1_median_q3": {t: quartiles(v) for t, v in secs.items()},
        "algorithm_seconds_q1_median_q3": {
            t: {name: quartiles(v) for name, v in per.items()}
            for t, per in alg_secs.items()
        },
        "driver_wins": sum(
            d < s for d, s in zip(secs["driver"], secs["distributed"])
        ),
        "pagerank_max_rel_diff": float(rank_rel),
        "sssp_equal": bool(dist_same),
        "sssp_reached": int(finite.sum()),
        "wcc_equal": bool(wcc_same),
        "wcc_components": int(len(np.unique(b["wcc"][1]))),
        "driver_peak_mib": {
            "numpy_tracemalloc": round(numpy_peak / 2**20, 1),
            "numpy_tracemalloc_by_algorithm": {
                name: round(x / 2**20, 1) for name, x in alg_peaks.items()
            },
            # high-water mark of the whole run, both tiers' collects
            "pyarrow_pool": round(
                (pa.default_memory_pool().max_memory() or 0) / 2**20, 1
            ),
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
