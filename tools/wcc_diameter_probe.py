"""High-diameter WCC probe: star contraction vs min-label propagation
on a pure ring — the topology class where propagation is hopeless.

The distributed tier of `connected_components` (frontier min-label,
`_min_label` over the symmetrized edges) costs O(diameter) supersteps:
on an n-vertex ring the minimum label needs ~n/2 supersteps to reach
the far side.  `connected_components_contract` (alternating
large/small star) costs O(log n) rounds on ANY topology.  This probe
makes that difference a measured table instead of an asymptotic claim:

- builds an n-vertex ring fully in-plan (range + modular successor —
  no driver edge list);
- runs contraction to the fixpoint: wall, rounds, and a correctness
  pin (every label must be 1 — one component, minimum id 1);
- runs the bare min-label loop for a FIXED superstep budget (no
  driver tier, no handoff to contraction), divides its wall by the
  supersteps it ran, and extrapolates the wall that the required n/2
  supersteps would cost (running it for real would take days — that is
  the point).

Usage:
    python tools/wcc_diameter_probe.py [--n 1000000] [--budget 30]

Prints one JSON line with both walls, the contraction round count, and
the extrapolation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--budget", type=int, default=30,
                    help="min-label superstep budget for the timing run")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .appName("wcc_diameter_probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from graphmapreduce_spark.graph import PropertyGraph
    from graphmapreduce_spark.graph import algorithms as alg

    n = args.n
    base = spark.range(1, n + 1).withColumnRenamed("id", "src")
    ring = base.select(
        "src", (F.col("src") % n + 1).alias("dst")
    ).withColumn("weight", F.lit(1.0))
    g = PropertyGraph.from_edges(ring, prepartition=False)

    stats: dict = {}
    t0 = time.perf_counter()
    labels = alg.connected_components_contract(g, stats=stats)
    bad = labels.filter(F.col("component") != 1).limit(1).count()
    n_labeled = labels.count()
    contract_wall = time.perf_counter() - t0
    assert bad == 0 and n_labeled == n, (bad, n_labeled)
    print(f"# contraction: {contract_wall:.1f}s in {stats['rounds']} rounds"
          f" (all {n} labels == 1)", file=sys.stderr)

    t0 = time.perf_counter()
    und = PropertyGraph(
        g.vertices, alg._both_ways(g.edges), num_partitions=g.num_partitions
    )
    res = alg._min_label(
        und.vertices, und.edges,
        max_iter=args.budget, check_interval=args.budget,
    )
    res.vertices.count()  # materialize the budgeted run
    budget_wall = time.perf_counter() - t0
    per_step = budget_wall / res.iterations
    needed = n // 2  # ring diameter: supersteps for the min to reach
    extrapolated = per_step * needed
    print(f"# min-label: {budget_wall:.1f}s for {res.iterations} supersteps"
          f" -> {per_step:.2f}s/superstep x {needed} needed"
          f" = ~{extrapolated/3600:.0f}h", file=sys.stderr)

    print(json.dumps({
        "n": n,
        "contract_wall_s": round(contract_wall, 1),
        "contract_rounds": stats["rounds"],
        "minlabel_budget_supersteps": res.iterations,
        "minlabel_budget_wall_s": round(budget_wall, 1),
        "minlabel_s_per_superstep": round(per_step, 2),
        "minlabel_supersteps_needed": needed,
        "minlabel_extrapolated_hours": round(extrapolated / 3600, 1),
        "cpus": int(args.cpus),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
