"""Same-session A/B of a boolean engine conf over named queries.

The only perf evidence this sandbox admits is back-to-back A/B in one
ambient window (OPTIMIZATION_r07.md caveat): this runs each named query
N times with ``--conf KEY=false``, N with ``=true``, then N with
``=false`` again (ABA — drift shows up as A1 != A2), same session, same
warmup as bench.py.

Usage:
  python tools/ab_conf.py --conf spark.sql.adaptive.enabled \
      -n 5 q34_wcc q32_pagerank
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphmapreduce_spark.session import get_spark  # noqa: E402
from graphmapreduce_spark.plans import workload  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--conf", required=True)
    ap.add_argument("-n", type=int, default=5)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="gmr-spark-abconf",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    qs = workload.queries()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    workload.q01_pricing_summary(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    for name in args.queries:
        fn = qs[name]
        # interleave A/B pairs (alternating order each pass) so the
        # sandbox's monotone ambient drift cancels out of the pairwise
        # deltas — an A..A B..B A..A block design aliases drift into the
        # B phase
        a_runs, b_runs, pair_delta = [], [], []
        for i in range(args.n):
            order = (("A", "false"), ("B", "true"))
            if i % 2:
                order = order[::-1]
            t = {}
            for phase, val in order:
                spark.conf.set(args.conf, val)
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                t[phase] = time.perf_counter() - t0
            a_runs.append(t["A"])
            b_runs.append(t["B"])
            pair_delta.append(t["B"] - t["A"])
        med = sorted(pair_delta)[len(pair_delta) // 2]
        print(
            f"{name}: A(false) min={min(a_runs):.3f} "
            f"runs=" + ",".join(f"{x:.2f}" for x in a_runs)
            + f" | B(true) min={min(b_runs):.3f} "
            f"runs=" + ",".join(f"{x:.2f}" for x in b_runs)
            + f" | paired B-A median={med:+.3f}s "
            + ",".join(f"{x:+.2f}" for x in pair_delta),
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
