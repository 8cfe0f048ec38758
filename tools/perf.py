"""One perf harness over bench.py's headline list, session, warmup and
timed noop pass, so every number it prints is a bench number.

Every subcommand runs at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS],
read as bench.py reads them.

  run [-n N] QUERY...
      Best-of-N noop-sink times per query after bench.py's warmup.
  ab --conf KEY [--values A B] [-n N] QUERY...
      Same-session A/B of one conf: N pairs per query of the values A
      and B (default false, true), the order flipped each pair, so
      monotone ambient drift cancels out of the paired deltas (an A..A
      B..B block design aliases it into B).
  cold --a TREE --b TREE [-n N] [--out PATH]
      N pairs of fresh-process (cold JVM, cold codegen) runs of each
      checkout's OWN bench.py, alternating which tree runs first, with
      the host steal ticks each run saw; the summary JSON goes to PATH.
  plans [--out DIR --suffix S] [--full] [QUERY...]
      Runs each query's frame once (bench.py's headline list by default)
      and audits the plan that ran: exchanges, broadcast joins,
      whole-stage codegen spans, AQE-coalesced shuffle reads, and each
      scan's pushed filters and read schema.  --full prints the plans;
      --out writes the formatted plan to DIR/NAME_SUFFIX.txt.

Usage:
  python tools/perf.py run -n 5 q46_minhash_lsh q54_winnowing
  python tools/perf.py ab --conf spark.sql.adaptive.enabled -n 5 q34_wcc
  python tools/perf.py ab --conf spark.graphmapreduce.clusterBroadcastMaxPairs \
      --values 0 1000000 q46_minhash_lsh q576_dedup_corpus
  python tools/perf.py cold --a /tmp/parent --b . -n 3 --out cold.json
  python tools/perf.py plans --out plans/r09 --suffix after q32_pagerank
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import subprocess
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from graphmapreduce_spark.plans import workload  # noqa: E402


def _runs(runs: list[float]) -> str:
    return ",".join(f"{t:.2f}" for t in runs)


def run(spark, sf_dir: str, args) -> None:
    qs = workload.queries()
    bench.warm_up(spark, sf_dir)
    for name in args.queries:
        runs = [bench.timed(spark, qs[name], sf_dir) for _ in range(args.n)]
        print(f"{name}: min={min(runs):.3f}s runs=" + _runs(runs), flush=True)


def ab(spark, sf_dir: str, args) -> None:
    qs = workload.queries()
    bench.warm_up(spark, sf_dir)
    for name in args.queries:
        a_runs, b_runs, pair_delta = [], [], []
        for i in range(args.n):
            order = [("A", args.values[0]), ("B", args.values[1])]
            if i % 2:
                order.reverse()
            t = {}
            for phase, val in order:
                spark.conf.set(args.conf, val)
                t[phase] = bench.timed(spark, qs[name], sf_dir)
            a_runs.append(t["A"])
            b_runs.append(t["B"])
            pair_delta.append(t["B"] - t["A"])
        med = sorted(pair_delta)[len(pair_delta) // 2]
        print(
            f"{name}: A({args.values[0]}) min={min(a_runs):.3f} runs="
            + _runs(a_runs)
            + f" | B({args.values[1]}) min={min(b_runs):.3f} runs="
            + _runs(b_runs)
            + f" | paired B-A median={med:+.3f}s "
            + ",".join(f"{x:+.2f}" for x in pair_delta),
            flush=True,
        )


def _explain(df, mode: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def plans(spark, sf_dir: str, args) -> None:
    qs = workload.queries()
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    for name in args.queries or bench.HEADLINE:
        df = qs[name](spark, sf_dir)
        # run THIS frame's plan (a write would plan and run a separate
        # instance): AQE annotates codegen stages and coalesced shuffle
        # reads only in the plan that executed
        df.collect()
        simple = _explain(df, "simple")  # carries the "*(N)" codegen marks
        formatted = _explain(df, "formatted")
        # an AQE plan also prints its initial plan: count the final one
        ran = simple.split("== Initial Plan ==")[0]
        n_exchanges = len(re.findall(r"\bExchange\b", ran))
        n_codegen = len(set(re.findall(r"\*\((\d+)\)", ran)))
        print(f"\n==== {name} ====")
        print(
            f"exchanges={n_exchanges}"
            f" broadcast={ran.count('BroadcastHashJoin')}"
            f" codegen_spans={n_codegen}"
            f" aqe_coalesced={ran.count('AQEShuffleRead coalesced')}"
        )
        scans = re.findall(
            r"FileScan .*PushedFilters: \[(.*?)\], ReadSchema: (.*)", ran
        )
        for i, (p, s) in enumerate(scans):
            print(f"scan[{i}]: pushed=[{p[:90]}] read={s[:110]}")
        if args.full:
            print(simple + formatted)
        if args.out:
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(formatted)
            print(f"wrote {path}", file=sys.stderr)


def _bench_once(tree: str) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return {
        "tree": tree,
        "rc": proc.returncode,
        "wall": round(time.time() - t0, 1),
        "parsed": json.loads(line[-1]) if line else None,
    }


def _steal() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def cold(args) -> None:
    runs = []
    for i in range(args.n):
        order = [("a", args.a), ("b", args.b)]
        if i % 2:
            order.reverse()
        for tag, tree in order:
            s0 = _steal()
            r = _bench_once(tree)
            r["tag"] = tag
            r["pair"] = i
            r["steal_delta"] = _steal() - s0
            total = r["parsed"]["value"] if r["parsed"] else None
            print(
                f"pair {i} {tag} ({tree}): total={total} "
                f"steal+={r['steal_delta']}",
                flush=True,
            )
            runs.append(r)
    totals = {
        tag: [r["parsed"]["value"] for r in runs if r["tag"] == tag and r["parsed"]]
        for tag in "ab"
    }
    per_q: dict[str, dict[str, list[float]]] = {}
    for r in runs:
        if not r["parsed"]:
            continue
        for q, v in r["parsed"]["queries"].items():
            if v is not None:
                per_q.setdefault(q, {"a": [], "b": []})[r["tag"]].append(v)
    summary = {
        "a_tree": args.a,
        "b_tree": args.b,
        "pairs": args.n,
        "a_totals": totals["a"],
        "b_totals": totals["b"],
        "a_min": min(totals["a"], default=None),
        "b_min": min(totals["b"], default=None),
        "per_query_min": {
            q: {t: round(min(v[t]), 3) if v[t] else None for t in "ab"}
            for q, v in sorted(per_q.items())
        },
        "runs": runs,
    }
    with open(args.out, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"a_min={summary['a_min']} b_min={summary['b_min']} -> {args.out}")


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("run")
    p.add_argument("-n", type=int, default=3)
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("ab")
    p.add_argument("--conf", required=True)
    p.add_argument("--values", nargs=2, default=["false", "true"],
                   metavar=("A", "B"))
    p.add_argument("-n", type=int, default=5)
    p.add_argument("queries", nargs="+")
    p = sub.add_parser("cold")
    p.add_argument("--a", required=True, help="baseline checkout")
    p.add_argument("--b", required=True, help="candidate checkout")
    p.add_argument("-n", type=int, default=3, help="pairs to run")
    p.add_argument("--out", default="perf_cold.json")
    p = sub.add_parser("plans")
    p.add_argument("--out", help="directory for NAME_SUFFIX.txt dumps")
    p.add_argument("--suffix", default="before")
    p.add_argument("--full", action="store_true")
    p.add_argument("queries", nargs="*")
    return ap


def main(argv: list[str] | None = None) -> int:
    args = parser().parse_args(argv)
    if args.cmd == "cold":
        cold(args)
        return 0
    sf_dir, _ = bench.settings()
    spark = bench.session(f"gmr-spark-perf-{args.cmd}")
    try:
        {"run": run, "ab": ab, "plans": plans}[args.cmd](spark, sf_dir, args)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
