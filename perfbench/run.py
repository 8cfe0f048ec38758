#!/usr/bin/env python3
"""Benchmark entry point: one fresh process = one run of one workload.

    python3 perfbench/run.py --workload graph-bsp --seed 1 --seconds 14 --trace 0

Run from the root of a checkout.  A run makes its inputs from the seed,
starts a Spark session on ``local[nproc]`` with ``nproc`` shuffle
partitions (set-up), runs one cold cycle, the workload's fixed number
of untimed warm-up cycles, then ``--seconds`` worth of timed cycles at
the workload's nominal cycle time.  Every cycle's outputs are checked
against an oracle computed before set-up.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` adds
traced cycles after the timed ones and reports the per-layer metrics.
Steadiness diagnostics are printed as one JSON line before the result;
the last line of standard output is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# total drift over the warm-up and timed cycles, as a share of their
# median, above which the run is flagged as still trending
TREND_TOL = 0.05


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def slope_share(times: list[float]) -> float:
    """Least-squares change per cycle, times the number of steps, as a
    share of the median: the total drift over ``times``."""
    n = len(times)
    if n < 2:
        return 0.0
    xm, ym = (n - 1) / 2, statistics.fmean(times)
    num = sum((i - xm) * (t - ym) for i, t in enumerate(times))
    den = sum((i - xm) ** 2 for i in range(n))
    return num / den * (n - 1) / statistics.median(times)


def layer_unit(name: str) -> str:
    for part, unit in (("_s", "s"), ("bytes", "B"), ("_mb", "MB"),
                       ("_pct", "%"), ("yield", "ratio")):
        if part in name.rsplit(".", 1)[-1]:
            return unit
    return "count"


class Runner:
    """Runs and checks cycles of one workload in one session."""

    def __init__(self, wl, spark):
        self.wl = wl
        self.spark = spark
        self.attempted = 0
        self.failures: list[str] = []

    def storage(self) -> tuple[float, int]:
        jsc = self.spark.sparkContext._jsc
        mb = sum(i.memSize() + i.diskSize()
                 for i in jsc.sc().getRDDStorageInfo()) / 2**20
        return mb, jsc.getPersistentRDDs().size()

    def cycle(self, tracer=None) -> dict:
        from procstat import host_cpu, steal_pct, tree_cpu_s

        outputs: dict[str, object] = {}
        step_s: dict[str, float] = {}

        def step(name, layer, fn, op=True):
            t = time.perf_counter()
            try:
                with tracer.span(name, layer) if tracer else nullcontext():
                    out = fn()
            except Exception as exc:  # one failed operation must not end the run
                traceback.print_exc(file=sys.stderr)
                out = exc
            step_s[name] = time.perf_counter() - t
            if op:
                outputs[name] = out
            return None if isinstance(out, Exception) else out

        cpu0, host0 = tree_cpu_s(), host_cpu()
        t0 = time.perf_counter()
        self.wl.cycle(self.spark, step)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        steal = steal_pct(host0, host_cpu())
        for op, out in outputs.items():
            self.attempted += 1
            if isinstance(out, Exception):
                why = f"{op}: {type(out).__name__}: {str(out)[:300]}"
            else:
                why = self.wl.check(op, out)
            if why:
                self.failures.append(why)
                print(f"# check failed: {why}", file=sys.stderr)
        storage_mb, persisted = self.storage()
        return {"wall_s": wall, "cpu_s": cpu, "steal_pct": steal,
                "storage_mb": storage_mb, "persisted_rdds": persisted,
                "step_s": step_s}



def traced_cycles(runner, n: int, query_names) -> dict:
    import spans

    tracer = spans.Tracer(runner.spark)
    tracer.install({
        "graph.pregel.run":
            lambda t, s, res: s.add("supersteps", res.iterations),
        "operators.dedup.lsh_candidate_pairs":
            lambda t, s, df: t.count_rows(s, "candidate_pairs", df),
        "operators.dedup.minhash_lsh_near_dup_pairs":
            lambda t, s, df: t.count_rows(s, "verified_pairs", df),
    })
    per_cycle, cycles = [], []
    try:
        for _ in range(n):
            c = runner.cycle(tracer)
            tracer.flush()
            c["unattributed_jobs"] = spans.attribute(tracer.roots,
                                                     tracer.jobs)
            c["lost_jobs_and_stages"] = (tracer.reader.lost_jobs
                                         + tracer.reader.lost_stages)
            c["coverage"] = spans.coverage(tracer.roots, c["wall_s"])
            m = spans.layer_metrics(tracer.roots, tracer.jobs)
            m["session.storage_mb"] = c["storage_mb"]
            m["session.persisted_rdds"] = c["persisted_rdds"]
            per_cycle.append(m)
            cycles.append(c)
            tracer.reset()
    finally:
        tracer.uninstall()
    names = {f"{layer}.{k}" for layer in spans.STANDARD_LAYERS
             for k in spans.STANDARD_METRICS}
    names |= {"graph.sever.calls", "graph.sever.self_s",
              "graph.sever.bytes_written", "graph.pregel.supersteps",
              "operators.dedup.candidate_pairs",
              "operators.dedup.verified_pairs",
              "session.storage_mb", "session.persisted_rdds"}
    names |= {f"plans.{q}.self_s" for q in query_names}
    metrics = {n: statistics.median(m.get(n, 0.0) for m in per_cycle)
               for n in sorted(names)}
    cand = metrics["operators.dedup.candidate_pairs"]
    metrics["operators.dedup.verify_yield"] = (
        metrics["operators.dedup.verified_pairs"] / cand if cand else 0.0)
    metrics["host.steal_pct"] = statistics.median(c["steal_pct"] for c in cycles)
    return {"metrics": metrics, "cycles": cycles}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process of the tree has ended."""
    from pyspark import SparkContext

    from procstat import is_live, tree_pids

    pids = [p for p in tree_pids() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if is_live(p)]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args, work: str, tmp: str) -> tuple[dict, dict]:
    from graphmapreduce_spark.session import get_spark
    from procstat import RssPeak
    from workloads import WORKLOADS, CorpusQuery

    wl = WORKLOADS[args.workload](work, args.seed)
    props = wl.prepare()
    nproc = len(os.sched_getaffinity(0))
    # fixed cycle counts: every run times the same cycles of the drift
    n_timed = max(1, round(args.seconds / wl.CYCLE_S))

    with RssPeak() as rss:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            # JVM temp files go to the checkout; no hsperfdata file in /tmp
            extra_conf={"spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"},
        )
        session_s = time.perf_counter() - t0
        try:
            wl.first_read(spark)
            setup_s = time.perf_counter() - t0
            runner = Runner(wl, spark)
            cold = runner.cycle()
            warm = [runner.cycle() for _ in range(wl.WARMUP_CYCLES)]
            timed = [runner.cycle() for _ in range(n_timed)]
            cycle_s = statistics.median(c["wall_s"] for c in timed)
            cpu_s = statistics.median(c["cpu_s"] for c in timed)
            peak_rss_mb = rss.peak_mb
            traced = None
            if args.trace:
                traced = traced_cycles(runner, n_timed, CorpusQuery.QUERIES)
                # untraced cycles on both sides of the traced ones, so
                # the warm-up drift cancels out of the overhead
                after = [runner.cycle() for _ in range(n_timed)]
                traced["metrics"]["trace.overhead_s"] = statistics.median(
                    c["wall_s"] for c in traced["cycles"]) - (
                    cycle_s + statistics.median(c["wall_s"] for c in after)
                ) / 2
        finally:
            stop_spark(spark)

    times = [c["wall_s"] for c in timed]
    drift = slope_share([c["wall_s"] for c in warm] + times)
    ran = [cold] + warm + timed
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "inputs": props,
        "setup_s": setup_s,
        "session_s": session_s,
        "cold_cycle_s": cold["wall_s"],
        "warmup_cycles_s": [c["wall_s"] for c in warm],
        "timed_cycles_s": times,
        "drift_share": drift,
        "trending": abs(drift) > TREND_TOL,
        "steal_pct_per_cycle": [c["steal_pct"] for c in ran],
        "storage_mb_per_cycle": [c["storage_mb"] for c in ran],
        "peak_rss_mb": peak_rss_mb,
        "timed_step_s": {k: statistics.median(c["step_s"][k] for c in timed)
                         for k in timed[0]["step_s"]},
        "failures": runner.failures[:20],
    }
    if traced is None:
        metrics = {"setup_s": setup_s, "cycle_s": cycle_s, "cpu_s": cpu_s}
    else:
        # cold_cycle_s and peak_rss_mb did not repeat within a tenth
        # between runs, so they are layer metrics without a bound
        metrics = dict(traced["metrics"], **{
            "session.self_s": session_s,
            "cold_cycle_s": cold["wall_s"],
            "peak_rss_mb": peak_rss_mb,
        })
        diag["traced_cycles"] = traced["cycles"]
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": v, "unit": layer_unit(k)}
                    for k, v in metrics.items()},
    }
    return diag, result


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's block manager, the JVM, Python's tempfile users (lineage
    # severing, streaming checkpoints) all write inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # a small, fixed heap: the inputs are a few MB, and a shared host
    # should not see the 8g default grow into its memory
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        diag, result = run(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
