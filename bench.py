"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "stddev", "failed",
"sf"}.

Each query is materialized with the noop sink (full execution, no driver
collect cost) — the number is end-to-end plan execution wall time.
Mirrors the reference's instrumentation intent (per-phase wall times,
``gmr.h:369-380``; total time ``gmr.cpp:318-319``) at query granularity.
``tools/perf.py`` imports the query list, session, warmup and timed pass
from here, so its numbers are bench numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graphmapreduce_spark.session import get_spark  # noqa: E402
from graphmapreduce_spark.plans import workload  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q02_top_customers",
    "q03_snowflake_agg",
    "q07_window_topk_per_group",
    "q10_rollup",
    "q12_distinct_agg",
    "q14_sort_limit",
    "q21_range_join",
    "q22_asof_join",
    "q31_triangle_count",
    "q32_pagerank",
    "q34_wcc",
    "q40_dedup_exact",
    "q45_ngram_jaccard",
    "q46_minhash_lsh",
    "q48_embedding_topk",
    "q54_winnowing",
    "q60_tumbling_window",
    "q62_session_window",
    "q63_streaming_tumbling",
    # round-4 additions: LLM-pipeline scoring ops (scan-bound)
    "q153_hashed_ngram_classifier",
    "q155_unigram_surprisal",
    # round-4 additions: span-dedup (position-keyed shuffle) and the
    # two-phase Brandes dataflow (iterative, multi-source-batched)
    "q167_dup_ngram_spans",
    "q168_betweenness",
    # round-4c additions: inverted-index TF-IDF pair generation and the
    # bucket-keyed banded cosine join (both pair-count-bound)
    "q255_tfidf_cosine",
    "q260_calibration_bins",
    # round-5 addition: the composed 100 TB dedup recipe (exact →
    # capped+sampled LSH → clusters → canonical mapping) — the
    # flagship LLM-pipeline operator
    "q576_dedup_corpus",
]


def settings() -> tuple[str, str]:
    """The scale-factor directory and core count every run reads."""
    return (
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        os.environ.get("SPARK_GRAFT_CPUS", "32"),
    )


def session(app_name: str = "gmr-spark-bench"):
    """The benchmark session: local[cpus] with cpus shuffle partitions."""
    _, cpus = settings()
    return get_spark(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )


def warm_up(spark, sf_dir: str) -> None:
    """Session warmup: JVM JIT, codegen, parquet footer cache — so query
    times measure plan execution, not first-run compilation."""
    try:
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
        timed(spark, workload.q01_pricing_summary, sf_dir)
        # streaming-engine warmup: the first micro-batch run pays
        # engine/state-store/sink initialization that batch warmup
        # doesn't touch — one throwaway availableNow pass keeps q63's
        # timed passes inside the ±15% ambient band (its cross-round
        # stddev was warmup-dominated before)
        timed(spark, workload.q63_streaming_tumbling, sf_dir)
    except Exception as exc:  # warmup failure must not kill the run
        print(f"# warmup failed: {exc}", file=sys.stderr)


def timed(spark, fn, sf_dir: str) -> float:
    """Wall seconds to build one query's frame and run it into the noop
    sink (full execution, no driver collect cost)."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def result_line(
    times: dict[str, float | None],
    spread: dict[str, float | None],
    sf_dir: str,
) -> str:
    """The run's one JSON line."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(t for t in times.values() if t is not None), 3)
    return json.dumps(
        {
            "metric": "headline_total_wall",
            "value": total,
            "unit": "sec",
            "queries": times,
            "stddev": spread,
            "failed": [k for k, v in times.items() if v is None],
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
    )


def main() -> int:
    sf_dir, _ = settings()
    spark = session()
    qs = workload.queries()
    warm_up(spark, sf_dir)
    times: dict[str, float | None] = {}
    spread: dict[str, float | None] = {}
    for name in HEADLINE:
        # per-query isolation: one throwing query records null and the
        # run continues — the JSON line is ALWAYS emitted
        # best of 3: pass 1 includes per-query codegen compilation and
        # any ambient-load spike; the min is the repeatable warm number,
        # and the stddev of the LAST TWO (warm) passes is the ambient
        # noise band — a regression outside it is real, not load
        try:
            runs = [timed(spark, qs[name], sf_dir) for _ in range(3)]
            times[name] = round(min(runs), 3)
            warm = runs[1:]
            mean = sum(warm) / len(warm)
            spread[name] = round(
                (sum((t - mean) ** 2 for t in warm) / len(warm)) ** 0.5, 3
            )
            print(
                f"# {name}: {times[name]:.2f}s ±{spread[name]:.2f}",
                file=sys.stderr,
            )
        except Exception as exc:
            times[name] = None
            spread[name] = None
            print(f"# {name}: FAILED {type(exc).__name__}: {exc}",
                  file=sys.stderr)
    print(result_line(times, spread, sf_dir))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
