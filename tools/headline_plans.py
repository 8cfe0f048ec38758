"""Dump `.explain('formatted')` for headline queries into a plan directory.

Usage: python tools/headline_plans.py <out_dir> <suffix: before|after> [query ...]
Runs at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]
with the SAME session parameters as bench.py, so the captured plans are
the benched plans.  Each query is executed once (noop sink) first so the
AQE-final annotations are present, then the pre-execution formatted plan
is written to <out_dir>/<name>_<suffix>.txt (e.g. out_dir plans/r08).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphmapreduce_spark.session import get_spark  # noqa: E402
from graphmapreduce_spark.plans import workload  # noqa: E402

HEADLINE = [
    "q01_pricing_summary", "q02_top_customers", "q03_snowflake_agg",
    "q07_window_topk_per_group", "q10_rollup", "q12_distinct_agg",
    "q14_sort_limit", "q21_range_join", "q22_asof_join",
    "q31_triangle_count", "q32_pagerank", "q34_wcc", "q40_dedup_exact",
    "q45_ngram_jaccard", "q46_minhash_lsh", "q48_embedding_topk",
    "q54_winnowing", "q60_tumbling_window", "q62_session_window",
    "q63_streaming_tumbling", "q153_hashed_ngram_classifier",
    "q155_unigram_surprisal", "q167_dup_ngram_spans", "q168_betweenness",
    "q255_tfidf_cosine", "q260_calibration_bins", "q576_dedup_corpus",
]


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or HEADLINE
    label = os.path.basename(os.path.normpath(out_dir))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        app_name=f"gmr-spark-plans-{label}",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    qs = workload.queries()
    for name in names:
        spark.sparkContext.setJobDescription(f"{label} plan: {name}")
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
