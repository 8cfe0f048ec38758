"""Metrics surface (ref per-phase timers gmr.h:369-380, byte counters
gmr.cpp:318-319): PhaseTimer, shuffle_metrics, and the per-superstep
timings reported by the Pregel driver."""

import time

from pyspark.sql import functions as F

from graphmapreduce_spark.graph import PropertyGraph
from graphmapreduce_spark.graph.pregel import Pregel
from graphmapreduce_spark.metrics import PhaseTimer, shuffle_metrics


def test_phase_timer_accumulates():
    t = PhaseTimer()
    with t.phase("map"):
        time.sleep(0.01)
    with t.phase("map"):
        time.sleep(0.01)
    with t.phase("reduce"):
        pass
    rep = t.report()
    assert set(rep) == {"map", "reduce"}
    assert rep["map"] >= 0.02
    assert rep["reduce"] >= 0.0


def test_shuffle_metrics_reports_bytes(spark):
    # force a shuffle, then the cumulative counters must be nonzero
    spark.range(100_000).selectExpr("id % 7 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").collect()
    m = shuffle_metrics(spark)
    assert m["active_jobs"] == 0
    assert m["stages"] > 0
    assert m["shuffle_write_bytes"] > 0
    assert m["shuffle_read_bytes"] > 0
    assert m["shuffle_read_records"] > 0


def test_shuffle_tracker_deltas(spark):
    from graphmapreduce_spark.metrics import ShuffleTracker

    tracker = ShuffleTracker(spark)
    spark.range(50_000).selectExpr("id % 5 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").collect()
    d1 = tracker.delta()
    assert d1["shuffle_read_bytes"] > 0
    # no work since the last snapshot -> zero delta
    d2 = tracker.delta()
    assert d2["shuffle_read_bytes"] == 0


def test_shuffle_tracker_survives_stage_eviction():
    """Once the AppStatusStore evicts stages past
    ``spark.ui.retainedStages``, a delta of cumulative sums shrinks and
    clamps to 0.  The tracker sums only the stages above its watermark,
    so a tracked shuffle still reports its bytes.  Run in a fresh
    process: retainedStages is fixed when the session starts."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = """
import sys
sys.path.insert(0, %r)
from graphmapreduce_spark.metrics import ShuffleTracker
from graphmapreduce_spark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.retainedStages": "20"})
def shuffle(keys):
    df = spark.range(20000).selectExpr(f"id %% {keys} AS k")
    df.groupBy("k").count().collect()
for _ in range(20):
    shuffle(5000)  # large shuffles fill the store
tracker = ShuffleTracker(spark)
for _ in range(15):
    shuffle(7)  # small ones evict them
print("DELTA", tracker.delta()["shuffle_read_bytes"])
spark.stop()
""" % repo
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [x for x in out.stdout.splitlines() if x.startswith("DELTA")][0]
    assert int(line.split()[1]) > 0


def test_pregel_reports_superstep_seconds(spark):
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)], "src long, dst long, weight double"
    )
    g = PropertyGraph.from_edges(edges)
    init = g.vertices.select(
        "id", F.when(F.col("id") == 1, 0.0).otherwise(float("inf")).alias("value")
    )

    def messages(active, e):
        return (
            active.filter(F.col("value") != float("inf"))
            .join(e, active["id"] == e["src"])
            .select(F.col("dst").alias("id"), (F.col("value") + F.col("weight")).alias("msg"))
        )

    p = Pregel(
        make_messages=messages,
        agg=F.min("msg"),
        update=lambda old, agg: F.least(old, F.coalesce(agg, old)),
        threshold=0.5,
        max_iter=10,
        active_frontier=True,
    )
    res = p.run(init, g.edges)
    assert res.converged
    assert len(res.superstep_seconds) == res.iterations
    assert all(s > 0 for s in res.superstep_seconds)


def test_pregel_tracks_shuffle_bytes(spark):
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 5, 1.0)],
        "src long, dst long, weight double",
    )
    g = PropertyGraph.from_edges(edges)
    init = g.vertices.select(
        "id", F.when(F.col("id") == 1, 0.0).otherwise(float("inf")).alias("value")
    )

    def messages(active, e):
        return (
            active.filter(F.col("value") != float("inf"))
            .join(e, active["id"] == e["src"])
            .select(
                F.col("dst").alias("id"),
                (F.col("value") + F.col("weight")).alias("msg"),
            )
        )

    p = Pregel(
        make_messages=messages,
        agg=F.min("msg"),
        update=lambda old, agg: F.least(old, F.coalesce(agg, old)),
        threshold=0.5,
        max_iter=10,
        active_frontier=True,
        track_shuffle=True,
    )
    res = p.run(init, g.edges)
    assert res.converged
    assert len(res.shuffle_deltas) == len(res.superstep_seconds)
    # message groupBy shuffles every superstep — total must be nonzero
    assert res.total_shuffle_read_bytes > 0


def test_salted_join_flattens_hottest_task(spark):
    """Measured salting evidence (VERDICT r3 #9): on a 70%-hot-key
    fixture the salted plan's hottest reducer task must read well under
    the unsalted plan's — same rows out, skew spread over num_salts
    reducers.  Broadcast and AQE partition coalescing are disabled so
    both runs execute the same shuffled-join shape the mitigation
    targets."""
    from graphmapreduce_spark.metrics import ShuffleTracker
    from graphmapreduce_spark.operators.relational import salted_join

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # enough reducers that the salt spread is visible: with the
        # session's 4, murmur3(hot_key, salt) collisions re-bunch most
        # salts onto one reducer and hide the mitigation
        "spark.sql.shuffle.partitions": "16",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        left = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 7, F.lit(0))
            .otherwise(F.col("id") % 20)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )

        tracker = ShuffleTracker(spark)
        plain = left.join(right, "k")
        n_plain = plain.count()
        d_plain = tracker.delta()

        salted = salted_join(left, right, ["k"], num_salts=32)
        n_salted = salted.count()
        d_salted = tracker.delta()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    assert n_salted == n_plain  # row-identical result
    # RECORDS, not bytes: the hot partition is all-identical key values
    # and run-length-compresses, so bytes understate the skew
    hot_plain = d_plain["max_task_shuffle_read_records"]
    hot_salted = d_salted["max_task_shuffle_read_records"]
    assert hot_plain > 0 and hot_salted > 0
    # 70% of the rows hit ONE reducer unsalted; 32 salts spread that
    # hot key over the 16 reducers, so the hottest task must come down
    # by well over 40%
    assert hot_salted < 0.6 * hot_plain, (hot_plain, hot_salted)


def test_observed_piggybacks_on_single_action(spark, tmp_path):
    from pyspark.sql import functions as F

    from graphmapreduce_spark.metrics import observed

    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("k"),
    )
    out, obs = observed(
        df,
        "audit",
        rows=F.count(F.lit(1)),
        null_keys=F.count(F.when(F.col("k").isNull(), 1)),
        id_sum=F.sum("id"),
    )
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    out.write.mode("overwrite").parquet(str(tmp_path / "obs"))
    got = obs.get
    assert got["rows"] == 100
    assert got["null_keys"] == 10
    assert got["id_sum"] == sum(range(100))
    # the metrics rode the write job - no separate aggregation job ran
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) - len(before) <= 1
