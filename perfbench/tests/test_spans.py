"""Span bookkeeping and the stage-metric reader."""

import pytest

import spans


def _span(name, layer, t0, t1, parent=None):
    s = spans.Span(name, name, layer, parent, t0, t1)
    if parent is not None:
        parent.children.append(s)
    return s


def test_self_and_driver_time_partition_the_cycle():
    root = _span("op", "graph.algorithms", 0.0, 10.0)
    child = _span("run", "graph.pregel", 2.0, 6.0, root)
    _span("sever", "graph.sever", 3.0, 4.0, child)
    jobs = [
        {"id": 0, "group": "run", "t0": 2.5, "t1": 3.5,
         "stages": [dict(tasks=4, failed_tasks=0, executor_s=1.0,
                         shuffle_bytes=100, fetch_wait_s=0.0,
                         spill_bytes=0, gc_s=0.1, output_bytes=0)]},
        {"id": 1, "group": "sever", "t0": 3.2, "t1": 3.8,
         "stages": [dict(tasks=1, failed_tasks=0, executor_s=0.5,
                         shuffle_bytes=0, fetch_wait_s=0.0,
                         spill_bytes=0, gc_s=0.0, output_bytes=2048)]},
        # another thread's job (no span group): charged by time
        {"id": 2, "group": "stream-run", "t0": 8.0, "t1": 9.0,
         "stages": []},
    ]
    assert spans.attribute([root], jobs) == 0
    m = spans.layer_metrics([root], jobs)
    assert m["graph.algorithms.self_s"] == pytest.approx(6.0)
    assert m["graph.pregel.self_s"] == pytest.approx(3.0)
    assert m["graph.sever.self_s"] == pytest.approx(1.0)
    assert spans.coverage([root], 10.0) == pytest.approx(1.0)
    # pregel's own time is [2,3) and [4,6); jobs run over [2.5,3.8]
    assert m["graph.pregel.driver_s"] == pytest.approx(0.5 + 2.0)
    assert m["graph.algorithms.driver_s"] == pytest.approx(5.0)
    assert m["graph.algorithms.jobs"] == 1
    assert m["graph.pregel.shuffle_bytes"] == 100
    assert m["graph.sever.calls"] == 1
    assert m["graph.sever.bytes_written"] == 2048


@pytest.fixture(scope="module")
def spark():
    from graphmapreduce_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.ui.retainedStages": "20",
                    "spark.ui.retainedJobs": "20"},
    )
    yield s
    s.stop()


def test_per_span_bytes_survive_store_eviction(spark):
    """30 shuffle jobs at retainedStages=20: every span still gets its
    own nonzero shuffle bytes, read before the store evicts them."""
    from pyspark.sql import functions as F

    tracer = spans.Tracer(spark)
    for i in range(31):
        with tracer.span(f"job{i}", "plans"):
            spark.range(2000).groupBy((F.col("id") % 7).alias("k")).count() \
                .collect()
    tracer.flush()
    assert spans.attribute(tracer.roots, tracer.jobs) == 0
    assert tracer.reader.lost_jobs == 0 and tracer.reader.lost_stages == 0
    for s in tracer.roots:
        if s.layer == "plans":
            assert sum(st["shuffle_bytes"] for j in s.jobs
                       for st in j["stages"]) > 0, s.name
