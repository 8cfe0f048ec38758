"""Runtime metrics — the reference's instrumentation surface, Spark-side.

The reference prints per-phase wall times (exchange/map/sort/reduce/
update, ``gmr.h:369-380``, ``recordTick`` ``gmr.h:57-59``) and cumulative
received bytes (``gmr.cpp:272-273``, ``318-319`` ``totalRecvBytes``).
Spark already meters every stage; this module exposes:

- ``PhaseTimer`` — named wall-clock phases (ref ``printTimeConsume``).
- ``shuffle_metrics`` — cumulative shuffle read/write bytes + records
  aggregated over all completed stages, read from the JVM
  ``AppStatusStore`` (the store backing the UI/REST API; populated even
  with ``spark.ui.enabled=false``).
- ``ShuffleTracker`` — snapshot/delta wrapper so iterative drivers can
  report per-superstep shuffle traffic, the direct analog of the
  reference accumulating ``totalRecvBytes`` across supersteps.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class PhaseTimer:
    """Named wall-clock phases (ref ``recordTick``/``printTimeConsume``)."""

    phases: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + (
                time.perf_counter() - t0
            )

    def report(self) -> dict[str, float]:
        return {k: round(v, 4) for k, v in self.phases.items()}


def shuffle_metrics(
    spark: SparkSession, after_stage_id: int = -1
) -> dict[str, int]:
    """Cumulative shuffle traffic across the stages of this application
    with id > ``after_stage_id`` — the analog of the reference's
    ``totalRecvBytes`` (``gmr.cpp:318-319``).

    Reads the JVM ``AppStatusStore`` stage list (works with the UI
    disabled; no REST round-trip, no extra listener).  Returns::

        {"shuffle_read_bytes", "shuffle_write_bytes",
         "shuffle_read_records", "shuffle_write_records",
         "stages", "max_stage_id", "active_jobs"}

    The store keeps only the last ``spark.ui.retainedStages`` stages, so
    in a long-lived session the totals since application start shrink
    as old stages are evicted; ``ShuffleTracker`` therefore sums only
    the stages above its watermark for per-phase deltas.  On any JVM-API mismatch the byte counters are
    reported as 0 rather than failing the caller (metrics must never
    break the computation).
    """
    sc = spark.sparkContext
    out = {
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_records": 0,
        "shuffle_write_records": 0,
        "stages": 0,
        "max_stage_id": -1,
        "active_jobs": len(sc.statusTracker().getActiveJobsIds()),
    }

    def _read() -> dict[str, int] | None:
        try:
            jvm = sc._jvm
            store = sc._jsc.sc().statusStore()
            empty = jvm.java.util.Collections.emptyList()
            quantiles = sc._gateway.new_array(jvm.double, 0)
            stages = store.stageList(empty, False, False, quantiles, empty)
            acc = {k: 0 for k in out if k not in ("active_jobs",)}
            it = stages.iterator()
            while it.hasNext():
                s = it.next()
                acc["max_stage_id"] = max(acc["max_stage_id"], s.stageId())
                if s.stageId() <= after_stage_id:
                    continue
                acc["shuffle_read_bytes"] += s.shuffleReadBytes()
                acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
                acc["shuffle_read_records"] += s.shuffleReadRecords()
                acc["shuffle_write_records"] += s.shuffleWriteRecords()
                acc["stages"] += 1
            return acc
        except Exception:  # pragma: no cover - JVM API drift safety net
            return None

    # the AppStatusStore is populated asynchronously by the listener bus
    # AND flushed from live-entity state on its own cadence; a single
    # drain can still observe stale stage rows right after an action.
    # waitUntilEmpty THROWS on timeout — retry the drain under load
    # (e.g. a full-suite run sharing the bus with streaming queries),
    # then poll until two consecutive reads agree.  All waits bounded:
    # metrics must never stall the caller.
    for _ in range(3):
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(3000)
            break
        except Exception:
            continue
    prev = _read()
    if prev is None:
        return out
    deadline = time.monotonic() + 2.0
    while time.monotonic() < deadline:
        time.sleep(0.05)
        cur = _read()
        if cur is None or cur == prev:
            break
        prev = cur
    out.update(prev)
    return out


def max_task_shuffle_read(
    spark: SparkSession, after_stage_id: int = -1
) -> dict[str, int]:
    """Maximum per-TASK shuffle-read ``{"bytes", "records"}`` over
    completed stages with id > ``after_stage_id`` — the straggler
    indicator.

    Totals (`shuffle_metrics`) can look identical between a balanced
    and a skewed plan; what kills wall-clock at scale is the single
    hottest reducer.  This reads the task-level metric distribution
    (quantile 1.0 = max) from the AppStatusStore, so a skew mitigation
    (salting, AQE skew split) can be ASSERTED to have flattened the
    hottest task, not just argued in a docstring.  Assert on RECORDS
    for skew fixtures: a hot partition is all-identical key values, so
    its shuffle blocks run-length-compress and the bytes metric can
    understate the imbalance by orders of magnitude.  Returns zeros on
    any JVM-API mismatch — metrics must never break the computation.
    """
    out = {"bytes": 0, "records": 0}
    try:
        sc = spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        empty = jvm.java.util.Collections.emptyList()
        noq = sc._gateway.new_array(jvm.double, 0)
        q = sc._gateway.new_array(jvm.double, 1)
        q[0] = 1.0
        it = store.stageList(empty, False, False, noq, empty).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= after_stage_id:
                continue
            opt = store.taskSummary(s.stageId(), s.attemptId(), q)
            if opt.isDefined():
                m = opt.get().shuffleReadMetrics()
                out["bytes"] = max(out["bytes"], int(m.readBytes().apply(0)))
                out["records"] = max(
                    out["records"], int(m.readRecords().apply(0))
                )
        return out
    except Exception:  # pragma: no cover - JVM API drift safety net
        return out


class ShuffleTracker:
    """Per-phase shuffle deltas for iterative drivers.

    ``delta()`` returns the shuffle traffic since the previous call (or
    construction) and advances the snapshot — one call per superstep
    chunk reproduces the reference's running ``totalRecvBytes`` log line
    (``gmr.cpp:272-273``).  The delta also carries
    ``max_task_shuffle_read_bytes`` / ``..._records`` — the hottest
    single task among the stages completed inside the window (see
    `max_task_shuffle_read`).
    """

    _KEYS = (
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "shuffle_read_records",
        "shuffle_write_records",
    )

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._stage_watermark = shuffle_metrics(spark)["max_stage_id"]

    def delta(self) -> dict[str, int]:
        # only stages above the watermark: subtracting cumulative sums
        # breaks once the AppStatusStore starts evicting old stages
        cur = shuffle_metrics(self.spark, after_stage_id=self._stage_watermark)
        d = {k: cur[k] for k in self._KEYS}
        # shuffle_metrics drained the listener bus above, so the store
        # is as current as it gets for the task-level read too
        hottest = max_task_shuffle_read(
            self.spark, after_stage_id=self._stage_watermark
        )
        d["max_task_shuffle_read_bytes"] = hottest["bytes"]
        d["max_task_shuffle_read_records"] = hottest["records"]
        self._stage_watermark = max(self._stage_watermark, cur["max_stage_id"])
        return d


def observed(df, name: str, **metrics):
    """In-plan pipeline metrics via ``df.observe`` — aggregates computed
    DURING the caller's normal action, zero extra job (unlike a separate
    ``df.agg(...).collect()``, which re-scans).  The reference has no
    analog (its counters are per-phase wall/bytes only); this is the
    Spark-native row-level audit hook for ETL pipelines: row counts,
    null counts, domain violations, all piggybacked on the write.

    ``metrics`` maps output name -> aggregate Column.  Returns
    ``(df_with_observation, observation)``; read
    ``observation.get`` AFTER the first action on the returned frame.

        out, obs = observed(df, "stage1",
                            rows=F.count(F.lit(1)),
                            null_keys=F.count(F.when(F.col("k").isNull(), 1)))
        out.write.parquet(path)
        obs.get  # {'rows': ..., 'null_keys': ...}
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    cols = [m.alias(a) for a, m in metrics.items()]
    return df.observe(obs, *cols), obs
