"""Generic BSP superstep driver — the DataFrame-native `computing()` loop.

Reference semantics being re-expressed (cited into /root/reference):

- superstep dataflow: ghost exchange → map → sort → group-adjacent reduce →
  state update (``gmr.h:282-367`` ``computing()``; driver loop
  ``gmr.cpp:202-317``)
- state update modes ``accu`` / ``cover`` (``gmr.h:10``, ``gmr.h:182-185``)
- per-vertex convergence vs ``threshold = 0.0001`` + global vote-to-halt
  (``gmr.h:25``, ``gmr.h:155-194``, ``gmr.cpp:224-232``)
- iteration caps ``MAX_ITERATION = 10000`` / per-algorithm ``algoIterNum``
  (``gmr.h:28``, ``gmr.h:105``)

Spark mapping (one superstep, entirely declarative — Catalyst chooses the
physical join/agg strategies):

    msgs  = make_messages(active_vertices, edges)      # the ghost exchange
    aggd  = msgs.groupBy('id').agg(AGG)                # sort+reduce
    new   = vertices ⟕ aggd  → update expr (accu|cover)# updateGraph
    delta = max(abs(new.value - old.value))            # convergence barrier

Scale notes:
- The message join shuffles vertex state to the (pre-partitioned, big)
  edge table — not the other way round.  ``groupBy('id')`` gets map-side
  partial aggregation for algebraic aggregates automatically.
- Lineage is truncated every superstep with a lazy ``localCheckpoint``
  — without it the plan doubles per iteration and the driver dies
  re-optimizing it (the one genuinely iterative-specific engineering
  concern; the reference's equivalent state is just mutated arrays).
  The chunking, checkpointing, severing and edge caching all live in
  ``graph/iterate.py``; ``Pregel`` is one client of its ``fixpoint``.
- ``active_frontier=True`` implements the optimization the reference left
  disabled as a TODO (send only active vertices, ``graph.h:760-762``):
  only vertices whose value changed last superstep produce messages.

This is the distributed tier.  Graphs within the driver budget
(``iterate.driver_local``) run ``sssp``/``bfs`` as a numpy frontier
kernel on the driver instead (``algorithms._min_plus_local``), with the
same active set, update and vote, and WCC as a numpy closure
(``algorithms._min_label_local``); ``Pregel.run`` serves the graphs
above the budget and the loops without a driver kernel (SCC's
``_min_label``, Brandes levels).
"""

from __future__ import annotations

import enum
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphmapreduce_spark.graph.iterate import fixpoint, persisted

THRESHOLD = 1e-4  # ref gmr.h:25
MAX_ITERATION = 10_000  # ref gmr.h:28
# Vertex-state rows from which a loop runs each convergence chunk as one
# static-planned job (single_job_chunk) instead of the AQE path.
SINGLE_JOB_MIN_VERTICES = 4096


@contextmanager
def single_job_chunk(spark, enabled: bool = True):
    """Make one convergence chunk of an iterative loop execute as ONE
    Spark job instead of one job wave per superstep.

    Mechanism (measured, r07 session-5 instrumentation): with AQE on,
    ``AdaptiveSparkPlanExec.execute()`` runs every stage but the last at
    ``localCheckpoint(eager=False)`` CONSTRUCTION time — so each
    superstep's lineage cut blocks the driver on that superstep's
    shuffles, serializing the chunk on the driver no matter how the
    vote-to-halt is batched.  Suspending AQE while the chunk's plans are
    constructed makes ``physicalPlan.execute()`` purely lazy: the RDD
    chain (with its per-superstep local-checkpoint markers) accumulates
    without running anything, and the single convergence action then
    drives the whole chunk through the DAG scheduler back-to-back —
    materializing every pending checkpoint inside that one job.

    The superstep plans are static-planned: the loops this wraps carry
    their state partitioned on the join key (checkpoint RDDs preserve
    hash partitioning), so the static plan keeps the one-exchange-per-
    superstep shape; what AQE contributed — runtime broadcast of the
    tiny state side — is worth less than the per-superstep driver
    round-trips it costs (A/B in OPTIMIZATION_r08.md).

    Assumes one driver thread per session: the two flips are
    session-wide, so any query another thread plans on this session
    while the chunk is open runs without AQE and without broadcast
    joins.
    """
    prev = str(spark.conf.get("spark.sql.adaptive.enabled", "true"))
    if not enabled or prev.lower() == "false":
        yield False
        return
    # Static-plan the supersteps for the zero-extra-exchange shape the
    # loops are designed around: state and edges ride co-partitioned
    # hash keys, so a shuffled-hash join needs NO exchange and NO sort —
    # whereas the static default would pick sort-merge (per-superstep
    # sorts) and a small-stats side would pick broadcast (whose
    # executeBroadcast blocks the driver per superstep, re-serializing
    # the chunk).
    # autoBroadcastJoinThreshold=-1 disables statistics-driven broadcast
    # (a BroadcastExchange under a static plan blocks the driver on a
    # collect job per superstep).  The loops force the hash-join shape
    # they want with explicit SHUFFLE_HASH hints on the (small) state
    # side instead — hints bypass the threshold checks, which -1 would
    # otherwise poison (ShuffledHashJoin eligibility is sized in units
    # of this same threshold).
    prev_bc = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield True
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


class UpdateMode(enum.Enum):
    """ref gmr.h:10 ``enum UpdateMode {accu, cover}``."""

    ACCU = "accu"  # fvwgts[i] += v   (gmr.h:183)
    COVER = "cover"  # fvwgts[i] = v   (gmr.h:185)


@dataclass
class PregelResult:
    vertices: DataFrame
    iterations: int
    converged: bool
    deltas: list[float] = field(default_factory=list)
    # per-superstep wall seconds (ref per-phase timers, gmr.h:369-380)
    superstep_seconds: list[float] = field(default_factory=list)
    # per-chunk shuffle traffic (ref totalRecvBytes, gmr.cpp:272-273,
    # 318-319); populated when track_shuffle=True, one dict per
    # convergence chunk with shuffle_{read,write}_{bytes,records}
    shuffle_deltas: list[dict[str, int]] = field(default_factory=list)

    @property
    def total_shuffle_read_bytes(self) -> int:
        return sum(d.get("shuffle_read_bytes", 0) for d in self.shuffle_deltas)


class Pregel:
    """Iterate-until-convergence vertex program over DataFrames.

    Parameters
    ----------
    make_messages:
        ``fn(active_vertices, edges) -> DataFrame('id', 'msg')``.
        ``active_vertices`` carries (id, value); produce one row per
        message.  This is the user ``map`` (ref ``gmr.h:82``); the join
        it contains is the ghost exchange (ref ``graph.h:860-921``).
    agg:
        aggregate Column over the grouped ``msg`` column — the user
        ``reduce`` (ref ``gmr.h:89``), e.g. ``F.sum('msg')``.
    update:
        UpdateMode, or ``fn(old: Column, agg: Column) -> Column`` for
        custom merges (e.g. SSSP's least(old, min_msg)).
    """

    def __init__(
        self,
        make_messages: Callable[[DataFrame, DataFrame], DataFrame],
        agg: Column,
        update: UpdateMode | Callable[[Column, Column], Column],
        threshold: float = THRESHOLD,
        max_iter: int = MAX_ITERATION,
        active_frontier: bool = False,
        check_interval: int = 1,
        broadcast_vertices: bool = False,
        track_shuffle: bool = False,
    ):
        self.make_messages = make_messages
        self.agg = agg
        self.update = update
        self.threshold = threshold
        self.max_iter = max_iter
        self.active_frontier = active_frontier
        # check_interval > 1 chains that many supersteps into ONE Spark
        # job, testing the vote-to-halt only at chunk boundaries (see
        # iterate.fixpoint) — safe for idempotent updates, NOT for accu.
        self.check_interval = check_interval
        # broadcast the (small) vertex-state side into the message join
        # so the cached, pre-partitioned edge table never moves; leave
        # False when vertex state won't fit in one executor's memory.
        self.broadcast_vertices = broadcast_vertices
        # report per-chunk shuffle bytes in PregelResult.shuffle_deltas
        # (the reference's running totalRecvBytes).  Off by default: the
        # AppStatusStore read is a driver-side O(stages-so-far) walk per
        # chunk — free at human scale, not something the benchmark hot
        # loop should pay implicitly.
        self.track_shuffle = track_shuffle

    def _update_expr(self, old: Column, agg: Column) -> Column:
        if self.update is UpdateMode.ACCU:
            return old + F.coalesce(agg, F.lit(0.0))
        if self.update is UpdateMode.COVER:
            return F.coalesce(agg, old)
        return self.update(old, agg)

    def run(self, vertices: DataFrame, edges: DataFrame) -> PregelResult:
        # Materialize the edge table once: every superstep's message join
        # and every convergence action would otherwise re-execute the
        # whole edge-derivation pipeline (scan + shuffles) from scratch.
        # Cached before the vertex init below, whose plan may contain
        # the edge plan as a subtree.
        with persisted(edges):
            return self._iterate(vertices, edges)

    def _iterate(self, vertices: DataFrame, edges: DataFrame) -> PregelResult:
        v = vertices.select("id", "value").withColumn(
            "delta", F.lit(float("inf"))
        )
        v = v.localCheckpoint(eager=True)
        spark = v.sparkSession
        # Size-adaptive chunk execution (same budget philosophy as the
        # driver-local tier, iterate.driver_local): loops over a LARGE vertex
        # state run each convergence chunk as one static-planned job
        # (single_job_chunk — measured 1.3-1.4× on the 21k-vertex WCC at
        # sf0.1), while a SMALL state keeps the AQE path, whose runtime
        # broadcast of the state side lets the big cached edge table
        # avoid shuffling entirely (measured: the 500-vertex SCC pivot
        # loops regress 1.4× under static chunks).  The count is a
        # near-free job over the just-materialized init checkpoint.
        # broadcast_vertices asserts the state side is broadcast-small:
        # under a static chunk plan that explicit BroadcastExchange
        # would block the driver once per superstep (executeBroadcast is
        # a synchronous collect job), re-serializing exactly what the
        # single-job chunk exists to remove — so those loops keep the
        # AQE path (measured: q33 sssp +8% under static chunks).
        use_single_job = (
            not self.broadcast_vertices
            and v.count() >= SINGLE_JOB_MIN_VERTICES
        )
        shuffle_deltas: list[dict[str, int]] = []
        tracker = None
        if self.track_shuffle:
            from graphmapreduce_spark.metrics import ShuffleTracker

            tracker = ShuffleTracker(spark)

        @contextmanager
        def chunk():
            # suspend AQE for the chunk: every per-superstep lazy
            # localCheckpoint then constructs WITHOUT executing its
            # stages, and the convergence action drives the whole chunk
            # as ONE job (see single_job_chunk)
            with single_job_chunk(spark, enabled=use_single_job) as single:
                yield single
            if tracker is not None:
                shuffle_deltas.append(tracker.delta())

        def superstep(new: DataFrame, single_job: bool) -> DataFrame:
            active = (
                new.filter(F.col("delta") > self.threshold)
                if self.active_frontier
                else new
            )
            state = active.select("id", "value")
            if self.broadcast_vertices:
                state = F.broadcast(state)
            elif single_job:
                # static plan: hash-join with the SMALL state side as
                # build — no per-superstep sort (SMJ) and no
                # driver-blocking broadcast collect
                state = state.hint("shuffle_hash")
            msgs = self.make_messages(state, edges)
            aggd = msgs.groupBy("id").agg(self.agg.alias("_agg"))
            if single_job:
                aggd = aggd.hint("shuffle_hash")
            new_value = self._update_expr(F.col("_old"), F.col("_agg"))
            # inf-to-inf transitions (e.g. still-unreached SSSP
            # vertices) must read as delta 0, not NaN (inf - inf).
            delta = F.when(new_value == F.col("_old"), F.lit(0.0)).otherwise(
                F.abs(new_value - F.col("_old"))
            )
            return (
                new.select("id", F.col("value").alias("_old"))
                .join(aggd, "id", "left")
                .select("id", new_value.alias("value"), delta.alias("delta"))
            )

        res = fixpoint(
            v,
            superstep,
            max_iter=self.max_iter,
            threshold=self.threshold,
            check_interval=self.check_interval,
            tag="pregel",
            chunk=chunk,
        )
        return PregelResult(
            vertices=res.state.select("id", "value"),
            iterations=res.iterations,
            converged=res.converged,
            deltas=res.deltas,
            superstep_seconds=res.seconds,
            shuffle_deltas=shuffle_deltas,
        )
