"""The one BSP loop primitive for ``graph/``.

GMR drives every algorithm through one loop (``gmr.cpp:202-317``:
superstep, global vote-to-halt, repeat); here every iterative loop in
``graph/`` — ``Pregel.run`` and the hand-shaped loops of
``algorithms.py`` — goes through the three pieces below, which are the
only code that knows how a loop caches its edges, cuts and severs its
lineage, and votes to halt:

- ``persisted(df)`` — cache a loop's edge table for the loop's
  lifetime, unless the caller already cached it.
- ``Rounds`` — one loop's lineage severing: a lazily created
  ``LineageSeverer`` applied to the loop-carried frames at the START of
  a round, so a sever only happens when another round actually runs.
  Its cadence encodes ``graph/sever.py``'s two measured pathologies:
  linear message-join loops sever every ``SEVER_INTERVAL`` rounds (the
  ~16-chained-checkpoint cliff); loops that SELF-join their carried
  frame (``boruvka_mst``) sever every round (``every=1``: the estimated
  stats' BigInt blow-up).
- ``fixpoint`` — the chunked convergence driver of Pregel and the
  PageRank family: ``check_interval`` supersteps chained behind lazy
  ``localCheckpoint``s, then ONE ``max(delta)`` action per chunk that
  both tests the vote-to-halt and materializes the chunk.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graphmapreduce_spark.graph.sever import SEVER_INTERVAL, LineageSeverer


@contextmanager
def persisted(df: DataFrame, base: DataFrame | None = None):
    """Persist ``df`` MEMORY_AND_DISK for the block, unless ``base``
    (default: ``df`` itself) is already cached; yields whether this call
    cached it (callers that return a lazy frame materialize it before
    the cache drops).  Lazy: the loop's first job populates the cache
    while computing — an eager ``count()`` would be one extra full pass
    over the edge-derivation pipeline.  MEMORY_AND_DISK so big graphs
    spill instead of recomputing."""
    cached = (df if base is None else base).storageLevel == StorageLevel.NONE
    if cached:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield cached
    finally:
        if cached:
            df.unpersist()


class Rounds:
    """Lineage severing for one loop.  ``carry(rnd, *frames)`` returns
    the frames that enter round ``rnd``: re-born as parquet scans when
    ``every`` rounds have passed since the last sever (never at round
    0), unchanged otherwise; ``None`` passes through.  One frame in,
    one frame out; several in, a tuple out."""

    def __init__(self, spark, tag: str, every: int = SEVER_INTERVAL):
        self.spark = spark
        self.tag = tag
        self.every = every
        self._severer: LineageSeverer | None = None
        self._last = 0

    def carry(self, rnd: int, *frames):
        if rnd - self._last >= self.every:
            if self._severer is None:
                self._severer = LineageSeverer(self.spark, tag=self.tag)
            frames = tuple(
                None if f is None else self._severer.sever(f) for f in frames
            )
            self._last = rnd
        return frames[0] if len(frames) == 1 else frames


@dataclass
class Fixpoint:
    state: DataFrame
    iterations: int
    converged: bool
    deltas: list[float]
    # wall seconds per convergence chunk (ref per-phase timers,
    # gmr.h:369-380)
    seconds: list[float]


def fixpoint(
    state: DataFrame,
    step: Callable,
    *,
    max_iter: int,
    threshold: float,
    check_interval: int = 1,
    tag: str,
    chunk: Callable = nullcontext,
) -> Fixpoint:
    """Iterate ``step`` until ``max(delta) <= threshold`` or
    ``max_iter`` supersteps.

    ``step(state, mode) -> state`` builds one superstep's plan; the
    frame it returns carries a ``delta`` column.  ``chunk()`` is a
    context manager entered around each convergence chunk (plan
    construction plus its action); ``mode`` is what it yields
    (``Pregel`` passes ``single_job_chunk``).  Each superstep is cut
    with a lazy ``localCheckpoint``; the chunk's one ``max(delta)``
    action — the sole driver-side scalar per chunk (ref
    ``gmr.cpp:224-232`` piggybacked vote-to-halt) — computes the vote
    AND materializes every pending checkpoint in the same job.  Between
    chunks, ``Rounds`` severs the state every ``SEVER_INTERVAL``
    supersteps; the state was just materialized by the action, so the
    write reads hot blocks.

    ``check_interval > 1`` tests the vote only at chunk boundaries:
    the loop may overshoot the fixpoint by up to interval-1 supersteps
    — safe for idempotent (cover/min/max-style) updates, not for
    accumulating ones.
    """
    rounds = Rounds(state.sparkSession, tag)
    check_interval = max(1, check_interval)
    deltas: list[float] = []
    seconds: list[float] = []
    it = 0
    converged = False
    while it < max_iter and not converged:
        state = rounds.carry(it, state)
        t0 = time.perf_counter()
        with chunk() as mode:
            for _ in range(min(check_interval, max_iter - it)):
                state = step(state, mode).localCheckpoint(eager=False)
                it += 1
            max_delta = state.agg(F.max("delta")).first()[0]
            seconds.append(round(time.perf_counter() - t0, 4))
        deltas.append(float(max_delta) if max_delta is not None else 0.0)
        converged = max_delta is None or max_delta <= threshold
    return Fixpoint(state, it, converged, deltas, seconds)
