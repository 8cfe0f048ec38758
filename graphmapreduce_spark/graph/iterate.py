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

Loops run on one of two tiers:

- (a) **driver-local**: a graph whose edge and vertex tables both fit
  the driver budget (``driver_local``) is collected via Arrow once per
  graph object — the first fitting call keeps the snapshot on the
  ``PropertyGraph`` (``LocalGraph.collect``), as GMR loads a graph once
  (``initGraph``) for every later round — and the loop runs as numpy on
  the driver (``local_fixpoint``, the twin of ``fixpoint``): GMR's own
  shape, a superstep as array code over the vertices one process owns
  (``gmr.h:282-367``).  No Spark job, checkpoint or sever per
  superstep, and none at all for a later call on the same graph.
  ``pagerank``, ``personalized_pagerank``, ``sssp``, ``bfs`` and
  ``connected_components`` (so ``dedup_clusters`` too) take it, and
  outside ``graph/`` so do ``minhash_lsh_near_dup_pairs`` and the whole
  ``pipeline.dedup_corpus`` recipe, whose corpus is collected under the
  same gate with its text bytes capped;
- (b)/(c) **distributed**: every other loop, and the same five above
  the budget — Spark supersteps through ``fixpoint`` and ``Rounds``.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType, DoubleType, StructField, StructType
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


def planned(df: DataFrame) -> DataFrame:
    """``df`` with its size estimate taken now.  A frame built over a
    persisted edge table is estimated from the source plan while the
    cache is empty and from the cached size once it is filled.  Loops
    whose first action used to fill the cache take their state's
    estimate here, before tier (a)'s gate fills it, so their broadcast
    choices stay what they were without the gate
    (``tests/test_graph_tiers.py::test_rank_superstep_broadcasts_the_rank_side``)."""
    df._jdf.queryExecution().optimizedPlan().stats()
    return df


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
    # a DataFrame from ``fixpoint``; ``local_fixpoint``'s numpy state
    state: Any
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


def local_fixpoint(
    state,
    step: Callable,
    *,
    max_iter: int,
    threshold: float,
    check_interval: int = 1,
) -> Fixpoint:
    """Tier (a)'s twin of ``fixpoint``: ``step(state) -> (state, delta)``
    runs one superstep as numpy, ``delta`` one float per vertex.  The
    vote ``max(delta) <= threshold`` is taken at the same chunk
    boundaries as ``fixpoint`` (every ``check_interval`` supersteps and
    at ``max_iter``), so both tiers overshoot and stop on the same
    supersteps.  As with Spark's ``max``, no vertices votes to halt and
    a NaN delta votes to go on."""
    check_interval = max(1, check_interval)
    deltas: list[float] = []
    seconds: list[float] = []
    it = 0
    converged = False
    while it < max_iter and not converged:
        t0 = time.perf_counter()
        for _ in range(min(check_interval, max_iter - it)):
            state, delta = step(state)
            it += 1
        max_delta = float(delta.max()) if delta.size else None
        seconds.append(round(time.perf_counter() - t0, 4))
        deltas.append(max_delta if max_delta is not None else 0.0)
        converged = max_delta is None or max_delta <= threshold
    return Fixpoint(state, it, converged, deltas, seconds)


DRIVER_BUDGET_KEY = "spark.graphmapreduce.clusterBroadcastMaxPairs"


def driver_budget(spark: SparkSession) -> int:
    """Tier (a)'s row budget (``DRIVER_BUDGET_KEY``; ``0`` turns it off)."""
    return int(spark.conf.get(DRIVER_BUDGET_KEY, "1000000"))


def driver_local(
    df: DataFrame,
    rows: int | None = None,
    payload: Column | None = None,
    max_bytes: int = 0,
) -> pa.Table | None:
    """Tier (a)'s one gate: ``df`` collected to the driver via Arrow when
    its rows fit the driver budget, else ``None``.

    The budget is ``spark.graphmapreduce.clusterBroadcastMaxPairs`` rows
    (default 1M ≈ 16 MB of long pairs — well under the broadcast-relation
    budget the session already grants every BHJ build side); ``0`` turns
    tier (a) off.  ``rows`` is ``df``'s row count when the caller has
    it (then only a frame that fits is collected); without it, at most
    budget + 1 rows are collected and a frame with more returns ``None``.
    ``payload`` is a per-row byte count for frames whose rows are not
    narrow (text): the payload of at most budget + 1 rows is taken
    first, and ``df`` is collected only when its rows fit the budget
    and its bytes fit both ``max_bytes`` and
    ``spark.sql.autoBroadcastJoinThreshold``, the relation size the
    session already collects to the driver to broadcast (``0`` or less
    turns this use of tier (a) off too).  The take reads partitions
    only until it has budget + 1 rows, so a frame far over the budget
    costs a partition or so of payload, not a scan.
    A graph is collected once: ``LocalGraph.collect`` keeps the first
    fitting collect on the graph object and serves later calls from it
    while it still fits the budget, so tier (a) reads the graph as of
    that call, like a Spark cache; rebuild the graph to see changed
    input.

    Tier (a)'s users: ``pagerank``, ``personalized_pagerank``, ``sssp``,
    ``bfs`` and ``connected_components`` (so ``dedup_clusters``) in
    ``graph/algorithms.py``, and ``operators/dedup.py::
    minhash_lsh_near_dup_pairs`` and ``pipeline.dedup_corpus`` (with
    ``payload``, the text bytes; both through ``dedup._driver_corpus``).

    The budget is a driver-memory cap, not a speed crossover.  At its
    edge tier (a) is faster over graph-bsp's whole cycle, though not
    for every algorithm.  Measured with ``tools/graph_tier_ab.py``
    (pagerank + sssp, 4 cores, 3 paired runs): 1M edges over 125k
    vertices 6.0 s vs 17.7 s distributed, 1M edges over 1M vertices
    16.8 s vs 30.6 s, with at most 134 MiB of numpy and 48 MiB of Arrow
    on the driver; a numpy superstep there costs 8-37 ms.  Per
    algorithm, at 1M edges over 1M vertices (1 pair, 4 cores), ``sssp``
    alone took 8.27 s on tier (a) and 6.79 s distributed, while the
    cycle took 25.1 s vs 41.1 s.  ``connected_components`` on the same
    graphs (2 pairs and 1 pair): 3.1 s vs 5.9 s and 8.2 s vs 8.8 s, at
    most 75 and 148 MiB of numpy during the call.
    """
    spark = df.sparkSession
    cap = driver_budget(spark)
    if cap <= 0:
        return None
    if payload is not None:
        conf = spark._jsparkSession.sessionState().conf()
        limit = min(max_bytes, conf.autoBroadcastJoinThreshold())
        if limit <= 0:
            return None
        sizes = df.select(payload).limit(cap + 1).collect()
        rows = len(sizes)
        if rows <= cap and sum(b or 0 for (b,) in sizes) > limit:
            return None
    if rows is not None and rows > cap:
        return None
    if rows is not None:
        return df.toArrow()
    table = df.limit(cap + 1).toArrow()
    return table if table.num_rows <= cap else None


def count_rows(df: DataFrame) -> int:
    """``df.count()`` as one RDD count job: under AQE ``DataFrame.count``
    plans a two-stage aggregate, two more jobs on top of the one that
    fills ``df``'s cache or lazy checkpoint.  The RDD is fixed at
    ``df``'s first action, so ``df`` must be a frame built after the
    cache it should fill."""
    return df._jdf.queryExecution().toRdd().count()


def _positions(col: pa.Array, keys: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Position in the vertex table of each id in ``col``; -1 for a null
    id or one that is not a vertex.  ``keys`` are the non-null vertex
    ids sorted, ``order`` their positions."""
    x = pc.fill_null(col, 0).to_numpy()
    if not len(keys):
        return np.full(len(x), -1, dtype=np.int64)
    i = np.minimum(np.searchsorted(keys, x), len(keys) - 1)
    hit = col.is_valid().to_numpy(zero_copy_only=False) & (keys[i] == x)
    return np.where(hit, order[i], -1)


@dataclass
class _Snapshot:
    """Tier (a)'s copy of one graph: the collected (src, dst, weight)
    edge table and vertex ids, and the ``edges`` / ``vertices`` frames
    they were collected from."""

    edges: DataFrame
    vertices: DataFrame
    table: pa.Table
    ids: pa.Array

    def of(self, graph) -> bool:
        """Collected from ``graph``'s current frames."""
        return self.edges is graph.edges and self.vertices is graph.vertices

    def fits(self, cap: int) -> bool:
        return 0 < cap and max(self.table.num_rows, len(self.ids)) <= cap

    @classmethod
    def take(cls, graph) -> "_Snapshot | None":
        """``graph`` collected when both its tables fit the driver
        budget, else ``None``.  The edge count is the job that fills the
        cache the distributed tier's loop reads."""
        # a new frame per call: a frame looks its plan up in the cache
        # once, so counting ``graph.edges`` itself would, on a second
        # call, count through the previous call's dropped cache and
        # leave this call's empty
        edges = graph.edges.select("src", "dst", "weight")
        table = driver_local(edges, count_rows(edges))
        if table is None:
            return None
        if graph.vertices_from_endpoints:
            # the vertex ids are the distinct endpoints, so they come
            # from the collected edges, not from a second collect; like
            # ``distinct()``, ``unique`` keeps one null
            ends = table.column("src").chunks + table.column("dst").chunks
            ids = pc.unique(pa.chunked_array(ends, table.schema.field("src").type))
            if len(ids) > driver_budget(graph.spark):
                return None
        else:
            vertices = driver_local(graph.vertices.select("id"))
            if vertices is None:
                return None
            ids = vertices.column("id").combine_chunks()
        return cls(graph.edges, graph.vertices, table, ids)


@dataclass
class LocalGraph:
    """A graph collected for tier (a).  ``ids`` keeps the vertex ids as
    Arrow for the output (a null id stays null); ``key``/``valid`` are
    the same ids as numpy.  Each edge's ``src``/``dst`` is a position in
    ``ids``, -1 where the endpoint is null or not a vertex — the
    endpoints the distributed tier's joins drop."""

    spark: SparkSession
    id_field: StructField
    ids: pa.Array
    key: np.ndarray
    valid: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    weight: np.ndarray | None

    @classmethod
    def collect(cls, graph, weighted: bool) -> "LocalGraph | None":
        """``graph`` on tier (a) when both its tables fit the driver
        budget, else ``None``.  Call inside ``persisted(graph.edges)``:
        the edge count is the job that fills the cache the distributed
        tier's loop reads.

        The first call that fits keeps a snapshot of the graph on it
        (the collected edge table and vertex ids, ``_Snapshot``), and
        later calls on the same graph build from it with no Spark job
        while ``graph.edges`` and ``graph.vertices`` are the frames it
        was taken from and it still fits the budget, which every call
        reads again (``0`` sends the call to the distributed tier and
        keeps the snapshot for later).  Like a Spark cache, tier (a)
        therefore reads the graph as of its first fitting call: input
        that changed under the same frames is not seen, so rebuild the
        graph (or reassign ``edges`` / ``vertices``) to see it.  The
        snapshot lives as long as the graph object (at most the budget
        in edge rows and in vertex ids).

        A ``from_edges`` graph's vertex ids are taken from the collected
        edges; any other graph's vertex table is collected under the
        budget.  Graphs with duplicate vertex ids or, when ``weighted``,
        null or non-finite weights also return ``None`` — they stay on
        the distributed tier."""
        snap = graph._local
        if snap is not None and not snap.of(graph):
            snap = graph._local = None
        if snap is None or not snap.fits(driver_budget(graph.spark)):
            snap = _Snapshot.take(graph)
            if snap is None:
                return None
            graph._local = snap
        ids = snap.ids
        key = pc.fill_null(ids, 0).to_numpy()
        valid = ids.is_valid().to_numpy(zero_copy_only=False)
        order = np.flatnonzero(valid)
        order = order[np.argsort(key[order], kind="stable")]
        keys = key[order]
        if ids.null_count > 1 or np.any(keys[1:] == keys[:-1]):
            return None
        edges = snap.table
        weight = None
        if weighted:
            w = edges.column("weight").combine_chunks()
            weight = pc.fill_null(w, 0.0).to_numpy()
            if w.null_count or not np.isfinite(weight).all():
                return None
        return cls(
            spark=graph.spark,
            id_field=graph.vertices.schema["id"],
            ids=ids,
            key=key,
            valid=valid,
            src=_positions(edges.column("src").combine_chunks(), keys, order),
            dst=_positions(edges.column("dst").combine_chunks(), keys, order),
            weight=weight,
        )

    @property
    def n(self) -> int:
        return len(self.ids)

    def out_degree(self, weighted: bool = False) -> np.ndarray:
        """Out-degree (out-strength when ``weighted``) per vertex: every
        edge whose src is a vertex counts, whatever its dst — as the
        distributed tier's ``groupBy(src)`` joined to the vertices."""
        out = self.src >= 0
        return np.bincount(
            self.src[out],
            weights=self.weight[out] if weighted else None,
            minlength=self.n,
        ).astype(np.float64)

    def frame(
        self,
        name: str,
        values: np.ndarray | pa.Array,
        field_type: DataType = DoubleType(),
        nullable: bool = False,
    ) -> DataFrame:
        """(id, ``name``) as one small local DataFrame, with the
        distributed tier's schema; ``values`` (numpy or Arrow) become a
        ``field_type`` column."""
        schema = StructType(
            [self.id_field, StructField(name, field_type, nullable)]
        )
        col = pa.array(values, to_arrow_type(field_type))
        table = pa.table({"id": self.ids, name: col})
        return self.spark.createDataFrame(table, schema)
