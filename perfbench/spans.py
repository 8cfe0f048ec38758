"""Spans around the engine's public functions, and the Spark work each
span launched.

A traced run wraps each layer's public functions (module attributes and
the ``Pregel.run`` / ``LineageSeverer.sever`` methods) in spans kept in
memory.  Every span sets its own Spark job group, so a job carries the
id of the innermost span open on the thread that submitted it.  Jobs
submitted on other threads with a group of their own (Structured
Streaming sets one per query run) fall back to the innermost span whose
interval holds the job's submission time.

`StageReader` reads finished jobs and their stages from the
AppStatusStore by job-id watermark, at every span exit.  It never sums
the store's whole stage list, which shrinks once more than
``spark.ui.retainedStages`` stages exist.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

STANDARD_LAYERS = (
    "sources",
    "graph.algorithms",
    "graph.pregel",
    "operators.dedup",
    "pipeline",
    "plans",
)
STANDARD_METRICS = (
    "self_s",
    "driver_s",
    "jobs",
    "tasks",
    "executor_s",
    "shuffle_bytes",
    "fetch_wait_s",
    "spill_bytes",
    "gc_s",
    "failed_tasks",
)
# pseudo-layer of the tracer's own work (store reads, row counts)
TRACE_LAYER = "trace"


# ---------------------------------------------------------------------------
# AppStatusStore reader
# ---------------------------------------------------------------------------
class StageReader:
    """Finished jobs since construction, each with its stages' metrics.

    The job-id watermark only moves forward, so a job is read once, and
    reading after every span keeps the reads ahead of the store's
    eviction of old jobs and stages.  Jobs or stages evicted before
    they were read are counted in ``lost_jobs`` / ``lost_stages``.
    """

    def __init__(self, spark):
        self._ssc = spark.sparkContext._jsc.sc()
        self._next = self._ssc.dagScheduler().numTotalJobs()
        self._seen_stages: set[int] = set()
        self.lost_jobs = 0
        self.lost_stages = 0

    def pending(self) -> bool:
        return self._ssc.dagScheduler().numTotalJobs() > self._next

    def read_new(self) -> list[dict]:
        end = self._ssc.dagScheduler().numTotalJobs()
        if end <= self._next:
            return []
        try:
            self._ssc.listenerBus().waitUntilEmpty(10_000)
        except Py4JJavaError:
            pass  # a busy bus only delays what the next read sees
        store = self._ssc.statusStore()
        out = []
        for jid in range(self._next, end):
            try:
                j = store.job(jid)
            except Py4JJavaError:
                self.lost_jobs += 1
                continue
            if str(j.status()) == "RUNNING":
                end = jid  # read it once it has finished
                break
            out.append(self._job(store, j))
        self._next = end
        return out

    def _job(self, store, j) -> dict:
        def ms(opt):
            return opt.get().getTime() / 1000.0 if opt.isDefined() else None

        group = j.jobGroup()
        ids = j.stageIds().mkString(",")
        stages = []
        for sid in (int(x) for x in ids.split(",") if x):
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:
                self.lost_stages += 1
                continue
            if str(s.status()) == "SKIPPED":
                continue
            stages.append({
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "executor_s": s.executorRunTime() / 1000.0,
                "shuffle_bytes": s.shuffleWriteBytes(),
                "fetch_wait_s": s.shuffleFetchWaitTime() / 1000.0,
                "spill_bytes": s.diskBytesSpilled(),
                "gc_s": s.jvmGcTime() / 1000.0,
                "output_bytes": s.outputBytes(),
            })
        return {
            "id": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "t0": ms(j.submissionTime()),
            "t1": ms(j.completionTime()),
            "stages": stages,
        }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
@dataclass(eq=False)
class Span:
    id: str
    name: str
    layer: str
    parent: "Span | None"
    t0: float
    t1: float = 0.0
    children: list["Span"] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, n: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + n


def _layer_of(module: str) -> str:
    name = module.removeprefix("graphmapreduce_spark.")
    return "sources" if name.startswith("sources.") else name


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.reader = StageReader(spark)
        self.roots: list[Span] = []
        self.jobs: list[dict] = []
        self._stack: list[Span] = []
        self._n = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        s = Span(f"perfbench-span-{self._n}", name, layer, parent, time.time())
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.id, parent.name)
            else:
                self._sc._jsc.clearJobGroup()
            if layer != TRACE_LAYER and self.reader.pending():
                with self.span("trace.read", TRACE_LAYER):
                    self.jobs.extend(self.reader.read_new())

    def flush(self) -> None:
        self.jobs.extend(self.reader.read_new())

    def reset(self) -> None:
        """Drop finished spans and jobs (between cycles)."""
        self.flush()
        self.roots, self.jobs = [], []

    # -- wrapping ------------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str, hook=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as s:
                out = fn(*args, **kwargs)
                if hook is not None:
                    hook(tracer, s, out)
                return out

        return wrapper

    def _replace(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, hooks: dict[str, object] | None = None) -> None:
        """Wrap every public function of the traced layers, plus
        ``Pregel.run`` and ``LineageSeverer.sever``.  Module-level
        aliases of a wrapped function in other engine modules are
        replaced too, so callers that imported it by name are traced.
        ``hooks`` maps a span name to ``hook(tracer, span, result)``."""
        import importlib

        hooks = hooks or {}
        originals = {}
        for modname in (
            "graphmapreduce_spark.sources.graph_readers",
            "graphmapreduce_spark.sources.sinks",
            "graphmapreduce_spark.graph.algorithms",
            "graphmapreduce_spark.operators.dedup",
            "graphmapreduce_spark.pipeline",
        ):
            mod = importlib.import_module(modname)
            layer = _layer_of(modname)
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                    or hasattr(fn, "__wrapped__")  # context managers
                ):
                    continue
                name = f"{layer}.{attr}"
                originals[fn] = self._wrap(fn, layer, name, hooks.get(name))
                self._replace(mod, attr, originals[fn])
        from graphmapreduce_spark.graph.pregel import Pregel
        from graphmapreduce_spark.graph.sever import LineageSeverer

        for cls, attr, layer in (
            (Pregel, "run", "graph.pregel"),
            (LineageSeverer, "sever", "graph.sever"),
        ):
            name = f"{layer}.{attr}"
            self._replace(
                cls, attr,
                self._wrap(getattr(cls, attr), layer, name, hooks.get(name)),
            )
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("graphmapreduce_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in originals:
                    self._replace(mod, attr, originals[val])

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def count_rows(self, span: Span, key: str, df) -> None:
        """Count a DataFrame's rows in a tracer span, so the extra job
        is charged to the tracer, not to the layer being measured."""
        with self.span(f"trace.count.{key}", TRACE_LAYER):
            span.add(key, df.count())


# ---------------------------------------------------------------------------
# per-layer aggregation of one cycle
# ---------------------------------------------------------------------------
def _union(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _subtract(base, holes):
    """Intervals of ``base`` (disjoint, sorted) not covered by ``holes``."""
    out = []
    holes = _union(holes)
    for a, b in base:
        cur = a
        for h0, h1 in holes:
            if h1 <= cur or h0 >= b:
                continue
            if h0 > cur:
                out.append([cur, h0])
            cur = max(cur, h1)
        if cur < b:
            out.append([cur, b])
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _walk(spans):
    for s in spans:
        yield s
        yield from _walk(s.children)


def attribute(roots: list[Span], jobs: list[dict]) -> int:
    """Charge each job to its span; returns the number of jobs no span
    holds."""
    by_id = {s.id: s for s in _walk(roots)}
    unattributed = 0
    for j in jobs:
        s = by_id.get(j["group"])
        if s is None and j["t0"] is not None:
            # innermost span whose interval holds the submission time
            best, depth = None, -1
            for cand in by_id.values():
                if cand.t0 <= j["t0"] <= cand.t1:
                    d, p = 0, cand.parent
                    while p is not None:
                        d, p = d + 1, p.parent
                    if d > depth:
                        best, depth = cand, d
            s = best
        if s is None:
            unattributed += 1
        else:
            s.jobs.append(j)
    return unattributed


def layer_metrics(roots: list[Span], jobs: list[dict]) -> dict[str, float]:
    """Standard metrics per layer plus the span-name extras, for the
    spans of one cycle.  ``self_s`` of every span together covers the
    top-level spans exactly."""
    job_iv = [(j["t0"], j["t1"]) for j in jobs if j["t0"] and j["t1"]]
    m: dict[str, float] = {}

    def add(key, v):
        m[key] = m.get(key, 0.0) + v

    for s in _walk(roots):
        own = _subtract([[s.t0, s.t1]], [(c.t0, c.t1) for c in s.children])
        self_s = _length(own)
        add(f"{s.layer}.self_s", self_s)
        add(f"{s.layer}.driver_s", _length(_subtract(own, job_iv)))
        add(f"{s.layer}.jobs", len(s.jobs))
        if s.layer == "plans":
            add(f"{s.name}.self_s", self_s)
        for j in s.jobs:
            for st in j["stages"]:
                for k in ("tasks", "failed_tasks", "executor_s",
                          "shuffle_bytes", "fetch_wait_s", "spill_bytes",
                          "gc_s"):
                    add(f"{s.layer}.{k}", st[k])
                if s.layer == "graph.sever":
                    add("graph.sever.bytes_written", st["output_bytes"])
        if s.layer == "graph.sever":
            add("graph.sever.calls", 1)
        for k, v in s.counts.items():
            add(f"{s.layer}.{k}", v)
    return m


def coverage(roots: list[Span], wall_s: float) -> float:
    """Sum of all spans' self times over the cycle's wall time."""
    total = 0.0
    for s in _walk(roots):
        total += _length(
            _subtract([[s.t0, s.t1]], [(c.t0, c.t1) for c in s.children])
        )
    return total / wall_s if wall_s > 0 else 0.0
