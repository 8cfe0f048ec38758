"""The benchmark's two workloads.

Each workload makes its inputs from the seed and computes its oracle
once (``prepare``, untimed), reads its first input as part of set-up
(``first_read``), runs one cycle of operations through the engine's
public API (``cycle``), and checks every output against the oracle
outside the timed region (``check``).
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Workload:
    name = ""
    # untimed cycles after the cold one.  Cycle times still drift down
    # for several more cycles; a fixed count makes every run time the
    # same cycles of that drift (an adaptive count moved corpus-query's
    # cycle_s by 25% between runs)
    WARMUP_CYCLES = 1
    # nominal warm cycle time on a 4-core host: --seconds / CYCLE_S
    # (rounded, at least 1) is the number of timed cycles
    CYCLE_S = 8.5

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed

    def prepare(self) -> dict:
        """Make inputs and oracles; returns the inputs' stated properties."""
        raise NotImplementedError

    def first_read(self, spark) -> None:
        raise NotImplementedError

    def cycle(self, spark, step) -> None:
        """Run one cycle; ``step(name, layer, fn, op=True)`` runs ``fn``
        in a top-level span and records its output as an operation."""
        raise NotImplementedError

    def check(self, op: str, out) -> str | None:
        """None when ``out`` matches the oracle, else a reason."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# graph-bsp
# ---------------------------------------------------------------------------
class GraphBsp(Workload):
    name = "graph-bsp"
    N_VERTICES = 5000
    N_EDGES = 40000
    LAYERS = 2
    PR_ITER = 10
    DAMPING = 0.85

    def prepare(self) -> dict:
        src, dst = gen.make_graph(self.seed, self.N_VERTICES, self.N_EDGES,
                                  self.LAYERS)
        self.path = os.path.join(self.work, "edges.txt")
        gen.write_edge_list(self.path, src, dst)
        self.ids = np.union1d(src, dst)
        self.oracle = {
            "pagerank": self._pagerank(src, dst),
            "sssp": self._sssp(src, dst),
        }
        return {"vertices": len(self.ids), "edges": len(src)}

    def _pagerank(self, src, dst) -> np.ndarray:
        """Power iteration with the engine's dangling rule: dangling
        mass is spread uniformly over all vertices."""
        n = len(self.ids)
        s = np.searchsorted(self.ids, src)
        d = np.searchsorted(self.ids, dst)
        outdeg = np.bincount(s, minlength=n).astype(np.float64)
        dangling = outdeg == 0
        r = np.full(n, 1.0 / n)
        for _ in range(self.PR_ITER):
            contrib = np.bincount(d, weights=r[s] / outdeg[s], minlength=n)
            r = ((1.0 - self.DAMPING) / n
                 + self.DAMPING / n * r[dangling].sum()
                 + self.DAMPING * contrib)
        return r

    def _sssp(self, src, dst) -> np.ndarray:
        import networkx as nx

        g = nx.DiGraph()
        g.add_nodes_from(self.ids.tolist())
        g.add_edges_from(zip(src.tolist(), dst.tolist()))
        dist = nx.single_source_shortest_path_length(g, 1)
        return np.array([float(dist.get(v, np.inf)) for v in self.ids.tolist()])

    def first_read(self, spark) -> None:
        spark.read.text(self.path).count()

    def cycle(self, spark, step) -> None:
        from graphmapreduce_spark.graph import algorithms as alg
        from graphmapreduce_spark.sources import graph_readers

        g = step("read_edge_list", "sources",
                 lambda: graph_readers.read_edge_list(spark, self.path),
                 op=False)
        step("pagerank", "graph.algorithms",
             lambda: alg.pagerank(g, damping=self.DAMPING,
                                  max_iter=self.PR_ITER,
                                  threshold=0.0).toArrow())
        step("sssp", "graph.algorithms",
             lambda: alg.sssp(g, source=1).toArrow())

    def check(self, op: str, out) -> str | None:
        cols = out.column_names
        order = np.argsort(out.column(0).to_numpy())
        ids = out.column(0).to_numpy()[order]
        got = out.column(1).to_numpy()[order]
        if not np.array_equal(ids, self.ids):
            return f"{op}: vertex ids differ ({len(ids)} vs {len(self.ids)})"
        want = self.oracle[op]
        if op == "pagerank":
            bad = ~np.isclose(got, want, rtol=1e-6, atol=0.0)
        else:
            bad = got != want
        if bad.any():
            i = int(np.argmax(bad))
            return (f"{op}: {int(bad.sum())} {cols[1]} values differ, e.g. "
                    f"id {ids[i]}: {got[i]!r} vs {want[i]!r}")
        return None


# ---------------------------------------------------------------------------
# corpus-query
# ---------------------------------------------------------------------------
def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    return cols, list(zip(*(table.column(c).to_pylist() for c in cols)))


class CorpusQuery(Workload):
    """Registry queries from ``plans/``: q576's dedup recipe over the
    seeded corpus, its result written with ``sinks.write_parquet``, and
    the relational q01 over the fixed seed-42 ``lineitem`` table (which
    ``--seed`` does not change)."""

    name = "corpus-query"
    WARMUP_CYCLES = 2
    CYCLE_S = 5.0
    N_DOCS = 1000
    DATA = os.path.join(HERE, "data", "sf0.01")
    DEDUP = "q576_dedup_corpus"
    QUERIES = (DEDUP, "q01_pricing_summary")

    def prepare(self) -> dict:
        import duckdb

        from graphmapreduce_spark.plans import workload

        ids, texts, counts = gen.make_corpus(self.seed, self.N_DOCS)
        self.corpus_dir = os.path.join(self.work, "corpus")
        gen.write_corpus(os.path.join(self.corpus_dir, "documents.parquet"),
                         ids, texts)
        self.out_dir = os.path.join(self.work, "dedup_out")
        self._cmp = _load_check_oracle().compare_results
        self.queries = workload.queries()
        sqls = workload.oracle_sql()
        self.oracle = {}
        for q in self.QUERIES:
            data = self.corpus_dir if q == self.DEDUP else self.DATA
            con = duckdb.connect()
            try:
                for f in sorted(os.listdir(data)):
                    con.execute(
                        f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT "
                        f"* FROM read_parquet('{os.path.join(data, f)}')")
                res = con.execute(sqls[q])
                self.oracle[q] = ([d[0] for d in res.description],
                                  res.fetchall())
            finally:
                con.close()
        return counts

    def first_read(self, spark) -> None:
        spark.read.parquet(self.corpus_dir).count()

    def cycle(self, spark, step) -> None:
        from graphmapreduce_spark.sources import sinks

        mapping = step(f"plans.{self.DEDUP}", "plans",
                       lambda: self.queries[self.DEDUP](spark, self.corpus_dir),
                       op=False)

        def write():
            sinks.write_parquet(mapping, self.out_dir)
            return self.out_dir

        step(f"plans.{self.DEDUP}+write_parquet", "sources", write)
        for q in self.QUERIES[1:]:
            fn = self.queries[q]
            step(f"plans.{q}", "plans",
                 lambda fn=fn: fn(spark, self.DATA).toArrow())

    def check(self, op: str, out) -> str | None:
        if op.endswith("+write_parquet"):
            import pyarrow.parquet as pq

            q = self.DEDUP
            out = pq.read_table(out)
        else:
            q = op.removeprefix("plans.")
        cols, rows = _arrow_rows(out)
        ok, msg = self._cmp(cols, rows, *self.oracle[q])
        return None if ok else f"{q}: {msg}"


WORKLOADS = {w.name: w for w in (GraphBsp, CorpusQuery)}
