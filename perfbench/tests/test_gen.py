"""The generators are deterministic per seed and keep their stated
properties on every seed."""

import collections

import duckdb
import numpy as np
import pytest

import gen
from workloads import CorpusQuery, GraphBsp

SEEDS = (1, 2)
# q576's max_bucket_size
BUCKET_CAP = 64


def _graph_file(tmp_path, seed):
    src, dst = gen.make_graph(seed, GraphBsp.N_VERTICES, GraphBsp.N_EDGES,
                              GraphBsp.LAYERS)
    path = tmp_path / f"edges-{seed}.txt"
    gen.write_edge_list(str(path), src, dst)
    return path.read_bytes(), src, dst


def _corpus_file(tmp_path, seed):
    ids, texts, counts = gen.make_corpus(seed, CorpusQuery.N_DOCS)
    path = tmp_path / f"corpus-{seed}" / "documents.parquet"
    gen.write_corpus(str(path), ids, texts)
    return path, ids, texts, counts


def test_same_seed_same_bytes(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert (_graph_file(tmp_path / "a", 7)[0]
            == _graph_file(tmp_path / "b", 7)[0])
    assert (_corpus_file(tmp_path / "a", 7)[0].read_bytes()
            == _corpus_file(tmp_path / "b", 7)[0].read_bytes())


def test_other_seed_other_bytes(tmp_path):
    assert _graph_file(tmp_path, 1)[0] != _graph_file(tmp_path, 2)[0]
    assert (_corpus_file(tmp_path, 1)[0].read_bytes()
            != _corpus_file(tmp_path, 2)[0].read_bytes())


@pytest.mark.parametrize("seed", SEEDS)
def test_graph_properties(tmp_path, seed):
    _, src, dst = _graph_file(tmp_path, seed)
    assert len(np.union1d(src, dst)) == GraphBsp.N_VERTICES
    assert len(src) == GraphBsp.N_EDGES
    assert len(set(zip(src.tolist(), dst.tolist()))) == GraphBsp.N_EDGES
    assert not (src == dst).any()
    # BFS from vertex 1 reaches depth LAYERS exactly, so SSSP takes the
    # same number of supersteps on every seed
    out = collections.defaultdict(list)
    for a, b in zip(src.tolist(), dst.tolist()):
        out[a].append(b)
    depth, frontier, d = {1: 0}, [1], 0
    while frontier:
        d += 1
        nxt = [v for u in frontier for v in out[u] if v not in depth]
        for v in nxt:
            depth.setdefault(v, d)
        frontier = list(dict.fromkeys(nxt))
    assert max(depth.values()) == GraphBsp.LAYERS


@pytest.mark.parametrize("seed", SEEDS)
def test_corpus_properties(tmp_path, seed):
    path, ids, texts, counts = _corpus_file(tmp_path, seed)
    assert sorted(ids.tolist()) == list(range(1, CorpusQuery.N_DOCS + 1))
    assert counts == {"unique": 504, "exact": 250, "near": 150,
                      "template": 96}
    # exact copies are the only repeated texts
    assert len(texts) - len(set(texts)) == counts["exact"]
    # near copies differ from one original in exactly one word
    originals = texts[:counts["unique"]]
    by_len = collections.defaultdict(list)
    for t in originals:
        by_len[len(t.split())].append(t.split())
    near = texts[counts["unique"] + counts["exact"]:][:counts["near"]]
    for t in near:
        w = t.split()
        assert min(sum(x != y for x, y in zip(w, o))
                   for o in by_len[len(w)]) == 1
    # the template family shares everything but its last word
    stems = collections.Counter(t.rsplit(" ", 1)[0] for t in texts)
    assert stems.most_common(1)[0][1] == counts["template"]


@pytest.mark.parametrize("seed", SEEDS)
def test_corpus_has_bucket_above_cap(tmp_path, seed):
    """At least one LSH band bucket of q576's banding holds more docs
    than its bucket cap of 64, so the oversized-bucket path runs."""
    from graphmapreduce_spark.plans.w11_analytics_f import (
        _dedup_corpus_cte_body,
    )

    path = _corpus_file(tmp_path, seed)[0]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}')")
    biggest = con.execute(
        "WITH RECURSIVE" + _dedup_corpus_cte_body()
        + " SELECT max(n) FROM (SELECT count(*) AS n FROM bands"
          " GROUP BY bucket)").fetchone()[0]
    con.close()
    assert biggest > BUCKET_CAP
