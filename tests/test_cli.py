"""CLI launcher parity (ref startgmr.sh:14-69, gmr.cpp:52-105,176-188):
`python -m graphmapreduce_spark <algorithm> <graphfile>` runs the named
algorithm on small committed graph fixtures in the reference's three
on-disk formats and reproduces the golden pytest values.

Fixtures (``testdata_fixtures/``, 1-based vertex ids):

- ``small.graph`` — METIS adjacency, header ``10 10``: 10 vertices, 10
  undirected edges 1-{2,3,4,5,10}, 2-{3,6,7}, 3-{8,9}.  Connected;
  vertex 1 has the top degree (5); the only cycle is the triangle
  {1,2,3}; every other vertex is a degree-1 leaf.
- ``small.graph.subgraph.0`` — the same topology as one fmt-1111
  subgraph partition (``vid vwgt (nbor part wgt)*`` rows, 3-token
  header).
- ``rdsmall.graph`` — edge list WITH the 2-line count header (12
  vertices, 24 edges): the 12-cycle 1-2-…-12-1, both directions.
- ``3line.graph`` — edge list without a header: 1→2, 2→3, 3→2.
- ``grid.graph`` / ``rdgrid.graph`` — the 2×3 grid (rows 1-2-3 and
  4-5-6, rungs 1-4, 2-5, 3-6) as METIS adjacency (header ``6 7``) and
  as a headerless edge list (14 directed rows).
"""

import os
import subprocess
import sys

from graphmapreduce_spark.__main__ import _detect_format

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIX = os.path.join(REPO, "testdata_fixtures")


def test_format_autodetect_on_reference_fixtures():
    # METIS adjacency: header `nvtxs nedges`, body line per vertex
    assert _detect_format(f"{FIX}/small.graph") == "metis"
    assert _detect_format(f"{FIX}/grid.graph") == "metis"
    # edge lists: 2-line count header (rdsmall) or none (3line, rdgrid)
    assert _detect_format(f"{FIX}/rdsmall.graph") == "edgelist"
    assert _detect_format(f"{FIX}/3line.graph") == "edgelist"
    assert _detect_format(f"{FIX}/rdgrid.graph") == "edgelist"
    # pre-partitioned subgraph files
    assert _detect_format(f"{FIX}/small.graph.subgraph.0") == "subgraph"


def test_cli_trianglecount_small_graph_golden():
    """Reference default algorithm on its golden fixture: small.graph
    has exactly one triangle {1,2,3}."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "-m", "graphmapreduce_spark",
         "trianglecount", f"{FIX}/small.graph"],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "triangles: 1" in out.stdout


def test_cli_ktruss_small_graph_golden():
    """ktruss launcher path (regression: it used to orderBy src/dst,
    columns k_truss never emits).  small.graph's only triangle {1,2,3}
    is exactly the 3-truss: 3 canonical edges, support 1 each."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "-m", "graphmapreduce_spark",
         "ktruss", f"{FIX}/small.graph", "--k", "3"],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert lines[0].split("\t") == ["a", "b", "support"]
    assert "# rows: 3" in out.stdout
    assert lines[1].split("\t") == ["1", "2", "1"]


def test_cli_harmonic_default_sources():
    """harmonic launcher path (regression: it used to omit the required
    `sources` argument and TypeError on every invocation).  Default
    seeds = the 8 smallest vertex ids of small.graph's 10; every vertex
    is reachable so all 10 score."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "-m", "graphmapreduce_spark",
         "harmonic", f"{FIX}/small.graph"],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[0].split("\t")[0] == "id"
    assert "# rows: 10" in out.stdout


def test_cli_pagerank_output_parquet(tmp_path):
    """Launcher end-to-end with --output: ranks land in parquet, the
    max-degree vertex of small.graph (vertex 1, degree 5) ranks first."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out_dir = str(tmp_path / "pr")
    r = subprocess.run(
        [sys.executable, "-m", "graphmapreduce_spark",
         "pagerank", f"{FIX}/small.graph", "--max-iter", "20",
         "--output", out_dir],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    first = r.stdout.splitlines()[1].split("\t")
    assert first[0] == "1"  # highest-degree vertex tops the ranking
    import glob
    assert glob.glob(out_dir + "/*.parquet"), "parquet output missing"


def test_cli_every_remaining_algorithm_branch():
    """EVERY remaining --algorithm choice launches end-to-end on the
    small fixture (round-4 ADVICE lesson, completed round 5: the
    two CLI crashes both lived in branches no test had ever entered).
    Together with the dedicated goldens above this covers the full
    argparse choices list."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    for algo, extra in (
        ("sssp", ["--source", "1"]),
        ("bfs", ["--source", "1"]),
        ("wcc", []),
        ("scc", []),
        ("kcore", ["--k", "2"]),
        ("coreness", []),
        ("labelprop", []),
        ("louvain", []),
        ("mis", []),
        ("matching", []),
        ("wcccontract", []),
    ):
        out = subprocess.run(
            [sys.executable, "-m", "graphmapreduce_spark",
             algo, f"{FIX}/small.graph", *extra],
            capture_output=True, text=True, timeout=300, cwd=REPO,
            env=env,
        )
        assert out.returncode == 0, (algo, out.stderr[-2000:])
        body = out.stdout.strip().splitlines()
        assert len(body) >= 2, (algo, out.stdout)
        assert any(line.startswith("# rows:") for line in body), (
            algo, out.stdout,
        )


def test_cli_new_centralities_run():
    """Every round-4 centrality launches end-to-end on the small
    fixture (the ADVICE lesson: an advertised CLI branch without
    a test can ship crashing)."""
    import pytest

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    for algo in (
        "closeness", "betweenness", "edgebetweenness", "eccentricity",
        "hits", "katz", "eigenvector", "reciprocity",
        "coloring", "adamicadar",
    ):
        out = subprocess.run(
            [sys.executable, "-m", "graphmapreduce_spark",
             algo, f"{FIX}/small.graph", "--sources", "1,2"],
            capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
        )
        assert out.returncode == 0, (algo, out.stderr[-2000:])
        assert len(out.stdout.strip().splitlines()) >= 2, (
            algo, out.stdout,
        )
