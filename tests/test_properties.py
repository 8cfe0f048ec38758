"""Property-based invariants (SURVEY §5): random tiny graphs checked
against brute-force Python references.  Few examples, no deadline —
each example is a full Spark job round-trip."""

import itertools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from graphmapreduce_spark.graph import PropertyGraph
from graphmapreduce_spark.graph import algorithms as alg

N = 6  # vertices 1..N

edge_sets = st.sets(
    st.tuples(
        st.integers(min_value=1, max_value=N),
        st.integers(min_value=1, max_value=N),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=12,
)

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _graph(spark, edges, weights=None):
    rows = [
        (a, b, float(weights.get((a, b), 1.0)) if weights else 1.0)
        for a, b in sorted(edges)
    ]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    return PropertyGraph.from_edges(e)


def _brute_sssp(edges, weights, source):
    nodes = {v for e in edges for v in e}
    dist = {v: float("inf") for v in nodes}
    if source in dist:
        dist[source] = 0.0
    for _ in range(len(nodes)):
        for (a, b) in edges:
            w = weights.get((a, b), 1.0)
            if dist.get(a, float("inf")) + w < dist.get(b, float("inf")):
                dist[b] = dist[a] + w
    return dist


@given(edges=edge_sets)
@SLOW
def test_sssp_matches_bellman_ford(spark, graph_tiers, edges):
    for _ in graph_tiers():
        weights = {e: 1.0 + (e[0] * 7 + e[1] * 3) % 5 for e in edges}
        g = _graph(spark, edges, weights)
        got = {r["id"]: r["distance"] for r in alg.sssp(g, source=1).collect()}
        want = _brute_sssp(edges, weights, 1)
        for v, d in want.items():
            assert got[v] == d, (v, got[v], d, sorted(edges))


@given(edges=edge_sets)
@SLOW
def test_triangle_count_matches_bruteforce(spark, edges):
    und = {frozenset(e) for e in edges}
    nodes = sorted({v for e in edges for v in e})
    want = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und
    )
    g = _graph(spark, edges)
    assert alg.triangle_count(g) == want, sorted(edges)


@given(edges=edge_sets)
@SLOW
def test_wcc_matches_union_find(spark, graph_tiers, edges):
    for _ in graph_tiers():
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        nodes = {v for e in edges for v in e}
        want = {}
        for v in nodes:
            root = find(v)
            want.setdefault(root, set()).add(v)
        want_sets = {frozenset(s) for s in want.values()}

        g = _graph(spark, edges)
        comp = {}
        for r in alg.connected_components(g).collect():
            comp.setdefault(r["component"], set()).add(r["id"])
        got_sets = {frozenset(s) for s in comp.values()}
        assert got_sets == want_sets, sorted(edges)


def test_winsorize_bounds_and_clipping(spark):
    from graphmapreduce_spark.operators.quality import winsorize

    df = spark.range(1, 101).selectExpr(
        "'g' AS g", "CAST(id AS DOUBLE) AS v"
    )
    w = winsorize(df, ["g"], "v", 0.10, 0.90)
    rows = w.collect()
    lo, hi = rows[0]["v_lo"], rows[0]["v_hi"]
    # exact interpolated percentiles of 1..100
    assert abs(lo - 10.9) < 1e-9 and abs(hi - 90.1) < 1e-9
    assert all(lo <= r["v_wins"] <= hi for r in rows)
    assert sum(r["v_wins"] != r["v"] for r in rows) == 20  # 10 per tail


def test_chi_squared_independent_and_dependent(spark):
    from graphmapreduce_spark.operators.quality import chi_squared

    # perfectly dependent: b == a -> chi2 = n * (k-1)
    dep = spark.range(400).selectExpr("id % 4 AS a", "id % 4 AS b")
    r = chi_squared(dep, "a", "b").first()
    assert abs(r["chi2"] - 400 * 3) < 1e-6 and r["dof"] == 9
    # perfectly independent balanced grid -> chi2 = 0
    ind = spark.range(400).selectExpr("id % 4 AS a", "(id div 4) % 5 AS b")
    r2 = chi_squared(ind, "a", "b").first()
    assert abs(r2["chi2"]) < 1e-6 and r2["dof"] == 12


def test_retention_cohorts_triangle(spark):
    from graphmapreduce_spark.operators.timeseries import retention_cohorts

    # u1 active day0+day1, u2 day0 only, u3 day1 only.  BIGINT ts is
    # epoch NANOSECONDS by contract (operators/_time.py).
    NS = 1_000_000_000
    df = spark.createDataFrame(
        [
            (1, 10 * NS),
            (1, 86410 * NS),
            (2, 20 * NS),
            (3, 86420 * NS),
            (1, 15 * NS),
        ],
        "u long, ts long",
    )
    rows = {(r["cohort"], r["bucket_offset"]): r["n_users"]
            for r in retention_cohorts(df, "u", "ts", 86400).collect()}
    assert rows == {(0, 0): 2, (0, 1): 1, (86400, 0): 1}


sizes_lists = st.lists(
    st.integers(min_value=0, max_value=5000), min_size=1, max_size=60
)


@given(sizes=sizes_lists)
@SLOW
def test_packed_layout_matches_naive_cumsum(spark, sizes):
    """Two-level cumsum property: for ANY size sequence, packed_layout
    equals the naive global running sum (bin = offset div capacity)."""
    from graphmapreduce_spark.operators.packing import packed_layout

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], "doc_id long, n long"
    )
    got = {
        r["doc_id"]: (r["bin"], r["offset"])
        for r in packed_layout(
            df, "doc_id", "n", capacity=7, range_size=4
        ).collect()
    }
    off = 0
    for i, n in enumerate(sizes):
        assert got[i] == (off // 7, off), (i, sizes)
        off += n


@given(sizes=sizes_lists)
@SLOW
def test_shard_assignment_exhaustive_and_ordered(spark, sizes):
    """Sharding property: shards are contiguous in id order,
    non-decreasing, within [0, num_shards), and every doc is assigned."""
    from graphmapreduce_spark.operators.packing import shard_assignment

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], "doc_id long, n long"
    )
    rows = sorted(
        shard_assignment(df, "doc_id", "n", num_shards=4,
                         range_size=8).collect(),
        key=lambda r: r["doc_id"],
    )
    assert len(rows) == len(sizes)
    shards = [r["shard"] for r in rows]
    assert all(0 <= s < 4 for s in shards)
    assert all(a <= b for a, b in zip(shards, shards[1:]))


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=4,
        max_size=50,
    )
)
@SLOW
def test_winsorize_never_widens_range(spark, vals):
    """Winsorize property: clipped values stay inside [group min, max]
    and inside the computed bounds; clipping is idempotent."""
    from graphmapreduce_spark.operators.quality import winsorize

    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "g string, v double"
    )
    rows = winsorize(df, ["g"], "v", 0.1, 0.9).collect()
    lo, hi = rows[0]["v_lo"], rows[0]["v_hi"]
    assert all(lo - 1e-9 <= r["v_wins"] <= hi + 1e-9 for r in rows)
    # idempotence: winsorizing already-clipped values changes nothing
    clipped = spark.createDataFrame(
        [("g", float(r["v_wins"])) for r in rows], "g string, v double"
    )
    again = winsorize(clipped, ["g"], "v", 0.0, 1.0).collect()
    assert all(abs(r["v_wins"] - r["v"]) < 1e-9 for r in again)


def test_hashed_ngram_score_bounds_and_determinism(spark):
    """Classifier scores are sigmoid-bounded, empty text scores exactly
    0.5 (zero logit), and scoring is a pure function of the text."""
    from graphmapreduce_spark.functions.text import hashed_ngram_score

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, ""), (3, "the quick brown fox"),
         (4, "completely different words here")],
        "id long, text string",
    )
    rows = {r["id"]: r["s"] for r in df.select(
        "id", hashed_ngram_score("text").alias("s")).collect()}
    assert all(0.0 < s < 1.0 for s in rows.values())
    assert rows[2] == 0.5
    assert rows[1] == rows[3]
    assert rows[1] != rows[4]


def test_unigram_surprisal_rare_tokens_score_higher(spark):
    """A doc of corpus-rare tokens must out-score a doc of the corpus's
    dominant token; uniform corpora give -ln(1/V) exactly."""
    from graphmapreduce_spark.operators.quality import unigram_surprisal
    import math

    # 9 docs of 'common', 1 doc of 'rare': counts common=9, rare=1, N=10
    rows = [(i, "common") for i in range(9)] + [(9, "rare")]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["surprisal"] for r in
           unigram_surprisal(df, "id", "text").collect()}
    assert abs(out[0] - round(-math.log(9 / 10), 6)) < 1e-9
    assert abs(out[9] - round(-math.log(1 / 10), 6)) < 1e-9
    assert out[9] > out[0]


@given(edges=edge_sets)
@SLOW
def test_greedy_coloring_always_proper(spark, edges):
    g = _graph(spark, edges)
    col = {r["id"]: r["color"] for r in alg.greedy_coloring(g).collect()}
    und = {frozenset(e) for e in edges}
    nodes = {v for e in edges for v in e}
    assert set(col) == nodes, sorted(edges)
    for pair in und:
        a, b = sorted(pair)
        assert col[a] != col[b], (sorted(edges), col)
    # Delta+1 bound
    deg = {
        v: sum(1 for p in und if v in p) for v in nodes
    }
    assert len(set(col.values())) <= max(deg.values()) + 1, (
        sorted(edges), col,
    )


@given(edges=edge_sets)
@SLOW
def test_adamic_adar_matches_bruteforce(spark, edges):
    import math

    und = {frozenset(e) for e in edges}
    nodes = {v for e in edges for v in e}
    nbrs = {
        v: {next(iter(p - {v})) for p in und if v in p} for v in nodes
    }
    want = {}
    for a in sorted(nodes):
        for b in sorted(nodes):
            if b <= a or frozenset((a, b)) in und:
                continue
            common = [
                z
                for z in nbrs[a] & nbrs[b]
                if len(nbrs[z]) >= 2
            ]
            if common:
                want[(a, b)] = (
                    len(common),
                    sum(1.0 / math.log(len(nbrs[z])) for z in common),
                )
    g = _graph(spark, edges)
    got = {
        (r["id_a"], r["id_b"]): (r["common"], r["score"])
        for r in alg.adamic_adar(g).collect()
    }
    assert set(got) == set(want), (sorted(edges), got, want)
    for k in want:
        assert got[k][0] == want[k][0], (k, sorted(edges))
        assert abs(got[k][1] - want[k][1]) < 1e-9, (k, sorted(edges))


def _neighbours(edges):
    """Each vertex's neighbour set in the simple undirected graph."""
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    return nbrs


@given(edges=edge_sets)
@SLOW
def test_k_truss_matches_bruteforce_peel(spark, edges):
    g = _graph(spark, edges)
    for k in (3, 4):
        und = {tuple(sorted(e)) for e in edges}
        while True:
            nbrs = _neighbours(und)
            support = {(a, b): len(nbrs[a] & nbrs[b]) for a, b in und}
            weak = {e for e, s in support.items() if s < k - 2}
            if not weak:
                break
            und -= weak
        got = {
            (r["a"], r["b"]): r["support"] for r in alg.k_truss(g, k).collect()
        }
        assert got == support, (k, sorted(edges))


@given(edges=edge_sets)
@SLOW
def test_vertex_jaccard_matches_bruteforce(spark, edges):
    nbrs = _neighbours(edges)
    want = {}
    for a, b in itertools.combinations(sorted(nbrs), 2):
        common = len(nbrs[a] & nbrs[b])
        if common:
            want[(a, b)] = (common, common / len(nbrs[a] | nbrs[b]))
    g = _graph(spark, edges)
    got = {
        (r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
        for r in alg.vertex_jaccard(g).collect()
    }
    assert set(got) == set(want), (sorted(edges), got, want)
    for k, (common, jaccard) in want.items():
        assert got[k][0] == common, (k, sorted(edges))
        assert abs(got[k][1] - jaccard) < 1e-12, (k, sorted(edges))
