"""Golden tests from the reference's own fixtures.

SSSP toy graph and expected output copied from
``giraph-examples/src/test/.../SimpleShortestPathsComputationTest.java:121-150``:
graph [1,0,[[2,1],[3,3]]], [2,0,[[3,1],[4,10]]], [3,0,[[4,2]]], [4,0,[]]
→ distances from 1: {1:0, 2:1, 3:2, 4:4}.
"""

import math

import pytest
from pyspark.sql import functions as F

from giraph_spark import Graph, PregelMetrics
from giraph_spark.algos.paths import bfs, sssp


@pytest.fixture(scope="module")
def sssp_toy(spark):
    vertices = spark.createDataFrame([(1,), (2,), (3,), (4,)], "id long")
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 3.0), (2, 3, 1.0), (2, 4, 10.0), (3, 4, 2.0)],
        "src long, dst long, weight double",
    )
    return Graph(vertices, edges)


def test_sssp_golden(sssp_toy):
    metrics = PregelMetrics()
    out = sssp(sssp_toy, source=1, metrics=metrics)
    got = {r["id"]: r["distance"] for r in out.collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 2.0, 4: 4.0}
    # terminates on its own well before the cap
    assert metrics.num_supersteps < 10


def test_sssp_unreachable(spark):
    vertices = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    edges = spark.createDataFrame([(1, 2, 5.0)], "src long, dst long, weight double")
    out = sssp(Graph(vertices, edges), source=1)
    got = {r["id"]: r["distance"] for r in out.collect()}
    assert got[1] == 0.0 and got[2] == 5.0
    assert math.isinf(got[9])


def test_sssp_unit_weights(sssp_toy):
    out = sssp(sssp_toy, source=1, weight_col=None)
    got = {r["id"]: r["distance"] for r in out.collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 1.0, 4: 2.0}


def test_bfs_golden(sssp_toy):
    out = bfs(sssp_toy, source=2)
    got = {r["id"]: r["level"] for r in out.collect()}
    assert got == {1: -1, 2: 0, 3: 1, 4: 1}


@pytest.mark.slow
def test_adaptive_gear_down_on_frontier_collapse(spark, monkeypatch):
    """The kernel shrinks its shuffle width once the frontier declines
    (lollipop graph: dense head floods early supersteps, then a long tail
    path sends one message per superstep), and the result keeps the exact
    BFS levels. ROWS_PER_PARTITION is patched down so a small graph
    exercises the gear logic (the kernel's gear is plans.gear.LoopGear)."""
    import giraph_spark.plans.gear as G

    monkeypatch.setattr(G, "ROWS_PER_PARTITION", 20)

    head = [(i, j, 1.0) for i in range(10) for j in range(10) if i != j]
    tail = [(9, 100, 1.0)] + [(100 + i, 101 + i, 1.0) for i in range(15)]
    vertices = spark.createDataFrame(
        [(i,) for i in range(10)] + [(100 + i,) for i in range(17)], "id long"
    )
    edges = spark.createDataFrame(head + tail, "src long, dst long, weight double")
    g = Graph(vertices, edges)

    metrics = PregelMetrics()
    out = bfs(g, source=0, metrics=metrics, num_partitions=8)
    got = {r["id"]: r["level"] for r in out.collect()}
    # head levels: source 0, rest of clique 1; tail path climbs from 9
    # to 115; vertex 116 has no edge and stays unreached
    want = {0: 0, **{i: 1 for i in range(1, 10)}, 116: -1}
    want.update({100 + i: 2 + i for i in range(16)})
    assert got == want

    gears = [s["partitions"] for s in metrics.supersteps]
    assert gears[0] == 8
    assert gears[-1] < 8, f"gear never shrank: {gears}"
    # monotone non-increasing after the decline sets in (no thrash)
    peak = gears.index(min(gears))
    assert all(a >= b for a, b in zip(gears[:peak], gears[1:peak]))


def test_degrees(sssp_toy):
    outd = {r["id"]: r["out_degree"] for r in sssp_toy.out_degrees().collect()}
    ind = {r["id"]: r["in_degree"] for r in sssp_toy.in_degrees().collect()}
    assert outd == {1: 2, 2: 2, 3: 1, 4: 0}
    assert ind == {1: 0, 2: 1, 3: 2, 4: 2}


def test_harmonic_centrality_pivots(spark):
    """One multi-source BFS run with array state: H(v) = sum of 1/d(p,v)
    over reachable pivots, pivot-at-itself excluded, unreachable = 0."""
    from giraph_spark import Graph
    from giraph_spark.algos.paths import harmonic_centrality

    vertices = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "src long, dst long"
    )
    out = {
        r["id"]: r["harmonic"]
        for r in harmonic_centrality(Graph(vertices, edges), [1, 2]).collect()
    }
    # d(1,.): 2:1 3:1 4:2 ; d(2,.): 3:1 4:2, 1 unreachable
    assert out == {1: 0.0, 2: 1.0, 3: 2.0, 4: 1.0}


def test_betweenness_matches_bruteforce_brandes(spark):
    """Pivot betweenness vs an independent pure-Python Brandes on a random
    connected graph — validates BFS σ-counting, the level-gated backward
    sweep, and pivot-endpoint exclusion in one shot."""
    import collections
    import random
    from collections import deque

    from giraph_spark.algos.paths import betweenness_centrality
    from giraph_spark.graph import Graph

    random.seed(5)
    n = 30
    und = set()
    for i in range(1, n):
        und.add((random.randrange(i), i))  # random tree => connected
    for _ in range(20):
        a, b = random.sample(range(n), 2)
        und.add((min(a, b), max(a, b)))
    pivots = [0, 3, 7, 11]

    adj = collections.defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    expected = collections.Counter()
    for s in pivots:
        dist = {s: 0}
        sigma = collections.Counter({s: 1})
        order = [s]
        qd = deque([s])
        while qd:
            v = qd.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    qd.append(w)
                    order.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = collections.Counter()
        for w in reversed(order):
            for v in adj[w]:
                if dist.get(v, -2) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                expected[w] += delta[w]

    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {
        r.id: r.betweenness
        for r in betweenness_centrality(Graph(verts, edges), pivots=pivots).collect()
    }
    for v in range(n):
        assert abs(got[v] - expected[v]) < 1e-6, (v, got[v], expected[v])


def test_closeness_path_graph(spark):
    """Path 0-1-2 with all vertices as pivots: closeness(1) = 2/(1+1)=1,
    closeness(0) = 2/(1+2)."""
    from giraph_spark.algos.paths import closeness_centrality
    from giraph_spark.graph import Graph

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], "src long, dst long"
    )
    verts = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    got = {
        r.id: r.closeness
        for r in closeness_centrality(Graph(verts, edges), pivots=[0, 1, 2]).collect()
    }
    assert got == {0: round(2 / 3, 6), 1: 1.0, 2: round(2 / 3, 6)}


def test_closeness_unreachable_is_zero(spark):
    from giraph_spark.algos.paths import closeness_centrality
    from giraph_spark.graph import Graph

    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    verts = spark.createDataFrame([(0,), (1,), (9,)], "id long")
    got = {
        r.id: r.closeness
        for r in closeness_centrality(Graph(verts, edges), pivots=[0]).collect()
    }
    assert got[9] == 0.0 and got[1] == 1.0 and got[0] == 0.0  # pivot self excluded


def test_k_truss_k4_with_pendant_triangle(spark):
    """4-truss of K4 ∪ pendant triangle = exactly K4's 6 edges with
    support 2 (the pendant triangle's edges have support 1 and peel);
    k=3 keeps both cliques; k=2 degenerates to the whole edge set."""
    from giraph_spark.algos.triangles import k_truss
    from giraph_spark.graph import Graph

    K4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    pend = [(3, 4), (3, 5), (4, 5)]
    e = spark.createDataFrame(K4 + pend, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(6)], "id long")
    g = Graph(v, e)
    got = sorted((r.src, r.dst, r.support) for r in k_truss(g, k=4).collect())
    assert got == [(0, 1, 2), (0, 2, 2), (0, 3, 2), (1, 2, 2), (1, 3, 2), (2, 3, 2)]
    assert k_truss(g, k=3).count() == 9
    assert k_truss(g, k=2).count() == 9  # support-0 edges survive when k<=2
    assert k_truss(g, k=5).count() == 0


def test_k_truss_cascade(spark):
    """Chain of triangles sharing single edges: each edge has support 1,
    so k=4 cascades the whole chain away round by round."""
    from giraph_spark.algos.triangles import k_truss
    from giraph_spark.graph import Graph

    tris = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4), (4, 5), (5, 6), (4, 6)]
    e = spark.createDataFrame(tris, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(7)], "id long")
    assert k_truss(Graph(v, e), k=4).count() == 0


def test_betweenness_unreachable_pivot_contributes_zero(spark):
    """A pivot in a separate component adds nothing; betweenness on the
    reachable component is unchanged by its presence."""
    from giraph_spark.algos.paths import betweenness_centrality
    from giraph_spark.graph import Graph

    path = [(0, 1), (1, 2)]
    e = spark.createDataFrame(
        [(a, b) for a, b in path] + [(b, a) for a, b in path] + [(8, 9), (9, 8)],
        "src long, dst long",
    )
    v = spark.createDataFrame([(i,) for i in (0, 1, 2, 8, 9)], "id long")
    got = {
        r.id: r.betweenness
        for r in betweenness_centrality(
            Graph(v, e), pivots=[0, 8]
        ).collect()
    }
    # from pivot 0: delta(1) = 1 (pair 0->2); pivot 8's walk never crosses
    assert got[1] == 1.0 and got[0] == 0.0 and got[2] == 0.0
    assert got[9] == 0.0  # 9 is pivot-8's only target, endpoint excluded


def test_jaccard_link_prediction_golden(spark):
    """Star 1-{0,2,3} plus edge 2-4: leaves of the star are pairwise
    perfect matches (J=1) except 2, whose extra neighbor 4 dilutes it:
    J(0,2) = |{1}| / |{1} ∪ {1,4}| = 0.5 — so 3 outranks 2 for vertex 0,
    and ties (J and count equal) break toward the lower candidate id."""
    from giraph_spark.algos.triangles import jaccard_link_prediction
    from giraph_spark.graph import Graph

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (1, 3), (2, 4)], "src long, dst long"
    )
    v = spark.createDataFrame([(i,) for i in range(5)], "id long")
    got = {
        (r.id, r.candidate): (r.jaccard, r.rnk)
        for r in jaccard_link_prediction(Graph(v, e), k=5).collect()
    }
    assert got[(0, 3)] == (1.0, 1) and got[(0, 2)] == (0.5, 2)
    assert got[(3, 0)] == (1.0, 1)  # symmetric view, lower-id tie first
    assert (0, 1) not in got  # adjacent pairs excluded


def test_betweenness_raises_on_truncated_bfs(spark):
    """max_supersteps below the pivot eccentricity must fail loudly, not
    return silently underestimated scores (review finding)."""
    import pytest

    from giraph_spark.algos.paths import betweenness_centrality
    from giraph_spark.graph import Graph

    path = [(i, i + 1) for i in range(6)]
    e = spark.createDataFrame(
        [(a, b) for a, b in path] + [(b, a) for a, b in path], "src long, dst long"
    )
    v = spark.createDataFrame([(i,) for i in range(7)], "id long")
    with pytest.raises(RuntimeError, match="max_supersteps"):
        betweenness_centrality(Graph(v, e), pivots=[0], max_supersteps=3)


def test_sssp_with_paths_tree(spark, sssp_toy):
    """Golden tree on the reference's SSSP fixture + walk-back check:
    following pred from any reached vertex descends to the source with
    strictly decreasing distance."""
    from giraph_spark.algos.paths import sssp_with_paths

    rows = {r.id: r for r in sssp_with_paths(sssp_toy, source=1).collect()}
    assert {i: rows[i].pred for i in (1, 2, 3, 4)} == {1: None, 2: 1, 3: 2, 4: 3}
    for start in (2, 3, 4):
        v, hops = start, 0
        while rows[v].pred is not None:
            nxt = rows[v].pred
            assert rows[nxt].distance < rows[v].distance
            v, hops = nxt, hops + 1
            assert hops < 10
        assert v == 1
