"""An independent reference for the PageRank family: networkx's own
definitions, on a seeded directed multigraph with a hub, a sink, a
self-loop and parallel edges, built once from Python rows and once read
back from parquet.

PageRank, the random walk with restart and each walk of the batch are
``iterations`` steps of a power iteration, so they are compared, to
1e-12, with as many steps of networkx's ``google_matrix`` (its PageRank
operator, parallel edges summed) from the same start: the uniform
vector, or the walk's source. Eigenvector centrality and HITS are
compared with networkx's converged vectors, max-normalized, to 1e-5:
after ``CONVERGED`` rounds the power method is within 3e-6 of them on
this graph. networkx's public ``pagerank``, ``hits`` and
``eigenvector_centrality_numpy`` call scipy, which is not a dependency
of this project, so the converged HITS vectors come from its NumPy form
``_hits_numpy`` (the principal eigenvectors of ``AAᵀ`` and ``AᵀA``) and
the eigenvector from ``eigenvector_centrality`` (power iteration on
``Aᵀ`` to 1e-13)."""

import numpy as np
import pytest

from giraph_spark import Graph
from giraph_spark.algos.pagerank import (
    eigenvector_centrality,
    hits,
    pagerank,
    personalized_pagerank_batch,
    random_walk_with_restart,
)

nx = pytest.importorskip("networkx")
from networkx.algorithms.link_analysis import hits_alg  # noqa: E402

N = 10
HUB, SINK = 0, 9
STEPS = 6
CONVERGED = 10


def _edges(seed: int = 29) -> list[tuple[int, int, float]]:
    """40 seeded random edges among 0..8, then the hub's in-edges, the
    sink's in-edges (it has no out-edge), a self-loop and a parallel
    pair."""
    rng = np.random.default_rng(seed)
    pairs = [tuple(int(x) for x in rng.integers(0, N - 1, size=2)) for _ in range(40)]
    pairs += [(i, HUB) for i in range(1, 7)]
    pairs += [(3, SINK), (5, SINK), (4, 4), (2, 7), (2, 7)]
    weights = rng.uniform(0.5, 2.0, size=len(pairs)).round(3)
    return [(a, b, float(w)) for (a, b), w in zip(pairs, weights)]


EDGES = _edges()


@pytest.fixture(scope="module")
def nxg():
    """The same graph with parallel edges merged: ``weight`` counts them,
    ``w`` sums their weights."""
    g = nx.DiGraph()
    g.add_nodes_from(range(N))
    for a, b, w in EDGES:
        if g.has_edge(a, b):
            g[a][b]["weight"] += 1
            g[a][b]["w"] += w
        else:
            g.add_edge(a, b, weight=1, w=w)
    return g


@pytest.fixture(scope="module", params=["rows", "parquet"])
def graph(request, spark, tmp_path_factory):
    vertices = spark.createDataFrame([(i,) for i in range(N)], "id long")
    edges = spark.createDataFrame(EDGES, "src long, dst long, weight double")
    if request.param == "parquet":
        root = tmp_path_factory.mktemp("reference")
        vertices.write.parquet(str(root / "vertices"))
        edges.write.parquet(str(root / "edges"))
        vertices = spark.read.parquet(str(root / "vertices"))
        edges = spark.read.parquet(str(root / "edges"))
    return Graph(vertices, edges)


def test_the_graph_has_the_shapes_under_test(nxg):
    assert nxg.in_degree(HUB) == max(d for _, d in nxg.in_degree())
    assert nxg.out_degree(SINK) == 0
    assert nxg.has_edge(4, 4)
    assert nxg[2][7]["weight"] >= 2


def _close(got: dict, want: dict, tol: float) -> None:
    assert set(got) == set(want)
    worst = max(abs(got[v] - want[v]) for v in want)
    assert worst < tol, (worst, got, want)


def _max_normalized(d: dict) -> dict:
    top = max(d.values())
    return {v: x / top for v, x in d.items()}


def _steps(nxg, start: dict, **google) -> dict:
    """``STEPS`` steps of networkx's PageRank operator from ``start``."""
    m = nx.google_matrix(nxg, alpha=0.85, nodelist=range(N), **google)
    x = np.array([start.get(v, 0.0) for v in range(N)])
    for _ in range(STEPS):
        x = x @ m
    return dict(enumerate(x.tolist()))


@pytest.mark.parametrize("weighted", [False, True], ids=["unweighted", "weighted"])
def test_pagerank_matches_networkx(graph, nxg, weighted):
    got = {
        r["id"]: r["rank"]
        for r in pagerank(
            graph, iterations=STEPS, dangling=True, weighted=weighted
        ).collect()
    }
    uniform = dict.fromkeys(range(N), 1.0 / N)
    want = _steps(nxg, uniform, weight="w" if weighted else "weight")
    _close(got, want, 1e-12)


def test_personalized_walks_match_networkx(graph, nxg):
    """A walk restarts at its source, and its dangling mass (the sink's)
    returns there too: networkx's personalization and dangling vectors
    both on the source."""

    def reference(s):
        return _steps(nxg, {s: 1.0}, personalization={s: 1}, dangling={s: 1})

    rwr = {
        r["id"]: r["rank"]
        for r in random_walk_with_restart(graph, [3], iterations=STEPS).collect()
    }
    _close(rwr, reference(3), 1e-12)
    batch = personalized_pagerank_batch(graph, [3, SINK], iterations=STEPS).collect()
    for s in (3, SINK):
        got = {r["id"]: r["rank"] for r in batch if r["source"] == s}
        _close(got, reference(s), 1e-12)


def test_eigenvector_centrality_and_hits_match_networkx(graph, nxg):
    got = {
        r["id"]: r["eigenvector"]
        for r in eigenvector_centrality(
            graph, iterations=CONVERGED, round_digits=None
        ).collect()
    }
    want = nx.eigenvector_centrality(nxg, max_iter=1000, tol=1e-13, weight="weight")
    _close(got, _max_normalized(want), 1e-5)

    rows = hits(graph, iterations=CONVERGED, round_digits=None).collect()
    hubs, authorities = hits_alg._hits_numpy(nxg)
    _close({r["id"]: r["hub"] for r in rows}, _max_normalized(hubs), 1e-5)
    _close(
        {r["id"]: r["authority"] for r in rows}, _max_normalized(authorities), 1e-5
    )
