"""SCC golden test mirroring `SccComputationTestInMemory` (reference):
small digraph with two nontrivial SCCs + singletons."""

import pytest

from giraph_spark import Graph
from giraph_spark.algos.scc import scc


def test_scc_two_cycles_and_bridge(spark):
    # cycle A: 1→2→3→1 ; cycle B: 5→6→5 ; bridge 3→5 ; singleton source 9→1
    vertices = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 9)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (5, 6), (6, 5), (3, 5), (9, 1)],
        "src long, dst long",
    )
    out = scc(Graph(vertices, edges))
    got = {r["id"]: r["scc"] for r in out.collect()}
    assert got == {1: 3, 2: 3, 3: 3, 5: 6, 6: 6, 9: 9}


def test_scc_all_singletons_dag(spark):
    vertices = spark.createDataFrame([(i,) for i in (1, 2, 3)], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r["id"]: r["scc"] for r in scc(Graph(vertices, edges)).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_scc_superstep_cap_raises_and_releases_cache(spark):
    """A reversed path longer than max_supersteps cannot converge: the
    forward traversal must raise, and the edge frames scc persisted must
    not stay cached."""
    spark.catalog.clearCache()
    vertices = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(7)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="max_supersteps"):
        scc(Graph(vertices, edges), max_supersteps=3)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
