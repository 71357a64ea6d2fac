"""Bracha-Toueg deadlock detection — golden fixtures from the reference
`BrachaTouegDeadlockComputationTest.java:60-230` (graphs as `[id,[[dst,tag]..]]`,
expected `id<TAB>isFree=...` lines)."""

import pytest

from giraph_spark import Graph
from giraph_spark.algos.deadlock import bracha_toueg


def _run(spark, vertex_ids, edges, initiator):
    vdf = spark.createDataFrame([(i,) for i in vertex_ids], "id long")
    edf = spark.createDataFrame(
        edges or [(0, 0, 0)], "src long, dst long, tag long"
    )
    if not edges:
        edf = edf.limit(0)
    out = bracha_toueg(Graph(vdf, edf), initiator=initiator)
    return {r["id"]: r["is_free"] for r in out.collect()}


def test_one_init_node(spark):
    assert _run(spark, [1], [], 1) == {1: True}


def test_one_not_init_node(spark):
    assert _run(spark, [0], [], 1) == {0: False}


def test_three_nodes_all_free(spark):
    # 2 and 3 wait on free vertex 1, but NOTIFY never reaches them
    got = _run(spark, [1, 2, 3], [(2, 1, 0), (3, 1, 0)], 1)
    assert got == {1: True, 2: False, 3: False}


def test_three_nodes_cycle_blocked(spark):
    got = _run(spark, [1, 2, 3], [(1, 2, 0), (2, 3, 0), (3, 1, 0)], 1)
    assert got == {1: False, 2: False, 3: False}


def test_three_nodes_free_multi_tags(spark):
    got = _run(spark, [1, 2, 3], [(1, 2, 0), (1, 3, 1)], 1)
    assert got == {1: True, 2: True, 3: True}


def test_three_nodes_free_n_out_of_m(spark):
    got = _run(spark, [1, 2, 3], [(1, 2, 0), (1, 3, 0)], 1)
    assert got == {1: True, 2: True, 3: True}


def test_three_nodes_init_2_free_n_out_of_m(spark):
    got = _run(spark, [1, 2, 3], [(1, 2, 0), (1, 3, 0)], 2)
    assert got == {1: False, 2: True, 3: False}


def test_three_nodes_blocked_n_out_of_m(spark):
    got = _run(spark, [1, 2, 3], [(1, 2, 0), (1, 3, 0), (2, 3, 0), (3, 2, 0)], 1)
    assert got == {1: False, 2: False, 3: False}


def test_five_nodes_all_free(spark):
    edges = [
        (1, 2, 0), (1, 5, 0),
        (2, 4, 0),
        (3, 2, 0), (3, 5, 0),
        (4, 1, 0), (4, 5, 1), (4, 3, 2),
    ]
    got = _run(spark, [1, 2, 3, 4, 5], edges, 1)
    assert got == {1: True, 2: True, 3: True, 4: True, 5: True}


def test_five_nodes_blocked(spark):
    edges = [
        (1, 2, 0), (1, 5, 0),
        (2, 4, 0),
        (3, 2, 0), (3, 5, 0),
        (4, 1, 0), (4, 5, 1), (4, 3, 1),
    ]
    got = _run(spark, [1, 2, 3, 4, 5], edges, 1)
    assert got == {1: False, 2: False, 3: False, 4: False, 5: True}


def test_leaves_no_cached_frame(spark):
    """Every frame bracha_toueg persists (edges, request groups, the
    NOTIFY set) is released before it returns."""
    spark.catalog.clearCache()
    vdf = spark.createDataFrame([(i,) for i in (1, 2, 3)], "id long")
    edf = spark.createDataFrame(
        [(1, 2, 0), (1, 3, 1)], "src long, dst long, tag long"
    )
    out = bracha_toueg(Graph(vdf, edf), initiator=1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert {r["id"]: r["is_free"] for r in out.collect()} == {
        1: True, 2: True, 3: True
    }
