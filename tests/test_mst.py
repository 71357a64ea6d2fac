"""Borůvka minimum spanning forest (algos/mst.py)."""

import pytest

from pyspark.sql import functions as F

from giraph_spark import Graph
from giraph_spark.algos.mst import minimum_spanning_forest


def _kruskal(vertex_ids, canonical_edges):
    """Reference MSF: Kruskal under the same (w, u, v) total order."""
    parent = {x: x for x in vertex_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    forest = set()
    for u, v, w in sorted(canonical_edges, key=lambda e: (e[2], e[0], e[1])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            forest.add((u, v, w))
    return forest


def test_msf_matches_kruskal_on_trade_graph(spark, sf_dir):
    import __spark_entry__ as E

    g = E.trade_graph(spark, sf_dir, directed=True)
    stats = {}
    got = {
        (r.u, r.v, round(r.weight, 2))
        for r in minimum_spanning_forest(g, stats=stats).collect()
    }
    ce = (
        g.edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").cast("long").alias("u"),
            F.greatest("src", "dst").cast("long").alias("v"),
            F.col("weight").cast("double").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .collect()
    )
    want = _kruskal(
        [r.id for r in g.vertices.collect()],
        [(r.u, r.v, round(r.w, 2)) for r in ce],
    )
    assert got == want
    # Borůvka is O(log n) rounds — the dense trade graph merges fast
    assert stats["rounds"] <= 5


def test_msf_parallel_edges_and_forest_shape(spark):
    """Parallel edges keep the lightest; a disconnected graph yields one
    tree per component (n - n_components edges)."""
    edges = spark.createDataFrame(
        [
            # component {1,2,3}: parallel 1-2 edges (keep w=1.0),
            # triangle closed by 2-3 and 1-3
            (1, 2, 5.0),
            (2, 1, 1.0),
            (2, 3, 2.0),
            (1, 3, 2.0),  # ties with 2-3 on w; (u,v) order breaks it
            # component {10, 11}
            (10, 11, 7.0),
            # isolated self-loop is ignored
            (20, 20, 1.0),
        ],
        "src long, dst long, weight double",
    )
    vertices = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20)], "id long"
    )
    out = sorted(
        (r.u, r.v, r.weight)
        for r in minimum_spanning_forest(Graph(vertices, edges)).collect()
    )
    # 6 vertices, 3 components -> 3 forest edges; 1-3 beats 2-3 on (w,u,v)
    assert out == [(1, 2, 1.0), (1, 3, 2.0), (10, 11, 7.0)]


def test_msf_empty_graph(spark):
    vertices = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([], "src long, dst long, weight double")
    assert minimum_spanning_forest(Graph(vertices, edges)).count() == 0


@pytest.mark.slow
def test_msf_bucketed_canonical_input_zero_input_exchange(spark, sf_dir):
    """VERDICT r6 task 7: a canonical-edge table written once by
    save_msf_input enters the MSF loop with ZERO input exchange — the
    canonicalize groupBy comes from storage, and round 1's u-side join
    reads the bucketing from both scans (plan-asserted, mirroring the
    kernel's bucketed-layout test) — while assume_canonical=True
    produces the exact forest of the from-scratch path."""
    from pyspark.sql import functions as F

    from giraph_spark.algos.mst import (
        load_msf_input,
        minimum_spanning_forest,
        save_msf_input,
    )
    from giraph_spark.plans.fixtures import trade_graph
    from tests.plan_text import formatted_plan

    g = trade_graph(spark, sf_dir, directed=True)
    save_msf_input(g, "msf_bucket_test", buckets=4)
    try:
        loaded = load_msf_input(spark, "msf_bucket_test")
        assert loaded.edges_layout == ("u", 4)
        assert loaded.vertices_layout == ("id", 4)

        # round-1 u-side join shape: both sides read their bucketing
        # from storage — no Exchange anywhere in the join plan
        live = loaded.edges.select(
            F.col("u").cast("long").alias("u"),
            F.col("v").cast("long").alias("v"),
            F.col("weight").cast("double").alias("w"),
        )
        lu = loaded.vertices.select(
            F.col("id").cast("long").alias("u"),
            F.col("id").cast("long").alias("cu"),
        )
        plan = formatted_plan(live.hint("shuffle_hash").join(lu, "u"))
        assert plan.count("Bucketed: true") == 2
        assert "Exchange" not in plan

        got = {
            (r["u"], r["v"]): r["weight"]
            for r in minimum_spanning_forest(
                loaded, assume_canonical=True
            ).collect()
        }
        want = {
            (r["u"], r["v"]): r["weight"]
            for r in minimum_spanning_forest(g).collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS msf_bucket_test_vertices")
        spark.sql("DROP TABLE IF EXISTS msf_bucket_test_edges")
