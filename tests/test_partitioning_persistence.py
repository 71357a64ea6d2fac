"""Partitioning strategies (SURVEY §4.1) and parquet graph round-trip."""

import pytest
from pyspark.sql import functions as F

from giraph_spark import Graph
from giraph_spark.algos.pagerank import pagerank
from giraph_spark.partitioning import (
    hash_partition,
    mapping_partition,
    range_partition,
    salt_heavy_keys,
)
from giraph_spark.sources import load_graph, save_graph


def _toy(spark):
    vertices = spark.createDataFrame([(i, float(i)) for i in range(8)], "id long, value double")
    edges = spark.createDataFrame(
        [(i, (i + 1) % 8, 1.0) for i in range(8)], "src long, dst long, weight double"
    )
    return Graph(vertices, edges)


def test_partitioners_preserve_content_and_results(spark):
    g = _toy(spark)
    mapping = spark.createDataFrame(
        [(i, i % 2) for i in range(8)], "id long, partition int"
    )
    for pg in (
        hash_partition(g, 4),
        range_partition(g, 4),
        mapping_partition(g, mapping, 2),
    ):
        assert sorted(r["id"] for r in pg.vertices.collect()) == list(range(8))
        assert pg.edges.count() == 8
        # algorithm results are invariant to physical partitioning
        r = {x["id"]: x["rank"] for x in pagerank(pg, iterations=3).collect()}
        assert sum(r.values()) == pytest.approx(1.0, abs=1e-9)


def test_salt_heavy_keys(spark):
    rows = [(1, i) for i in range(100)] + [(2, 0)]
    edges = spark.createDataFrame(rows, "dst long, src long")
    salted = salt_heavy_keys(edges, "dst", num_salts=4, threshold=50)
    got = salted.groupBy("dst").agg(F.countDistinct("_salt").alias("s")).collect()
    per = {r["dst"]: r["s"] for r in got}
    assert per[2] == 1  # light key: single salt
    assert per[1] > 1  # heavy key spread over salts
    # two-phase agg over (key, salt) then key reproduces exact counts
    two = (
        salted.groupBy("dst", "_salt").count()
        .groupBy("dst").agg(F.sum("count").alias("n"))
    )
    assert {(r["dst"], r["n"]) for r in two.collect()} == {(1, 100), (2, 1)}


def test_graph_parquet_roundtrip(spark, tmp_path):
    g = _toy(spark)
    save_graph(g, str(tmp_path / "g"))
    back = load_graph(spark, str(tmp_path / "g"))
    assert {tuple(r) for r in back.vertices.collect()} == {
        tuple(r) for r in g.vertices.collect()
    }
    assert {tuple(r) for r in back.edges.collect()} == {
        tuple(r) for r in g.edges.collect()
    }


def test_bucketed_graph_join_skips_exchange(spark, sf_dir, tmp_path):
    """A graph saved bucketed joins vertices-to-edges on the bucket key
    with NO exchange on either scan side — co-location from storage (the
    at-scale layout replacing the kernel's per-run repartition)."""
    from pyspark.sql import functions as F

    from giraph_spark.plans.fixtures import trade_graph
    from giraph_spark.sources import load_graph_bucketed, save_graph_bucketed
    from tests.plan_text import formatted_plan

    g = trade_graph(spark, sf_dir, directed=True)
    save_graph_bucketed(g, "tg_bucket_test", buckets=8)
    try:
        loaded = load_graph_bucketed(spark, "tg_bucket_test")
        joined = loaded.vertices.hint("shuffle_hash").join(
            loaded.edges, loaded.vertices["id"] == loaded.edges["src"]
        )
        plan = formatted_plan(joined)
        assert "Bucketed: true" in plan
        assert "Exchange" not in plan
        # round-trip fidelity
        assert loaded.vertices.count() == g.vertices.count()
        assert loaded.edges.count() == g.edges.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS tg_bucket_test_vertices")
        spark.sql("DROP TABLE IF EXISTS tg_bucket_test_edges")


def test_pregel_consumes_bucketed_layout_without_reshuffle(spark, sf_dir):
    """VERDICT r03 item 3: pregel() on a bucketed-loaded graph must adopt
    the storage width and skip its input repartition on BOTH relations —
    the durable analog of Giraph's input-superstep edge placement
    (worker/BspServiceWorker.java:611) — and produce results identical to
    the shuffled path."""
    from pyspark.sql import functions as F

    from giraph_spark import PregelMetrics
    from giraph_spark.algos.paths import bfs
    from giraph_spark.plans.fixtures import trade_graph
    from giraph_spark.sources import load_graph_bucketed, save_graph_bucketed

    g = trade_graph(spark, sf_dir)
    save_graph_bucketed(g, "tg_kernel_bucket", buckets=4)
    try:
        loaded = load_graph_bucketed(spark, "tg_kernel_bucket")
        assert loaded.edges_layout == ("src", 4)
        assert loaded.vertices_layout == ("id", 4)

        m = PregelMetrics()
        out = bfs(loaded, source=1, metrics=m)
        assert m.run_info.get("edges_from_storage_layout") is True
        assert m.run_info.get("vertices_from_storage_layout") is True
        # the run adopted the bucket count as its loop width
        assert m.supersteps[0]["partitions"] == 4

        got = {r["id"]: r["level"] for r in out.collect()}
        want = {r["id"]: r["level"] for r in bfs(g, source=1).collect()}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS tg_kernel_bucket_vertices")
        spark.sql("DROP TABLE IF EXISTS tg_kernel_bucket_edges")


def test_partition_quality_counts(spark):
    """partition_quality's counters must reconcile exactly with the
    graph: vertex/edge totals conserved, cut edges = edges whose
    endpoints bucket apart under the same hash, both hash modes."""
    from giraph_spark.partitioning import partition_quality

    g = _toy(spark)
    for portable in (False, True):
        rows = partition_quality(g, 4, portable=portable).collect()
        assert sum(r["n_vertices"] for r in rows) == 8
        assert sum(r["n_edges"] for r in rows) == 8
        assert all(0 <= r["partition"] < 4 for r in rows)
        assert all(0 <= r["n_cut_edges"] <= r["n_edges"] for r in rows)
    # degenerate single partition: nothing can be cut
    one = partition_quality(g, 1).collect()
    assert len(one) == 1 and one[0]["n_cut_edges"] == 0
