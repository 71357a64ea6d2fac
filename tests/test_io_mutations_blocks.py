"""Round-trip tests for the I/O surface (reference: io/Test*Format tests),
mutation-resolution ordering (TestMutateGraph / DefaultVertexResolver), and
block combinators."""

import pytest
from pyspark.sql import functions as F

from giraph_spark import Graph
from giraph_spark.blocks import (
    BlockContext,
    FilteringBlock,
    IfBlock,
    RepeatBlock,
    RepeatUntilBlock,
    SequenceBlock,
    for_all_vertices,
    master_compute,
    piece_count,
    reduce_and_broadcast,
)
from giraph_spark.mutations import apply_mutations
from giraph_spark.sources import (
    read_adjacency_list,
    read_edge_list,
    read_json_vertices,
    uniform_random_graph,
    watts_strogatz_graph,
    write_adjacency_list,
    write_edge_list,
    write_graphviz,
    write_id_with_value,
    write_json_vertices,
)


def test_edge_list_roundtrip(spark):
    lines = spark.createDataFrame(
        [("1\t2\t0.5",), ("2\t3\t1.5",)], "value string"
    )
    edges = read_edge_list(spark, lines, value_type="double")
    got = sorted((r.src, r.dst, r.weight) for r in edges.collect())
    assert got == [(1, 2, 0.5), (2, 3, 1.5)]
    rev = read_edge_list(spark, lines, value_type="double", reverse_duplicate=True)
    assert rev.count() == 4


def test_edge_list_normalize_at_read(spark):
    """normalize=True rescales each source's out-weights to sum 1 at
    input time (NormalizingLongDoubleDoubleTextInputFormat)."""
    lines = spark.createDataFrame(
        [("1\t2\t1.0",), ("1\t3\t3.0",), ("2\t3\t5.0",)], "value string"
    )
    edges = read_edge_list(spark, lines, value_type="double", normalize=True)
    got = {(r.src, r.dst): r.weight for r in edges.collect()}
    assert got == {(1, 2): 0.25, (1, 3): 0.75, (2, 3): 1.0}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_edge_list(spark, lines, normalize=True)


def test_adjacency_list_roundtrip(spark):
    lines = spark.createDataFrame(
        [("1\t0.0\t2\t1.0\t3\t3.0",), ("2\t0.0\t3\t1.0",), ("4\t7.5",)],
        "value string",
    )
    g = read_adjacency_list(spark, lines)
    assert {r.id: r.value for r in g.vertices.collect()} == {1: 0.0, 2: 0.0, 4: 7.5}
    got = sorted((r.src, r.dst, r.weight) for r in g.edges.collect())
    assert got == [(1, 2, 1.0), (1, 3, 3.0), (2, 3, 1.0)]
    # write side inverts it
    out = write_adjacency_list(g)
    texts = sorted(r.value for r in out.collect())
    assert any(t.startswith("1\t0.0\t2\t1.0\t3\t3.0") for t in texts)


def test_json_vertices_roundtrip(spark):
    # the reference's golden SSSP input graph, JSON format
    lines = spark.createDataFrame(
        [
            ("[1,0,[[2,1],[3,3]]]",),
            ("[2,0,[[3,1],[4,10]]]",),
            ("[3,0,[[4,2]]]",),
            ("[4,0,[]]",),
        ],
        "value string",
    )
    g = read_json_vertices(spark, lines)
    assert g.vertices.count() == 4
    got = sorted((r.src, r.dst, r.weight) for r in g.edges.collect())
    assert got == [(1, 2, 1.0), (1, 3, 3.0), (2, 3, 1.0), (2, 4, 10.0), (3, 4, 2.0)]
    back = write_json_vertices(g)
    assert back.count() == 4


def test_writers(spark):
    g = Graph(
        spark.createDataFrame([(1, 0.5), (2, 1.5)], "id long, value double"),
        spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double"),
    )
    idv = {r.value for r in write_id_with_value(g.vertices).collect()}
    assert idv == {"1\t0.5", "2\t1.5"}
    dot = [r.value for r in write_graphviz(g, weight_col="weight").collect()]
    assert dot[0].startswith("digraph") and dot[-1] == "}"
    assert any('"1" -> "2"' in l for l in dot)


def test_write_edge_list(spark, tmp_path):
    """``src dst [weight]`` lines (``SrcIdDstIdEdgeValueTextOutputFormat``):
    the named columns the relation has, in the given order and separator."""
    weighted = spark.createDataFrame(
        [(1, 2, 1.5), (2, 3, 0.5)], "src long, dst long, weight double"
    )

    def lines(df):
        return sorted(r.value for r in df.collect())

    assert lines(write_edge_list(weighted)) == ["1\t2\t1.5", "2\t3\t0.5"]
    # an unweighted relation yields src dst: absent columns are skipped
    plain = weighted.drop("weight")
    assert lines(write_edge_list(plain, sep=",")) == ["1,2", "2,3"]
    assert lines(write_edge_list(weighted, cols=("dst", "src"), sep=" ")) == [
        "2 1",
        "3 2",
    ]
    out = str(tmp_path / "edges")
    assert write_edge_list(weighted, out, sep=";") is None
    assert lines(spark.read.text(out)) == ["1;2;1.5", "2;3;0.5"]


def test_generators(spark):
    g = uniform_random_graph(spark, 50, 3, seed=7)
    assert g.num_vertices() == 50 and g.num_edges() == 150
    assert g.edges.where("src = dst").count() == 0
    ws = watts_strogatz_graph(spark, 30, 2, beta=0.2, seed=7)
    assert ws.num_vertices() == 30 and ws.num_edges() == 60
    assert ws.edges.where("src = dst").count() == 0
    # determinism under same seed
    g2 = uniform_random_graph(spark, 50, 3, seed=7)
    assert g.edges.exceptAll(g2.edges).count() == 0


def test_mutation_resolution_order(spark):
    # remove edges → remove vertices → add vertices (incl. implicit) → add edges
    g = Graph(
        spark.createDataFrame([(1, 0.0), (2, 0.0), (3, 0.0)], "id long, value double"),
        spark.createDataFrame(
            [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)], "src long, dst long, weight double"
        ),
    )
    out = apply_mutations(
        g,
        remove_vertices=spark.createDataFrame([(3,)], "id long"),
        remove_edges=spark.createDataFrame([(1, 2)], "src long, dst long"),
        add_edges=spark.createDataFrame([(2, 9, 5.0)], "src long, dst long, weight double"),
        message_dsts=spark.createDataFrame([(7,)], "id long"),
        defaults={"value": 0.0},
    )
    vids = sorted(r.id for r in out.vertices.collect())
    assert vids == [1, 2, 7, 9]  # 3 removed; 7 (message), 9 (edge ref) created
    eids = sorted((r.src, r.dst) for r in out.edges.collect())
    assert eids == [(2, 9)]  # (1,2) removed; (2,3),(3,1) gone with vertex 3


def test_blocks(spark):
    g = Graph(
        spark.createDataFrame([(i, 0.0) for i in range(4)], "id long, value double"),
        spark.createDataFrame([(0, 1)], "src long, dst long"),
    )
    inc = for_all_vertices(lambda v: v.withColumn("value", F.col("value") + 1))
    blk = SequenceBlock(RepeatBlock(3, inc), inc)
    out = blk.run(g)
    assert {r.value for r in out.collect()} == {4.0}

    # RepeatUntil: stop when reduced max value >= 2
    blk2 = RepeatUntilBlock(
        SequenceBlock(inc, reduce_and_broadcast("mx", F.max("value"))),
        until=lambda ctx: ctx.values.get("mx", 0) >= 2,
        max_repeats=10,
    )
    out2 = blk2.run(g)
    assert {r.value for r in out2.collect()} == {2.0}

    # Filtering: only even ids increment
    blk3 = FilteringBlock(F.col("id") % 2 == 0, inc)
    out3 = blk3.run(g)
    got = {r.id: r.value for r in out3.collect()}
    assert got == {0: 1.0, 1: 0.0, 2: 1.0, 3: 0.0}

    # If: condition on ctx
    ctx = BlockContext(values={"go": True})
    blk4 = IfBlock(lambda c: c.values["go"], inc)
    out4 = blk4.run(g, ctx)
    assert {r.value for r in out4.collect()} == {1.0}

    assert piece_count(RepeatBlock(3, inc)) == 3

    # master_compute: a driver-only step between vertex pieces — it
    # reads the reduced value and halts the run; the vertices pass through
    def stop_at_one(c):
        if c.values["mx"] >= 1:
            c.halt()

    blk5 = SequenceBlock(
        inc,
        reduce_and_broadcast("mx", F.max("value")),
        master_compute(stop_at_one),
        inc,
    )
    out5 = blk5.run(g)
    assert {r.value for r in out5.collect()} == {1.0}


def test_striped_block_partitions_work(spark):
    """StripingUtils.generateStripedBlock analog: striping a
    for-all-vertices pass over 4 stripes touches every vertex exactly
    once, and stripes are a true partition (non-trivial split)."""
    from giraph_spark.blocks import for_all_vertices, stripe_of, striped_block

    vertices = spark.createDataFrame(
        [(i, 0) for i in range(100)], "id long, cnt long"
    )
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    g = Graph(vertices, edges)

    inc = for_all_vertices(lambda v: v.withColumn("cnt", F.col("cnt") + 1))
    out = striped_block(4, lambda i: inc).run(g)
    rows = out.collect()
    assert len(rows) == 100
    assert all(r["cnt"] == 1 for r in rows)  # exactly one stripe each
    n_stripes = (
        vertices.select(stripe_of(F.col("id"), 4).alias("s"))
        .distinct()
        .count()
    )
    assert n_stripes == 4  # the split is non-trivial on this id range
