"""Triangle counting and triangle-closing recommendation.

Reference semantics:
- Count: ``giraph-block-app-8/.../library/triangles/UndirectedTriangleCountingBlockFactory.java:53,81-95``
  — symmetrize + dedup, then count closing wedges over ordered ids (each
  triangle counted once via ``src < mid < dst``).
- Closing (friends-of-friends top-k):
  ``giraph-examples/.../examples/SimpleTriangleClosingComputation.java:67-75``
  — for each vertex, rank non-neighbor 2-hop pairs by the number of common
  neighbors.

Spark realization: pure joins — Giraph needs two message supersteps
(forward neighbor lists, then probe); relationally it is the classic
oriented wedge join. Scale notes: orienting edges low-id→high-id before the
wedge join keys the self-join on the *lower-degree* endpoint distribution
(standard power-law mitigation) and halves the join input; the second join
(wedge → closing edge probe) is a semi-join on the edge set, which AQE can
convert to broadcast when the deduped edge list is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import fresh_checkpoint, fresh_checkpoint_count
from ..plans.gear import LoopGear
from .prepare import symmetrize


def _oriented(graph: Graph) -> DataFrame:
    """Canonical undirected edges with src < dst, deduped."""
    src, dst = graph.src_col, graph.dst_col
    sym = symmetrize(graph, dedup=True).edges.select(src, dst)
    return sym.where(F.col(src) < F.col(dst))


def triangle_count(graph: Graph) -> DataFrame:
    """Global triangle count; returns a single row ``(triangles BIGINT)``."""
    src, dst = graph.src_col, graph.dst_col
    # materialize once: the oriented relation feeds all three join roles
    # with DIFFERENT exchange keys, so without this the upstream edge
    # derivation (symmetrize+dedup, or a whole fixture build) runs 3x
    e = _oriented(graph).localCheckpoint(eager=True)
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    wedges = e1.join(e2, F.col(f"e1.{dst}") == F.col(f"e2.{src}"))
    tris = wedges.join(
        e3,
        (F.col(f"e1.{src}") == F.col(f"e3.{src}"))
        & (F.col(f"e2.{dst}") == F.col(f"e3.{dst}")),
        "left_semi",
    )
    return tris.agg(F.count(F.lit(1)).cast("long").alias("triangles"))


def triangles_per_vertex(graph: Graph) -> DataFrame:
    """Per-vertex triangle participation count ``(id, triangles)``."""
    src, dst = graph.src_col, graph.dst_col
    id_col = graph.id_col
    e = _oriented(graph).localCheckpoint(eager=True)  # 3 join roles, see triangle_count
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tris = (
        e1.join(e2, F.col(f"e1.{dst}") == F.col(f"e2.{src}"))
        .join(
            e3,
            (F.col(f"e1.{src}") == F.col(f"e3.{src}"))
            & (F.col(f"e2.{dst}") == F.col(f"e3.{dst}")),
        )
        .select(
            F.col(f"e1.{src}").alias("a"),
            F.col(f"e1.{dst}").alias("b"),
            F.col(f"e2.{dst}").alias("c"),
        )
    )
    corners = (
        tris.select(F.col("a").alias(id_col))
        .unionAll(tris.select(F.col("b").alias(id_col)))
        .unionAll(tris.select(F.col("c").alias(id_col)))
    )
    cnt = corners.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    return (
        graph.vertices.select(id_col)
        .join(cnt, id_col, "left")
        .select(id_col, F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"))
    )


def _common_neighbor_pairs(
    graph: Graph, max_degree: int | None
):
    """Shared candidate machinery of :func:`triangle_closing_topk` and
    :func:`jaccard_link_prediction`: the symmetrized deduped relation,
    its degree table, and the non-adjacent 2-hop pair relation with
    common-neighbor counts (hub guard applied to wedge midpoints).
    Returns ``(sym, deg, pairs)``."""
    src, dst = graph.src_col, graph.dst_col
    id_col = graph.id_col
    # referenced by the degree table, both wedge sides, and the adjacency
    # anti-join (up to 5 scans of the derivation) - materialize once
    sym = symmetrize(graph, dedup=True).edges.select(src, dst).localCheckpoint(
        eager=True
    )
    deg = sym.groupBy(F.col(src).alias("_v")).agg(
        F.count(F.lit(1)).cast("long").alias("_deg")
    )
    hop2 = sym
    if max_degree is not None:
        hubs = deg.where(F.col("_deg") > max_degree).select(
            F.col("_v").alias("_hub")
        )
        # exclude hub *midpoints* only: filter the second-hop side on its
        # source (== the wedge midpoint). Endpoints and candidates may
        # still be hubs; the adjacency anti-join stays on the full sym.
        hop2 = sym.join(hubs, F.col(src) == F.col("_hub"), "left_anti")
    a = sym.alias("a")
    b = hop2.alias("b")
    pairs = (
        a.join(b, F.col(f"a.{dst}") == F.col(f"b.{src}"))
        .where(F.col(f"a.{src}") != F.col(f"b.{dst}"))
        .groupBy(
            F.col(f"a.{src}").alias(id_col), F.col(f"b.{dst}").alias("candidate")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    adj = sym.select(F.col(src).alias(id_col), F.col(dst).alias("candidate"))
    pairs = pairs.join(adj, [id_col, "candidate"], "left_anti")
    return sym, deg, pairs


def triangle_closing_topk(
    graph: Graph, k: int = 10, max_degree: int | None = None
) -> DataFrame:
    """For each vertex, the top-k non-adjacent vertices ranked by common
    neighbor count (``SimpleTriangleClosingComputation``); returns
    ``(id, candidate, common_neighbors, rnk)``. Ties broken by candidate id
    for determinism (the reference's ``IntArrayListWritable`` comparator
    sorts on score only — id tiebreak is our determinism addition).

    ``max_degree``: optional hub guard for power-law graphs. The wedge
    self-join materializes ``sum(deg(v)^2)`` pair rows, so one 10^6-degree
    hub alone contributes 10^12 pairs — the super-node hazard at 100×
    scale. With ``max_degree=d`` set, vertices whose (undirected) degree
    exceeds ``d`` do not act as the wedge *midpoint*, bounding the pair
    relation by ``|V|·d^2`` at the cost of missing recommendations whose
    only common neighbors are hubs. This is explicit top-k approximation —
    the same memory-bounding role the reference's per-vertex
    ``IntArrayListWritable`` top-k buffer plays
    (``examples/SimpleTriangleClosingComputation.java:67-75``), surfaced
    as a declared parameter instead of an implicit buffer cap."""
    from pyspark.sql import Window

    id_col = graph.id_col
    _sym, _deg, pairs = _common_neighbor_pairs(graph, max_degree)
    w = Window.partitionBy(id_col).orderBy(
        F.desc("common_neighbors"), F.asc("candidate")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def k_truss(
    graph: Graph,
    k: int = 4,
    max_rounds: int = 30,
) -> DataFrame:
    """The k-truss (Cohen 2008): the maximal subgraph in which every
    edge is supported by ≥ k−2 triangles (support recomputed within the
    surviving subgraph) — the edge-analog of :func:`~giraph_spark.algos.components.k_core`
    peeling, and a much stronger cohesion filter (each k-truss edge lies
    in a (k−1)-core, not vice versa). Returns the surviving canonical
    undirected edges ``(src, dst, support)`` with their fixpoint support.

    Driver loop per round: one oriented wedge self-join enumerates each
    triangle once (``a<b<c``, the same low→high orientation as
    :func:`triangle_count` — the power-law mitigation), a 3-role union +
    hash groupBy computes per-edge support (partial-aggregated), and a
    co-keyed semi-filter drops light edges. Rounds ≤ peeling depth; each
    round's survivor relation is localCheckpoint-truncated. Raises if
    ``max_rounds`` is exhausted before the fixpoint (an un-peeled exit
    would silently return a SUPERSET, as with k_core)."""
    src, dst = graph.src_col, graph.dst_col
    with LoopGear(graph.edges.sparkSession) as gear:
        # initial orient + count in one job; the per-round survivor
        # count likewise rides each checkpoint materialization
        e, n_prev, _ = fresh_checkpoint_count(_oriented(graph))
        for _ in range(max_rounds):
            gear.round(n_prev)
            e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
            tri = (
                e1.join(e2, F.col(f"e1.{dst}") == F.col(f"e2.{src}"))
                .join(
                    e3,
                    (F.col(f"e1.{src}") == F.col(f"e3.{src}"))
                    & (F.col(f"e2.{dst}") == F.col(f"e3.{dst}")),
                    "left_semi",
                )
                .select(
                    F.col(f"e1.{src}").alias("_a"),
                    F.col(f"e1.{dst}").alias("_b"),
                    F.col(f"e2.{dst}").alias("_c"),
                )
            )
            roles = (
                tri.select(F.col("_a").alias(src), F.col("_b").alias(dst))
                .unionAll(
                    tri.select(F.col("_b").alias(src), F.col("_c").alias(dst))
                )
                .unionAll(
                    tri.select(F.col("_a").alias(src), F.col("_c").alias(dst))
                )
            )
            supp = roles.groupBy(src, dst).agg(
                F.count(F.lit(1)).cast("long").alias("support")
            )
            # left join: an edge in no triangle has support 0 and must
            # still survive when k <= 2 (the k-truss degenerates to the
            # edge set). fresh_checkpoint: supp derives from e ⋈ e ⋈ e,
            # so the survivor relation joins e with its own cube — the
            # inherited size estimate would 4x per peeling round
            # (plans/checkpoint.py)
            survivors, n, _ = fresh_checkpoint_count(
                e.join(supp, [src, dst], "left")
                .where(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
                .select(src, dst)
            )
            e = survivors
            if n == n_prev:
                return e.join(supp, [src, dst], "left").select(
                    src,
                    dst,
                    F.coalesce("support", F.lit(0))
                    .cast("long")
                    .alias("support"),
                )
            n_prev = n
    raise RuntimeError(
        f"k_truss: peeling did not stabilize within max_rounds={max_rounds}"
    )


def jaccard_link_prediction(
    graph: Graph,
    k: int = 10,
    max_degree: int | None = None,
) -> DataFrame:
    """Jaccard-coefficient link prediction (Liben-Nowell & Kleinberg,
    CIKM 2003): for each vertex, the top-``k`` non-adjacent candidates
    ranked by ``|N(a) ∩ N(c)| / |N(a) ∪ N(c)|`` over the symmetrized,
    deduped graph — :func:`triangle_closing_topk`'s common-neighbor
    machinery normalized by the union size, so high-degree candidates
    stop dominating every recommendation list. Returns
    ``(id, candidate, common_neighbors, jaccard, rnk)``; ties by
    (higher common count, lower candidate id).

    Same scale shape and ``max_degree`` hub guard as the triangle-closing
    recommender (wedge self-join bounded by midpoint degree); the union
    size needs only the two endpoint degrees — one extra |V|-sized degree
    relation joined twice, no new pair-space."""
    from pyspark.sql import Window

    id_col = graph.id_col
    _sym, deg, pairs = _common_neighbor_pairs(graph, max_degree)
    pairs = (
        pairs.join(deg.select(F.col("_v").alias(id_col), F.col("_deg").alias("_da")), id_col)
        .join(
            deg.select(F.col("_v").alias("candidate"), F.col("_deg").alias("_dc")),
            "candidate",
        )
        .select(
            id_col,
            "candidate",
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("_da") + F.col("_dc") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("jaccard"), F.desc("common_neighbors"), F.asc("candidate")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def adamic_adar_link_prediction(
    graph: Graph,
    k: int = 10,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar, "Friends and
    neighbors on the Web", Social Networks 2003; evaluated for link
    prediction by Liben-Nowell & Kleinberg, CIKM 2003): candidates
    scored ``Σ_{m ∈ N(a) ∩ N(c)} 1 / ln(deg(m))`` — common neighbors
    weighted inversely by how promiscuous they are, so sharing a
    3-neighbor friend says more than sharing a 10⁶-degree hub. Returns
    the top-``k`` non-adjacent candidates per vertex:
    ``(id, candidate, common_neighbors, adamic_adar, rnk)``; ties by
    (more common neighbors, lower candidate id). A wedge midpoint has
    undirected degree ≥ 2, so ``ln(deg)`` never vanishes.

    Same scale shape and ``max_degree`` hub guard as
    :func:`triangle_closing_topk` (the wedge self-join is bounded by
    midpoint degree); the midpoint weight joins the |V|-sized degree
    relation into the wedge stream before the per-pair aggregation —
    no new pair space."""
    from pyspark.sql import Window

    src, dst = graph.src_col, graph.dst_col
    id_col = graph.id_col
    sym = symmetrize(graph, dedup=True).edges.select(src, dst).localCheckpoint(
        eager=True
    )
    deg = sym.groupBy(F.col(src).alias("_v")).agg(
        F.count(F.lit(1)).cast("long").alias("_deg")
    )
    hop2 = sym
    if max_degree is not None:
        hubs = deg.where(F.col("_deg") > max_degree).select(
            F.col("_v").alias("_hub")
        )
        hop2 = sym.join(hubs, F.col(src) == F.col("_hub"), "left_anti")
    a = sym.alias("a")
    b = hop2.alias("b")
    pairs = (
        a.join(b, F.col(f"a.{dst}") == F.col(f"b.{src}"))
        .where(F.col(f"a.{src}") != F.col(f"b.{dst}"))
        .join(
            deg.select(F.col("_v"), F.col("_deg").alias("_dm")),
            F.col(f"a.{dst}") == F.col("_v"),
        )
        .groupBy(
            F.col(f"a.{src}").alias(id_col),
            F.col(f"b.{dst}").alias("candidate"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.round(
                F.sum(F.lit(1.0) / F.log(F.col("_dm").cast("double"))), 6
            ).alias("adamic_adar"),
        )
    )
    adj = sym.select(F.col(src).alias(id_col), F.col(dst).alias("candidate"))
    pairs = pairs.join(adj, [id_col, "candidate"], "left_anti")
    w = Window.partitionBy(id_col).orderBy(
        F.desc("adamic_adar"), F.desc("common_neighbors"), F.asc("candidate")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )
