"""Minimum spanning forest — distributed Borůvka.

The classic Pregel-model algorithm (Chung & Condon's parallel Borůvka;
the GPS and Okapi Giraph libraries both shipped it as the MST example
for the vertex-centric model the reference implements): every round,
each component selects its minimum-weight outgoing edge under a total
order, the selected edges join the forest, and the touching components
merge. Components at least halve per round, so the loop is
O(log n) rounds on ANY graph — no diameter dependence (unlike label
propagation), which is what makes it the scale-safe spanning-tree
construction.

Determinism: edges are ranked by ``(weight, u, v)`` — a TOTAL order on
canonical edges — so the selected forest is unique even with duplicate
weights (the classic uniqueness argument for distinct weights applies
to any total order compatible with the weights). That is what lets a
SQL oracle replay the run bit-for-bit.

Scale shape per round: one triplet-style join of the live edge set
against the n-row label relation (the same shuffle the pregel kernel
does every superstep), one partial-aggregated ``min(struct(...))``
groupBy per component (map-side combinable — NO window over the edge
list), and pointer-jumping on the ≤ #components-row parent relation
(halves the chain depth per jump, so ≤ log₂ #components tiny
self-joins). The live edge set shrinks monotonically: intra-component
edges are dropped as soon as a relabel exposes them. Every in-loop
frame is truncated with :func:`fresh_checkpoint` — pointer doubling
joins a frame with ITSELF, the exact shape whose inherited size
estimate otherwise squares per iteration (see plans/checkpoint.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import (
    _rewrap,
    fresh_checkpoint,
    fresh_checkpoint_count,
)
from ..plans.gear import LoopGear, bcast_if_small


def save_msf_input(
    graph: Graph,
    table_prefix: str,
    weight_col: str = "weight",
    buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Canonicalize the MSF input ONCE and persist it bucketed — the
    storage layout a repeated-MSF deployment wants. Edges become the
    unique canonical relation ``(u < v, min weight)`` bucketed+sorted
    by ``u``; vertices are bucketed by ``id`` with the same width. A
    graph loaded back via :func:`load_msf_input` enters
    :func:`minimum_spanning_forest` with ``assume_canonical=True`` and
    pays ZERO input exchange in the first round: the canonicalize
    groupBy and the round-1 ``u``-side join shuffle both come from
    storage, paid once at write time (the same amortization
    ``save_graph_bucketed`` gives the pregel kernel —
    sources/writers.py:211)."""
    src, dst = graph.src_col, graph.dst_col
    canon = (
        graph.edges.where(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("v"),
            F.col(weight_col).cast("double").alias(weight_col),
        )
        .groupBy("u", "v")
        .agg(F.min(weight_col).alias(weight_col))
    )
    (
        canon.write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, "u")
        .sortBy("u")
        .saveAsTable(f"{table_prefix}_edges")
    )
    (
        graph.vertices.select(
            F.col(graph.id_col).cast("long").alias("id")
        )
        .write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, "id")
        .sortBy("id")
        .saveAsTable(f"{table_prefix}_vertices")
    )


def load_msf_input(spark: SparkSession, table_prefix: str) -> Graph:
    """Load a canonical-edge graph saved by :func:`save_msf_input`:
    ``Graph(vertices(id), edges(u, v, weight))`` with the bucket layout
    attached, ready for ``minimum_spanning_forest(g,
    assume_canonical=True)``."""
    from ..sources.readers import _bucket_spec

    v_spec = _bucket_spec(spark, f"{table_prefix}_vertices")
    e_spec = _bucket_spec(spark, f"{table_prefix}_edges")
    return Graph(
        spark.table(f"{table_prefix}_vertices"),
        spark.table(f"{table_prefix}_edges"),
        "id",
        "u",
        "v",
        vertices_layout=v_spec if v_spec and v_spec[0] == "id" else None,
        edges_layout=e_spec if e_spec and e_spec[0] == "u" else None,
    )


def minimum_spanning_forest(
    graph: Graph,
    weight_col: str = "weight",
    max_rounds: int = 40,
    stats: dict | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """Exact minimum spanning forest of the undirected graph induced by
    ``graph.edges``: edges are canonicalized to ``u = least(src, dst) <
    v = greatest(src, dst)`` keeping the MINIMUM weight among parallel
    edges (only the lightest parallel edge can ever be in an MSF), so
    any directed/asymmetric relation is accepted as-is. Returns the
    forest edge relation ``(u, v, weight)`` — one spanning tree per
    connected component, ``n_vertices − n_components`` rows, unique
    under the (weight, u, v) total order.

    ``assume_canonical=True`` declares the edge relation ALREADY
    canonical (``src < dst``, unique, lightest parallel edge kept —
    e.g. a table written by :func:`save_msf_input`): the canonicalize
    groupBy and the input checkpoint are skipped, so a bucketed scan's
    hash partitioning flows straight into round 1's ``u``-side join —
    zero input exchange on the edge relation (plan-asserted in
    tests/test_mst.py). The repeated-run storage layout. ``stats``, if
    given, records ``rounds`` and ``per_round`` rows."""
    src, dst = graph.src_col, graph.dst_col
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    with LoopGear(graph.edges.sparkSession, stats=stats) as gear:
        labels = graph.vertices.select(
            F.col(graph.id_col).cast("long").alias("vid"),
            F.col(graph.id_col).cast("long").alias("comp"),
        )
        if assume_canonical:
            # keep the relation LAZY over its (possibly bucketed) scan: a
            # checkpoint here would wrap it in a LogicalRDD with unknown
            # partitioning and forfeit the storage layout
            live = graph.edges.select(
                F.col(src).cast("long").alias("u"),
                F.col(dst).cast("long").alias("v"),
                F.col(weight_col).cast("double").alias("w"),
            )
            n_v = graph.vertices.count()
        else:
            live = fresh_checkpoint(
                graph.edges.where(F.col(src) != F.col(dst))
                .select(
                    u.cast("long").alias("u"),
                    v.cast("long").alias("v"),
                    F.col(weight_col).cast("double").alias("w"),
                )
                .groupBy("u", "v")
                .agg(F.min("w").alias("w"))
            )
            labels, n_v, _ = fresh_checkpoint_count(labels)
        gear.floor_rows = n_v  # the per-round O(V) label rewrite
        # per-round selected-edge frames, unioned ONCE at the end: each
        # frame derives from that round's EAGERLY checkpointed sel relation,
        # so the final union is a flat read of cached blocks — the per-round
        # forest checkpoint job (a growing O(forest) rewrite) disappears
        picked_frames: list[DataFrame] = []

        for _ in range(max_rounds):
            # the label relation has exactly n_v rows — broadcast-gated
            # (plans/gear.py), both endpoint joins go map-side on small/mid
            # graphs and the live edge relation never shuffles for them;
            # past the gate it falls back to the co-keyed shuffle join
            lu = bcast_if_small(
                labels.select(F.col("vid").alias("u"), F.col("comp").alias("cu")),
                n_v,
            )
            lv = bcast_if_small(
                labels.select(F.col("vid").alias("v"), F.col("comp").alias("cv")),
                n_v,
            )
            # convergence probe rides the checkpoint materialization — one
            # job per round, and the count doubles as the gear signal
            le, n_live, _ = fresh_checkpoint_count(
                live.join(lu, "u")
                .join(lv, "v")
                .where(F.col("cu") != F.col("cv"))
            )
            if n_live == 0:
                break
            gear.round(n_live)
            # every component ranks its outgoing edges by the (w, u, v)
            # total order; min(struct) is partial-aggregated (no window)
            both = le.select(
                F.col("cu").alias("comp"), F.col("cv").alias("oc"), "u", "v", "w"
            ).unionByName(
                le.select(
                    F.col("cv").alias("comp"),
                    F.col("cu").alias("oc"),
                    "u",
                    "v",
                    "w",
                )
            )
            # LAZY checkpoint (r13, guide §1.2): sel has no convergence
            # probe of its own — its blocks are materialized by the first
            # job that reads it (the mutual-pair self-join below / the
            # first pointer jump), saving one action per round. _rewrap
            # still resets the inherited stats so the sel ⨝ sel(other)
            # self-join plans against fresh leaf estimates.
            sel = _rewrap(
                both.groupBy("comp")
                .agg(F.min(F.struct("w", "u", "v", "oc")).alias("m"))
                .select("comp", "m.w", "m.u", "m.v", "m.oc")
                .localCheckpoint(eager=False)
            )
            picked_frames.append(sel.select("u", "v", "w").distinct())

            # component merge: parent(comp) = oc, except the smaller member
            # of each MUTUAL pair roots itself (each merge tree contains
            # exactly one mutual pair — its globally-lightest edge is
            # selected from both sides under the total order)
            # sel/other/parent are component-keyed (≤ n_v rows, shrinking
            # geometrically) — broadcast-gated like the label joins
            other = bcast_if_small(
                sel.select(
                    F.col("comp").alias("b_comp"), F.col("oc").alias("b_oc")
                ),
                n_v,
            )
            # lazy like sel: the first pointer jump's count job (which
            # ALWAYS runs) materializes parent together with sel — the
            # round's three standalone checkpoint actions collapse into
            # the jump-1 materialization. labels below stays EAGER: the
            # r12 fully-lazy variant (labels deferred too) measured 37%
            # slower, so the O(V) state rewrite keeps its own action.
            parent = _rewrap(
                sel.join(
                    other,
                    (F.col("oc") == F.col("b_comp"))
                    & (F.col("b_oc") == F.col("comp")),
                    "left",
                )
                .select(
                    F.col("comp"),
                    F.when(
                        F.col("b_comp").isNotNull()
                        & (F.col("comp") < F.col("oc")),
                        F.col("comp"),
                    )
                    .otherwise(F.col("oc"))
                    .alias("par"),
                )
                .localCheckpoint(eager=False)
            )
            # pointer jumping to the 2-cycle roots: depth halves per jump.
            # The "did any pointer move" probe is carried as a flag column
            # and counted inside the checkpoint job — no jumped ⨝ parent
            # comparison join, no second action per jump
            for _ in range(max_rounds):
                grand = bcast_if_small(
                    parent.select(
                        F.col("comp").alias("g_comp"), F.col("par").alias("g_par")
                    ),
                    n_v,
                )
                jumped, _, n_moved = fresh_checkpoint_count(
                    parent.join(
                        grand, parent["par"] == grand["g_comp"], "left"
                    ).select(
                        "comp",
                        F.coalesce("g_par", "par").alias("par"),
                        (
                            F.col("g_par").isNotNull()
                            & (F.col("g_par") != F.col("par"))
                        ).alias("_moved"),
                    ),
                    flag=F.col("_moved"),
                )
                parent = jumped.drop("_moved")
                if n_moved == 0:
                    break
            labels = fresh_checkpoint(
                labels.join(
                    bcast_if_small(
                        parent.select(F.col("comp"), F.col("par").alias("_new")),
                        n_v,
                    ),
                    "comp",
                    "left",
                ).select("vid", F.coalesce("_new", "comp").alias("comp"))
            )
            # intra-component edges (under the OLD labels) can never be
            # selected again — shrink the live set
            live = le.select("u", "v", "w")

        if not picked_frames:
            return live.select(
                F.col("u"), F.col("v"), F.col("w").alias(weight_col)
            ).limit(0)
        forest = reduce(DataFrame.unionByName, picked_frames)
        return forest.select("u", "v", F.col("w").alias(weight_col))
