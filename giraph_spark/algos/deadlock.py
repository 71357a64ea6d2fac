"""Bracha-Toueg deadlock detection on a wait-for graph.

Reference: ``giraph-examples/.../examples/BrachaTouegDeadlockComputation.java:48``
(+ value semantics ``examples/utils/BrachaTouegDeadlockVertexValue.java:204-218``,
golden fixtures ``BrachaTouegDeadlockComputationTest.java:60-230``).

Semantics (N-out-of-M requests): each out-edge carries a ``tag``; edges with
the same tag form one request group. A vertex's request group is *satisfied*
when ALL of its targets have granted; the vertex is **free** as soon as ANY
one of its groups is satisfied (OR across tags, AND within a tag —
``BrachaTouegDeadlockVertexValue.hasPendingRequests`` returns false when any
tag's remaining-target list is empty).

The reference's message protocol (NOTIFY / GRANT / ACK / DONE,
``BrachaTouegDeadlockComputation.java:124-177``) is termination detection for
an asynchronous network; on Spark the barriers are free, so we compute the
equivalent least fixed point directly:

- ``notified`` = vertices reachable from the initiator along out-edges
  (the NOTIFY wave, ``notifyVertices`` :299-326);
- ``granting`` = LFP of:
  base: notified ∧ no out-edges ∧ not the initiator (a notified leaf calls
  ``grantVertices`` — :323-325; the *initiator* leaf only sets itself free
  and grants nobody — :321-322);
  step: any vertex (notified or not — GRANTs travel to all in-neighbors,
  ``grantVertices`` :341-348) with some tag group all of whose targets are
  granting (``handleGrantMessage`` :398-416);
- ``free`` = granting ∪ {initiator if it has no out-edges}.

Scale notes: each LFP round is one ``edges ⋈ granting`` shuffle join on
``dst`` plus a ``groupBy(src, tag)`` count — both partial-aggregated
map-side; rounds are bounded by the wait-for graph's depth. The granting
set is localCheckpointed per round to keep plans constant-size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.gear import LoopGear
from .paths import bfs


def bracha_toueg(
    graph: Graph,
    initiator,
    tag_col: str = "tag",
    max_rounds: int = 100,
) -> DataFrame:
    """Detect deadlock from ``initiator``'s viewpoint; returns
    ``(id, is_free)`` for every vertex (the reference dumps
    ``id<TAB>isFree=...`` for all vertices)."""
    id_col, src_col, dst_col = graph.id_col, graph.src_col, graph.dst_col
    with LoopGear(graph.vertices.sparkSession, window=False) as gear:
        edges = gear.persist(
            graph.edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                F.col(tag_col).alias("tag"),
            )
        )

        # NOTIFY wave = forward reachability from the initiator.
        notified = gear.persist(
            bfs(graph, source=initiator, max_supersteps=max_rounds)
            .where(F.col("level") >= 0)
            .select(F.col(id_col).alias("id"))
        )

        out_deg = edges.groupBy(F.col("src").alias("id")).count()
        # total targets per request group (multi-edges to the same target
        # are distinct requests, matching the reference's per-edge request
        # entries)
        groups = gear.persist(
            edges.groupBy("src", "tag").agg(F.count(F.lit(1)).alias("_need"))
        )

        granting = (
            notified.join(out_deg, on="id", how="left_anti")
            .where(F.col("id") != F.lit(initiator))
            .localCheckpoint(eager=True)
        )

        for _ in range(max_rounds):
            n_before = granting.count()
            got = (
                edges.join(granting, edges.dst == granting.id)
                .groupBy("src", "tag")
                .agg(F.count(F.lit(1)).alias("_got"))
            )
            satisfied = (
                groups.join(got, on=["src", "tag"])
                .where(F.col("_got") >= F.col("_need"))
                .select(F.col("src").alias("id"))
                .distinct()
            )
            granting = (
                granting.unionByName(satisfied).distinct().localCheckpoint(eager=True)
            )
            if granting.count() == n_before:
                break

        init_leaf_free = notified.where(
            (F.col("id") == F.lit(initiator))
        ).join(out_deg, on="id", how="left_anti")
        free = granting.unionByName(init_leaf_free).distinct()

        return graph.vertices.select(F.col(id_col).alias("id")).join(
            free.withColumn("is_free", F.lit(True)), on="id", how="left"
        ).select("id", F.coalesce("is_free", F.lit(False)).alias("is_free"))
