"""Maximal independent set — distributed Luby's algorithm.

Reference: ``giraph-block-app-8/.../library/algo/DistributedIndependentSet.java:53,82-228``
— vertices iterate UNKNOWN → IN_SET/NOT_IN_SET: an UNKNOWN vertex whose
random priority is a strict local minimum among UNKNOWN neighbors enters the
set; its neighbors leave. The reference uses per-superstep random values;
we use a *deterministic* priority ``md5(id)`` (stable across retries and
reproducible in the SQL oracle — Luby's analysis only needs the priorities
to behave uniformly, which a cryptographic hash of distinct ids does).

Expects a symmetric edge relation (use ``prepare.symmetrize`` first), like
the reference, which runs on undirected graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import fresh_checkpoint_count
from ..plans.gear import LoopGear

UNKNOWN, IN_SET, NOT_IN = 0, 1, 2


def maximal_independent_set(
    graph: Graph,
    max_rounds: int = 50,
    status_col: str = "in_set",
    stats: dict | None = None,
) -> DataFrame:
    """Returns ``(id, in_set BOOLEAN)``. O(log n) rounds w.h.p.; each round
    is two shuffles (neighbor-min + neighbor-of-IN mark). The UNKNOWN
    count rides each round's checkpoint job (one action per round) and
    feeds the shared gear-down (plans/gear.py) as the live set
    collapses. ``stats``, if given, records ``rounds`` and
    ``per_round`` rows."""
    id_col, src, dst = graph.id_col, graph.src_col, graph.dst_col
    unknown = F.col("_st") == UNKNOWN

    with LoopGear(graph.vertices.sparkSession, stats=stats) as gear:
        state, n_v, n_unk = fresh_checkpoint_count(
            graph.vertices.select(
                id_col,
                F.lit(UNKNOWN).alias("_st"),
                F.md5(F.col(id_col).cast("string")).alias("_pri"),
            ),
            flag=unknown,
        )
        gear.floor_rows = n_v  # the per-round O(V) state rewrite
        # the live edge relation: edges between two still-UNKNOWN
        # vertices — the only ones that matter (the neighbor-min only
        # feeds UNKNOWN vertices, and only UNKNOWN neighbors
        # contribute). Both endpoints being UNKNOWN by construction,
        # the neighbor priority is md5(src) computed INLINE — the
        # per-round state join disappears entirely. Each round peels
        # the edges incident to newly-decided vertices via anti-joins
        # against that delta (map-side broadcast when small), so
        # per-round shuffle input is O(live), never O(E).
        # The peel is checkpointed LAZILY and materialized inside the
        # NEXT round's state job (the round's ONE action — the peel's
        # own count is dropped; the gear signal becomes the exact
        # unknown-count trajectory scaled by the initial edge/vertex
        # ratio, a width heuristic that cannot affect results)
        live, n_live0, _ = fresh_checkpoint_count(graph.edges.select(src, dst))

        for _ in range(max_rounds):
            if n_unk == 0:
                break
            gear.round(-(-n_live0 * n_unk // max(n_v, 1)))
            # min INLINE priority among (UNKNOWN) neighbors
            nbr = live.groupBy(F.col(dst).alias(id_col)).agg(
                F.min(F.md5(F.col(src).cast("string"))).alias("_minnbr")
            )
            with_min = state.join(nbr, on=id_col, how="left")
            # strict local minimum (md5 of distinct ids never ties) → IN
            newly_in = with_min.where(
                (F.col("_st") == UNKNOWN)
                & (
                    F.col("_minnbr").isNull()
                    | (F.col("_pri") < F.col("_minnbr"))
                )
            ).select(id_col)
            # neighbors of newly-IN → OUT (live edges only: decided
            # neighbors never transition again)
            out_ids = (
                live.join(
                    newly_in.select(F.col(id_col).alias(src)),
                    on=src,
                    how="left_semi",
                )
                .select(F.col(dst).alias(id_col))
                .dropDuplicates()
            )
            # fresh_checkpoint: the round joins state with two frames
            # that both derive from state (nbr, out_ids) — inherited
            # size estimates would compound per round (plans/checkpoint.py)
            prev_unk = n_unk
            state, _, n_unk = fresh_checkpoint_count(
                state.join(
                    newly_in.withColumn("_in", F.lit(True)),
                    on=id_col,
                    how="left",
                )
                .join(
                    out_ids.withColumn("_out", F.lit(True)),
                    on=id_col,
                    how="left",
                )
                .select(
                    id_col,
                    F.when(F.col("_in").isNotNull(), F.lit(IN_SET))
                    .when(
                        (F.col("_st") == UNKNOWN) & F.col("_out").isNotNull(),
                        F.lit(NOT_IN),
                    )
                    .otherwise(F.col("_st"))
                    .alias("_st"),
                    "_pri",
                    (
                        (F.col("_st") == UNKNOWN)
                        & (
                            F.col("_in").isNotNull()
                            | F.col("_out").isNotNull()
                        )
                    ).alias("_just"),
                ),
                flag=unknown,
            )
            if n_unk == 0:
                break
            # peel edges incident to this round's decided vertices; the
            # delta size (prev_unk − n_unk) is known before the job runs.
            # Lazy checkpoint: the next round's state job materializes
            # it (and caches the blocks), so the peel costs no action
            delta = state.where("_just").select(id_col)
            state = state.drop("_just")
            live = gear.peel(
                live, delta, prev_unk - n_unk, src, dst
            ).localCheckpoint(eager=False)
        return state.select(
            id_col, (F.col("_st") == IN_SET).alias(status_col)
        )
