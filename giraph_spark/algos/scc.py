"""Strongly connected components — forward-backward coloring.

Reference: ``giraph-examples/.../scc/SccComputation.java:41,67`` +
``scc/SccPhaseMasterCompute.java:34,54-116`` — a master-driven phase
machine TRANSPOSE → TRIM → FORWARD-TRAVERSAL → BACKWARD-TRAVERSAL repeated
until all vertices are assigned. The same FW-BW/coloring structure is
realized here as a driver loop over two pregel passes per round:

1. *Forward coloring*: every unassigned vertex's color converges to the
   max unassigned id that reaches it (max-propagation along edges) — the
   FORWARD_TRAVERSAL phase.
2. *Backward membership*: roots (color == own id) flood their color along
   REVERSED edges, but only vertices with the same color accept — the
   BACKWARD_TRAVERSAL phase restricted to the color class. Everything
   reached is exactly SCC(root) and gets assigned scc = color (the max
   member id, matching the coloring invariant).
3. Assigned vertices are removed (the reference "deactivates" them:
   ``SccVertexValue`` trimming) and the round repeats on the rest.

Rounds needed = number of "SCC layers" hit by the largest colors — small in
practice (the reference makes the identical trade-off). Each round's
DataFrames are checkpoint-truncated, so the driver plan stays bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import fresh_checkpoint_count
from ..plans.gear import LoopGear
from ..pregel import MSG, PregelMetrics, propagate
from .components import max_propagation


def _converged_or_raise(m: PregelMetrics, phase: str, cap: int) -> None:
    """A traversal pregel that runs straight into its superstep cap with
    messages still in flight has NOT converged — its state is a partial
    propagation, and using it would assign WRONG components (a giant
    cycle, diameter n, silently splits into arcs). Fail loudly instead,
    like k_core/k_truss on an unfinished peel."""
    steps = m.supersteps
    if len(steps) >= cap and steps[-1]["messages"] > 0:
        raise RuntimeError(
            f"scc: {phase} traversal hit max_supersteps={cap} with "
            "messages still in flight — the component structure needs "
            "more supersteps (its diameter exceeds the cap); raise "
            "max_supersteps"
        )


def scc(
    graph: Graph,
    max_rounds: int = 30,
    max_supersteps: int = 100,
    scc_col: str = "scc",
    stats: dict | None = None,
) -> DataFrame:
    """Returns ``(id, scc)`` where ``scc`` = max vertex id of the strongly
    connected component. ``stats``, if given, records ``rounds`` (FW-BW
    layers peeled — the reference's phase-machine cycle count) with
    their ``per_round`` rows, and ``supersteps`` (total across all
    forward+backward traversals — the diameter-bound quantity the
    scale-stress harness tracks). Raises ``RuntimeError`` when a
    traversal runs into ``max_supersteps`` unconverged."""
    id_col, src, dst = graph.id_col, graph.src_col, graph.dst_col

    # the pregel traversals open their own conf windows; the induced-
    # subgraph shuffles between them keep the session's AQE
    with LoopGear(graph.vertices.sparkSession, window=False, stats=stats) as gear:
        remaining = graph.vertices.select(id_col)
        assigned: DataFrame | None = None
        edges_all = gear.persist(graph.edges.select(src, dst))
        edges_all.count()

        for _ in range(max_rounds):
            # the emptiness probe rides the checkpoint materialization —
            # one job per round (plans/checkpoint.py)
            remaining, n_rem, _ = fresh_checkpoint_count(remaining)
            if n_rem == 0:
                break
            gear.round(n_rem)

            # induced subgraph on remaining vertices
            e = gear.persist(
                edges_all.join(
                    remaining.select(F.col(id_col).alias(src)), on=src, how="left_semi"
                ).join(
                    remaining.select(F.col(id_col).alias(dst)), on=dst, how="left_semi"
                )
            )
            sub = Graph(remaining, e, id_col, src, dst)

            # Phase 1: forward max-coloring (FORWARD_TRAVERSAL)
            m_fwd = PregelMetrics()
            colored = max_propagation(
                sub, max_supersteps, m_fwd, out_col="_color"
            ).select(id_col, "_color")
            _converged_or_raise(m_fwd, "forward", max_supersteps)

            # Phase 2: backward membership flood within color class
            # (BACKWARD_TRAVERSAL): roots send color along reversed edges.
            csub = Graph(colored, e, id_col, src, dst)
            m_bwd = PregelMetrics()
            accepted = F.col(MSG).isNotNull() & F.array_contains(
                F.col(MSG), F.col("_color")
            )
            member = propagate(
                csub,
                initial={"_member": F.col("_color") == F.col(id_col)},
                update={"_member": F.col("_member") | accepted},
                seed=F.col("_member"),
                improved=~F.col("_member") & accepted,
                send=F.col("_color"),
                to_src=True,
                combine=F.collect_set,
                msg_type="array<bigint>",  # type after the combine step
                max_supersteps=max_supersteps,
                metrics=m_bwd,
            ).select(id_col, "_color", "_member")
            _converged_or_raise(m_bwd, "backward", max_supersteps)
            if stats is not None:
                stats["supersteps"] = (
                    stats.get("supersteps", 0)
                    + m_fwd.num_supersteps
                    + m_bwd.num_supersteps
                )

            found = member.filter(F.col("_member")).select(
                id_col, F.col("_color").cast("long").alias(scc_col)
            )
            assigned = (
                found
                if assigned is None
                else assigned.unionByName(found).localCheckpoint(eager=True)
            )
            remaining = member.filter(~F.col("_member")).select(id_col)
            e.unpersist()

        if assigned is None:
            return graph.vertices.select(
                id_col, F.col(id_col).cast("long").alias(scc_col)
            )
        # any leftovers past max_rounds: their own id (singleton fallback)
        leftovers = remaining.select(
            id_col, F.col(id_col).cast("long").alias(scc_col)
        )
        return assigned.unionByName(leftovers)
