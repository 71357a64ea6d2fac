"""Greedy graph coloring — distributed Jones–Plassmann with fixed priorities.

Reference: ``giraph-debugger/.../examples/graphcoloring/GraphColoringComputation.java:34``
and ``GraphColoringMaster.java`` — the reference colors the graph by
REPEATED maximal-independent-set rounds (LOTTERY → CONFLICT_RESOLUTION →
EDGE_CLEANING → COLOR_ASSIGNMENT): each cycle finds an MIS among the
still-uncolored vertices, assigns it the next color, removes it, and
repeats until every vertex is colored.

We compute the SAME coloring Spark-first with one pass of
Jones–Plassmann (1993): give every vertex the deterministic priority
``md5(id)`` (distinct ids never tie); a vertex whose every
smaller-priority neighbor is already colored takes the smallest color
unused by those neighbors (the *mex*). With priorities FIXED across
rounds, iterated lexicographically-first MIS and Jones–Plassmann are
the same function — color class ``c`` of the greedy sequential coloring
in priority order is exactly the lexicographically-first MIS of the
residual graph after classes ``0..c-1`` are removed (proved by
induction on priority rank; ``tests/test_matching_coloring.py``
asserts the equality against :func:`~giraph_spark.algos.
independent_set.maximal_independent_set` iterated per color). The
reference draws fresh randomness per lottery; fixed hashed priorities
keep Luby/JP's uniformity argument while making the run reproducible
across retries and replayable in the SQL oracle.

Scale shape: each wave is one color-join + one groupBy over the LIVE
edge set — edges whose dst is still uncolored, peeled each wave by an
anti-join against the wave's just-colored delta (broadcast map-side
when the delta is small, plans/gear.py) — so per-wave shuffle input
tracks the live set, never O(E). Priorities are md5 of the endpoint
ids, computed inline per edge (no priority join). The mex aggregates
at most ``n_colors ≤ Δ+1`` distinct values per vertex, so the
``collect_set`` is map-side combinable and bounded by the palette,
never by degree. Wave count is the longest priority-decreasing path —
O(log n / log log n) w.h.p. for random priorities on bounded-degree
graphs — vs one full MIS run PER COLOR for the reference's schedule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import fresh_checkpoint_count
from ..plans.gear import ARRAY_ELEM_BYTES, LoopGear, bcast_if_small


def graph_coloring(
    graph: Graph,
    max_rounds: int = 200,
    color_col: str = "color",
    stats: dict | None = None,
) -> DataFrame:
    """Color an undirected graph (symmetric edge relation — apply
    ``prepare.symmetrize`` first, as for MIS). Returns ``(id, color)``
    with ``color`` a 0-based INT; adjacent vertices always differ.

    Deterministic: the result is the greedy sequential coloring in
    ``md5(id)`` order, independent of partitioning or scheduling.
    ``stats``, if given, records ``rounds`` and ``per_round`` rows.
    """
    id_col, src, dst = graph.id_col, graph.src_col, graph.dst_col
    uncolored = F.col("_color").isNull()
    # priorities are a pure function of the id (md5), so the per-edge
    # endpoint priorities are computed INLINE in the wave aggregate —
    # no priority join anywhere; the only per-wave join fetches the
    # src endpoint's current color
    spri = F.md5(F.col(src).cast("string"))
    dpri = F.md5(F.col(dst).cast("string"))

    with LoopGear(graph.vertices.sparkSession, stats=stats) as gear:
        # the uncolored count rides every checkpoint materialization —
        # one action per frame per wave (SURVEY §4.7), doubling as the
        # gear/broadcast signal
        state, n_v, n_unc = fresh_checkpoint_count(
            graph.vertices.select(
                id_col, F.lit(None).cast("int").alias("_color")
            ),
            flag=uncolored,
        )
        gear.floor_rows = n_v  # the per-wave O(V) state rewrite
        # the live edge relation: edges whose DST is still uncolored —
        # only those feed a wave decision (colored vertices never
        # change). It shrinks monotonically; each wave peels the edges
        # into just-colored vertices with an anti-join against the
        # wave's DELTA (map-side broadcast when the delta is small), so
        # per-wave shuffle INPUT is O(live), never O(E). The peel is
        # checkpointed LAZILY and materialized inside the NEXT wave's
        # state job — one action per wave; the gear/byte-gate signal
        # becomes the exact uncolored-count trajectory scaled by the
        # initial edge/vertex ratio (width heuristic only, results
        # unaffected)
        live, n_live0, _ = fresh_checkpoint_count(graph.edges.select(src, dst))
        est_live = n_live0

        for rnd in range(max_rounds):
            if n_unc == 0:
                break
            gear.round(est_live)
            # per-uncolored-vertex wave aggregate over its neighbors'
            # (inline priority, joined color): blocked by any uncolored
            # smaller-priority neighbor; colors taken by smaller-
            # priority neighbors (collect_set drops the NULLs of
            # uncolored ones); both map-side combinable
            nbr = live.join(
                state.select(
                    F.col(id_col).alias(src), F.col("_color").alias("_ncolor")
                ),
                on=src,
            )
            per_v = nbr.groupBy(F.col(dst).alias(id_col)).agg(
                F.max(
                    F.when(F.col("_ncolor").isNull() & (spri < dpri), F.lit(1))
                ).alias("_blocked"),
                F.collect_set(
                    F.when(spri < dpri, F.col("_ncolor"))
                ).alias("_taken"),
            )
            mex = F.filter(
                F.sequence(F.lit(0), F.size("_taken")),
                lambda k: ~F.array_contains(F.col("_taken"), k),
            )[0]
            # fresh_checkpoint, not plain localCheckpoint: per_v derives
            # from state via both edge endpoints, so the wave's output
            # joins state with a derivative of itself — the inherited
            # size estimate would square per wave (plans/checkpoint.py).
            # per_v has ≤ n_unc rows, but its _taken arrays make it
            # wide. The byte gate must never undershoot (a row-count
            # gate alone would happily broadcast GBs on a high-degree
            # graph), so bound the array payload by facts, not the
            # average-degree trajectory est_live (which undershoots on
            # skewed graphs where high-degree vertices color late):
            # _taken is a SET of colors and after `rnd` completed waves
            # at most `rnd` distinct colors exist (wave k's mex ≤ k by
            # induction), so payload ≤ prev_unc × rnd elements; it is
            # also ≤ one element per live in-edge ≤ the exact initial
            # count n_live0 (live shrinks monotonically). Broadcast
            # once the min of the two fits and the O(V) state side
            # never shuffles at all
            prev_unc = n_unc
            state, _, n_unc = fresh_checkpoint_count(
                state.join(
                    bcast_if_small(
                        per_v,
                        prev_unc,
                        extra_bytes=ARRAY_ELEM_BYTES
                        * min(n_live0, prev_unc * rnd),
                    ),
                    on=id_col,
                    how="left",
                ).select(
                    id_col,
                    F.when(F.col("_color").isNotNull(), F.col("_color"))
                    .when(
                        F.col("_blocked").isNull(),
                        F.coalesce(mex, F.lit(0)).cast("int"),
                    )
                    .otherwise(F.lit(None).cast("int"))
                    .alias("_color"),
                    (
                        F.col("_color").isNull() & F.col("_blocked").isNull()
                    ).alias("_just"),
                ),
                flag=uncolored,
            )
            if n_unc == 0:
                break
            # peel the edges into just-colored vertices; the delta size
            # is known exactly (prev_unc − n_unc) before the job runs.
            # Lazy checkpoint — materialized by the next wave's state
            # job, costing no action of its own
            delta = state.where("_just").select(id_col)
            state = state.drop("_just")
            live = gear.peel(live, delta, prev_unc - n_unc, dst).localCheckpoint(
                eager=False
            )
            est_live = -(-n_live0 * n_unc // max(n_v, 1))
        return state.select(id_col, F.col("_color").alias(color_col))
