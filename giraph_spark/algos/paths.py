"""Shortest-path family: SSSP (weighted) and BFS (levels).

Reference semantics:
- SSSP: ``giraph-examples/.../examples/SimpleShortestPathsComputation.java:39,60-85``
  — vertex value starts at ∞ (source 0), each superstep takes the min of
  inbound distances, and *only on improvement* relaxes its out-edges with
  ``dist + edge_weight``; every vertex votes to halt every superstep, so the
  computation terminates when no distance improves (min-combiner =
  ``MinimumDoubleMessageCombiner``).
- BFS: ``giraph-block-app-8/.../library/algo/BreadthFirstSearch.java:72,123``
  — identical with unit weights / integer levels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.gear import LoopGear
from ..pregel import MSG, PregelMetrics, pregel, propagate

INF = float("inf")


def _per_pivot(id_col: str, pivots: list, at: float, elsewhere: float) -> Column:
    """One ``array<double>`` slot per pivot: ``at`` in the slot of the
    pivot that is this vertex, ``elsewhere`` in every other slot."""
    return F.array(
        *[
            F.when(F.col(id_col) == F.lit(p), F.lit(at)).otherwise(F.lit(elsewhere))
            for p in pivots
        ]
    )


def sssp(
    graph: Graph,
    source,
    weight_col: str | None = "weight",
    max_supersteps: int = 100,
    metrics: PregelMetrics | None = None,
    dist_col: str = "distance",
    **pregel_kwargs,
) -> DataFrame:
    """Single-source shortest paths. Returns ``(id, ..., distance)`` with
    ``distance = ∞`` for unreachable vertices (matching Giraph, which
    leaves unreached vertex values at Double.MAX_VALUE).

    Scale notes: one shuffle per superstep for the ``groupBy(dst).min``
    inbox (map-side partial min = Giraph's message combiner, free from
    Catalyst) plus the triplet join keyed on vertex id. The active set
    shrinks monotonically once the frontier passes; the kernel's adaptive
    gear-down (``plans.gear.LoopGear.resize``) shrinks the loop's
    shuffle width with it, so tail supersteps don't pay full-width task
    counts for near-empty frontiers.
    """
    id_col = graph.id_col
    w = F.col(weight_col) if weight_col else F.lit(1.0)

    return propagate(
        graph,
        initial={
            dist_col: F.when(F.col(id_col) == F.lit(source), 0.0).otherwise(
                F.lit(INF)
            )
        },
        # compute: min(old, min inbound); relax out-edges on improvement
        # (the source "improves" from nothing to 0 on superstep 0)
        update={dist_col: F.least(F.col(dist_col), F.col(MSG))},
        seed=F.col(dist_col) < F.lit(INF),
        improved=F.coalesce(F.col(MSG), F.lit(INF)) < F.col(dist_col),
        send=F.col(dist_col) + w,
        combine=F.min,
        msg_type="double",
        max_supersteps=max_supersteps,
        metrics=metrics,
        **pregel_kwargs,
    )


def bfs(
    graph: Graph,
    source,
    max_supersteps: int = 100,
    metrics: PregelMetrics | None = None,
    level_col: str = "level",
    **pregel_kwargs,
) -> DataFrame:
    """BFS level per vertex; -1 for unreachable (matching
    ``BreadthFirstSearch.java`` which initializes to NOT_VISITED).

    ``source`` may be a single id, a list of ids (the reference's seed-set
    form — ``BreadthFirstSearch.java:73`` takes an ``isVertexInSeedSet``
    predicate), or a boolean Column over the vertex columns."""
    id_col = graph.id_col
    big = F.lit(2**62)
    if isinstance(source, Column):
        is_seed = source
    elif isinstance(source, (list, tuple, set)):
        is_seed = F.col(id_col).isin(list(source))
    else:
        is_seed = F.col(id_col) == F.lit(source)

    out = propagate(
        graph,
        initial={
            level_col: F.when(is_seed, F.lit(0)).otherwise(big).cast("long")
        },
        update={level_col: F.least(F.col(level_col), F.col(MSG))},
        seed=F.col(level_col) < big,
        improved=F.coalesce(F.col(MSG), big) < F.col(level_col),
        send=F.col(level_col) + F.lit(1),
        combine=F.min,
        msg_type="long",
        max_supersteps=max_supersteps,
        metrics=metrics,
        **pregel_kwargs,
    )
    return out.withColumn(
        level_col, F.when(F.col(level_col) >= big, F.lit(-1)).otherwise(F.col(level_col))
    )


def pivot_distances(
    graph: Graph,
    pivots: list,
    max_supersteps: int = 50,
    metrics: PregelMetrics | None = None,
    **pregel_kwargs,
) -> DataFrame:
    """Multi-source BFS in ONE kernel run: vertex state is an
    ``array<double>`` of per-pivot hop distances (∞ = unreached),
    messages are the array advanced by one hop, and the combiner is the
    element-wise minimum (:func:`giraph_spark.aggregators.vector_min`) —
    the aggregator family's dense-vector algebra used as message
    algebra, so adding pivots widens the array instead of adding runs.
    Returns the vertices with the raw ``_d`` distance array — the shared
    forward pass of the pivot-centrality family
    (:func:`harmonic_centrality`, :func:`closeness_centrality`)."""
    from ..aggregators import vector_min

    id_col = graph.id_col
    new_d = F.zip_with(
        F.col("_d"),
        F.coalesce(F.col("_msg"), F.col("_d")),
        lambda a, b: F.least(a, b),
    )
    # the pivots "improve" from nothing to 0 on superstep 0 (sssp's
    # seeding rule, vectorized)
    return propagate(
        graph,
        initial={"_d": _per_pivot(id_col, pivots, 0.0, INF)},
        update={"_d": new_d},
        seed=F.exists(F.col("_d"), lambda x: x < F.lit(INF)),
        improved=F.exists(
            F.zip_with(new_d, F.col("_d"), lambda a, b: a < b), lambda x: x
        ),
        send=F.expr("transform(_d, x -> x + 1)"),
        combine=vector_min,
        max_supersteps=max_supersteps,
        metrics=metrics,
        **pregel_kwargs,
    )


def harmonic_centrality(
    graph: Graph,
    pivots: list,
    max_supersteps: int = 50,
    metrics: PregelMetrics | None = None,
    **pregel_kwargs,
) -> DataFrame:
    """Harmonic centrality restricted to a pivot set: ``H(v) = Σ_{p ∈
    pivots, d(p,v) > 0} 1 / d(p,v)`` with ``d`` = hop distance FROM the
    pivot along the graph's edges — the standard pivot-sampling
    estimator of centrality at scale (exact over the chosen pivots;
    unreachable pivots contribute 0; one :func:`pivot_distances` kernel
    run). Returns ``(id, harmonic)`` rounded to 6 places."""
    out = pivot_distances(
        graph, pivots, max_supersteps, metrics, **pregel_kwargs
    )
    harmonic = F.expr(
        "aggregate(_d, 0.0d, (acc, x) -> acc + CASE WHEN x > 0.0d AND "
        "x != cast('Infinity' AS DOUBLE) THEN 1.0d / x ELSE 0.0d END)"
    )
    return out.select(
        graph.id_col, F.round(harmonic, 6).alias("harmonic")
    )


def closeness_centrality(
    graph: Graph,
    pivots: list,
    max_supersteps: int = 50,
    metrics: PregelMetrics | None = None,
    **pregel_kwargs,
) -> DataFrame:
    """Pivot-restricted closeness: ``C(v) = r(v) / Σ_{p reached, p ≠ v}
    d(p,v)`` with ``r(v)`` = number of pivots reaching v — the
    reached-normalized (Wasserman–Faust / Lin-style) form, which stays
    comparable across vertices when some pivots are unreachable; 0 when
    no pivot reaches v. Same :func:`pivot_distances` code path as
    :func:`harmonic_centrality`: ONE multi-source-BFS kernel run per
    call regardless of pivot count (each call runs its own sweep — to
    serve the whole centrality family from a single sweep, materialize
    ``pivot_distances`` once and apply the score projections to it).
    Returns ``(id, closeness)`` rounded to 6 places."""
    out = pivot_distances(
        graph, pivots, max_supersteps, metrics, **pregel_kwargs
    )
    sumd = F.expr(
        "aggregate(_d, 0.0d, (acc, x) -> acc + CASE WHEN x > 0.0d AND "
        "x != cast('Infinity' AS DOUBLE) THEN x ELSE 0.0d END)"
    )
    nr = F.expr(
        "aggregate(_d, 0.0d, (acc, x) -> acc + CASE WHEN x > 0.0d AND "
        "x != cast('Infinity' AS DOUBLE) THEN 1.0d ELSE 0.0d END)"
    )
    return out.select(
        graph.id_col,
        F.round(
            F.when(sumd > 0, nr / sumd).otherwise(F.lit(0.0)), 6
        ).alias("closeness"),
    )


def betweenness_centrality(
    graph: Graph,
    pivots: list,
    max_supersteps: int = 50,
    metrics: PregelMetrics | None = None,
    **pregel_kwargs,
) -> DataFrame:
    """Pivot-based approximate betweenness (Brandes, "A Faster Algorithm
    for Betweenness Centrality", 2001; pivot sampling per Brandes/Pich
    2007): ``B(v) = Σ_{p ∈ pivots} δ_p(v)`` where ``δ_p`` is the
    one-source dependency from Brandes' two-phase accumulation — exact
    for the chosen pivots, the standard estimator at scale (betweenness
    over all sources is O(V·E), inherently sampled on big graphs).
    Unweighted hop distances over the edges AS GIVEN (symmetrize first
    for the undirected form, as with :func:`harmonic_centrality`).

    TWO kernel runs total — not two per pivot — with the aggregator
    family's dense-vector algebra as message algebra (the
    :func:`giraph_spark.aggregators.vector_sum` combiner):

    - forward: per-pivot BFS with path counting. State is
      ``(_d, _sg)`` arrays (distance, σ); a vertex assigned at
      superstep t sends its σ vector; receivers sum σ over all
      dist-(t) predecessors (the element-wise-sum combiner collapses
      fan-in map-side) and assign ``dist = t+1``. BFS level order
      guarantees every predecessor's σ is final when it sends.
    - backward: dependency accumulation level-by-level from the
      deepest level L down. At superstep s, vertices at level L−s
      finalize ``δ[p] += σ_v · Σ_w (1 + δ_w)/σ_w`` over their
      level-(L−s+1) successors' messages, then send their own
      ``(1+δ)/σ`` vector — the level gating makes the reverse
      topological sweep a synchronous schedule, no DAG materialized.

    Per-superstep cost is the kernel's usual two co-partitioned
    shuffles with |pivots|-wide array rows; adding pivots widens the
    arrays, not the round count. Returns ``(id, betweenness)`` rounded
    to 6 (pivot's own dependency excluded, per Brandes' s ≠ v)."""
    from ..aggregators import vector_sum

    id_col = graph.id_col
    P = len(pivots)
    zeros = f"array_repeat(0.0d, {P})"
    init_d = _per_pivot(id_col, pivots, 0.0, INF)
    init_sg = _per_pivot(id_col, pivots, 1.0, 0.0)

    def fwd_update(ctx):
        s = float(ctx.superstep)
        m = f"coalesce(_msg, {zeros})"
        # assign: first message for pivot p fixes dist = superstep and
        # σ = combined predecessor sum
        new_d = F.expr(
            f"zip_with(_d, {m}, (d, mm) -> "
            f"CASE WHEN d = cast('Infinity' as double) AND mm > 0.0d "
            f"THEN {s}d ELSE d END)"
        )
        new_sg = F.expr(
            f"zip_with(zip_with(_d, {m}, (d, mm) -> named_struct('d', d, 'mm', mm)), _sg, "
            f"(t, sg) -> CASE WHEN t.d = cast('Infinity' as double) AND t.mm > 0.0d "
            f"THEN t.mm ELSE sg END)"
        )
        return {"_d": new_d, "_sg": new_sg}

    def fwd_send(ctx):
        s = float(ctx.superstep)
        # only vertices assigned THIS superstep propagate (incl. pivots
        # at superstep 0); null when nothing to send for any pivot
        return F.when(
            F.expr(f"exists(_d, x -> x = {s}d)"),
            F.expr(f"zip_with(_d, _sg, (d, sg) -> IF(d = {s}d, sg, 0.0d))"),
        )

    metrics = metrics if metrics is not None else PregelMetrics()
    with LoopGear(graph.vertices.sparkSession, window=False) as gear:
        fwd = gear.persist(
            pregel(
                graph,
                initial={"_d": init_d, "_sg": init_sg},
                update=fwd_update,
                send_msg=fwd_send,
                combine=vector_sum,
                msg_type="array<double>",
                vote_to_halt=True,
                max_supersteps=max_supersteps,
                metrics=metrics,
                **pregel_kwargs,
            )
        )
        # a truncated forward BFS would silently underestimate every score
        # (vertices beyond the cutoff keep d=∞ and their dependency credit
        # vanishes) — fail loudly instead, like k_truss on an un-peeled exit
        if (
            metrics.num_supersteps >= max_supersteps
            and metrics.supersteps
            and metrics.supersteps[-1]["messages"] > 0
        ):
            raise RuntimeError(
                "betweenness_centrality: forward BFS still had an active "
                f"frontier at max_supersteps={max_supersteps}; raise it above "
                "the graph's pivot eccentricity"
            )
        lmax = fwd.select(
            F.max(
                F.array_max(
                    F.filter(
                        F.col("_d"), lambda x: x < F.lit(INF)
                    )
                )
            )
        ).first()[0]
        L = int(lmax) if lmax is not None else 0

        g2 = Graph(
            fwd, graph.edges, id_col, graph.src_col, graph.dst_col
        )

        def bwd_update(ctx):
            lvl = float(L - ctx.superstep)
            m = f"coalesce(_msg, {zeros})"
            return {
                "_dl": F.expr(
                    f"zip_with(zip_with(_dl, _sg, (dl, sg) -> named_struct('dl', dl, 'sg', sg)), "
                    f"zip_with(_d, {m}, (d, mm) -> named_struct('d', d, 'mm', mm)), "
                    f"(a, b) -> CASE WHEN b.d = {lvl}d "
                    f"THEN a.dl + a.sg * b.mm ELSE a.dl END)"
                )
            }

        def bwd_send(ctx):
            lvl = float(L - ctx.superstep)
            if lvl <= 0:  # level-0 pivots have no predecessors to credit
                return F.lit(None).cast("array<double>")
            # the division must live INSIDE the level-gated branch: a
            # vertex reached by some pivots but not others has σ = 0 for
            # the unreached ones, and ANSI mode raises DIVIDE_BY_ZERO on
            # eagerly-evaluated double division (σ ≥ 1 whenever d = lvl)
            return F.when(
                F.expr(f"exists(_d, x -> x = {lvl}d)"),
                F.expr(
                    f"zip_with(_d, zip_with(_dl, _sg, (dl, sg) -> "
                    f"named_struct('dl', dl, 'sg', sg)), "
                    f"(d, t) -> IF(d = {lvl}d, (1.0d + t.dl) / t.sg, 0.0d))"
                ),
            )

        # vote_to_halt=False: the backward schedule is LEVEL-gated, not
        # message-gated — a vertex whose level's turn arrives may have
        # received no prior message (leaf at an intermediate level) and a
        # halted vertex would silently skip its send slot, dropping its
        # +1 path credit. Every vertex stays active for the L+1-superstep
        # sweep (bounded; the update is a full-state projection either way).
        # send_msg_to_src: dependency flows BACKWARD — a level-(d+1)
        # vertex credits its predecessors along its INCOMING edges
        # (edge v→w, w sends to v), which on a directed relation is the
        # reverse of the forward BFS direction. send_msg here would only
        # be correct on symmetric graphs and silently zero out directed
        # ones (caught by review: directed path 0→1→2 gave {1: 0.0}).
        out = pregel(
            g2,
            initial={"_dl": F.expr(zeros)},
            update=bwd_update,
            send_msg_to_src=bwd_send,
            combine=vector_sum,
            msg_type="array<double>",
            vote_to_halt=F.lit(False),
            max_supersteps=L + 1,
            metrics=metrics,
            **pregel_kwargs,
        )
        betw = F.expr(
            "aggregate(zip_with(_d, _dl, (d, dl) -> "
            "IF(d > 0.0d AND d < cast('Infinity' as double), dl, 0.0d)), "
            "0.0d, (acc, x) -> acc + x)"
        )
        return out.select(id_col, F.round(betw, 6).alias("betweenness"))


def sssp_with_paths(
    graph: Graph,
    source,
    weight_col: str | None = "weight",
    max_supersteps: int = 100,
    metrics: PregelMetrics | None = None,
    **pregel_kwargs,
) -> DataFrame:
    """SSSP with shortest-path-tree reconstruction: like :func:`sssp`
    but each vertex also records the predecessor on its (deterministic)
    shortest path — messages are ``struct(dist, sender)`` and the
    combiner is the lexicographic struct minimum (the argmin-combiner
    pattern, ``reducers/impl/MaxPairReducer.java``'s dual). Tie order
    among equal-distance offers: the offer from the EARLIEST superstep
    wins, then lowest sender id within that superstep — the struct-min
    only arbitrates messages arriving together; a later equal-distance
    offer never overrides because the relaxation is strictly improving.
    (On unweighted/uniform-weight graphs every equal-distance offer
    arrives in the same superstep, so the rule degenerates to plain
    lowest-id-predecessor.) Following ``pred``
    links from any vertex walks the tree back to the source; NULL pred =
    source itself or unreachable. Returns ``(id, ..., distance, pred)``.

    Same per-superstep shape and cost as :func:`sssp` (the message just
    carries 8 more bytes); strictly-improving relaxation keeps the
    update decisive, so the predecessor is only rewritten when the
    distance strictly drops."""
    id_col = graph.id_col
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    taken = F.col(MSG).isNotNull() & (F.col(MSG)["d"] < F.col("distance"))
    return propagate(
        graph,
        initial={
            "distance": F.when(F.col(id_col) == F.lit(source), 0.0).otherwise(
                F.lit(INF)
            ),
            "pred": F.lit(None).cast("long"),
        },
        update={
            "distance": F.when(taken, F.col(MSG)["d"]).otherwise(
                F.col("distance")
            ),
            "pred": F.when(taken, F.col(MSG)["p"]).otherwise(F.col("pred")),
        },
        seed=F.col("distance") < F.lit(INF),
        improved=taken,
        send=F.struct(
            (F.col("distance") + w).alias("d"),
            F.col(id_col).cast("long").alias("p"),
        ),
        combine=F.min,
        msg_type="struct<d:double,p:bigint>",
        max_supersteps=max_supersteps,
        metrics=metrics,
        **pregel_kwargs,
    )
