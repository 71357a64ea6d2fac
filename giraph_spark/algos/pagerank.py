"""PageRank family.

Reference semantics:
- Simple: ``giraph-examples/.../examples/SimplePageRankComputation.java:67-93``
  — from superstep 1 on, ``value = 0.15/N + 0.85·Σ(inbound)``; each superstep
  the vertex sends ``value / out_degree`` along every out-edge
  (``sendMessageToAllEdges``); runs a fixed number of supersteps then votes
  to halt. Mass leaks at sink vertices — that *is* the reference behavior.
- Dangling-aware: ``giraph-examples/.../examples/PageRankComputation.java:32-57``
  + ``RandomWalkComputation.java:114`` — dangling vertices' mass is summed by
  an aggregator each superstep and redistributed uniformly next superstep:
  ``value = teleport/N + (1−teleport)·(Σ inbound + dangling/N)``.
- Weighted: ``benchmark/WeightedPageRankComputation.java:72`` — messages
  proportional to normalized edge weight instead of 1/out_degree.

Spark realization: out-degree (or per-src weight normalization) is computed
ONCE and joined into the vertex state before the loop — it is static, so it
rides along the per-superstep state instead of being recomputed (Giraph gets
this implicitly since each vertex owns its edge list). Each superstep is one
``groupBy(dst).sum`` shuffle + one state join; Catalyst's partial
aggregation is the message combiner (``SumMessageCombiner``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.gear import LoopGear
from ..pregel import MSG, PregelContext, PregelMetrics, pregel


def pagerank(
    graph: Graph,
    iterations: int = 30,
    damping: float = 0.85,
    weighted: bool = False,
    dangling: bool = False,
    tolerance: float | None = None,
    metrics: PregelMetrics | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """PageRank; returns ``(id, ..., rank)``.

    ``iterations`` counts *update rounds* (superstep 0 only scatters the
    initial 1/N mass, matching the reference which skips the update at
    superstep 0).

    ``tolerance`` enables delta convergence
    (``giraph-block-app-8/.../library/pagerank/PageRankConvergenceType.java``
    — iterations vs delta): stop early once ``Σ|rank − prev_rank| <
    tolerance``; ``iterations`` then acts as the cap. The L1 delta rides the
    same per-superstep aggregate action as the dangling sum — no extra job.
    """
    id_col, src_col = graph.id_col, graph.src_col
    n = graph.vertices.count()

    # Static per-vertex scatter weight, computed once:
    #   unweighted: 1/out_degree;  weighted: handled per-edge below.
    degrees = graph.edges.groupBy(F.col(src_col).alias(id_col)).agg(
        F.count(F.lit(1)).alias("_deg"),
        F.sum(F.col("weight") if weighted else F.lit(1.0)).alias("_wsum"),
    )
    vertices = graph.vertices.join(degrees, on=id_col, how="left").withColumns(
        {
            "_deg": F.coalesce("_deg", F.lit(0)),
            "_wsum": F.coalesce("_wsum", F.lit(0.0)),
        }
    )
    g = Graph(vertices, graph.edges, id_col, src_col, graph.dst_col,
              strict=graph.strict, edges_layout=graph.edges_layout)

    base = (1.0 - damping) / n

    def update(ctx: PregelContext):
        if ctx.superstep == 0:
            out = {rank_col: F.lit(1.0 / n)}
        else:
            inbound = F.coalesce(F.col(MSG), F.lit(0.0))
            if dangling:
                d = ctx.broadcasts.get("dangling", 0.0)
                inbound = inbound + F.lit(d / n)
            out = {rank_col: F.lit(base) + F.lit(damping) * inbound}
        if tolerance is not None:
            # update exprs see pre-update values: capture the old rank so
            # the aggregate below can compute the L1 step delta
            out["_prev_rank"] = F.coalesce(F.col(rank_col), F.lit(0.0))
        return out

    # scatter: rank · w/Σw (≡ rank/out_degree when unweighted). try_divide:
    # sinks have _wsum=0 and never match the triplet join, but Catalyst may
    # push this projection below the join where ANSI division would throw.
    per_edge = F.try_divide(
        F.col("weight") if weighted else F.lit(1.0), F.col("_wsum")
    )
    send = lambda ctx: (
        F.when(F.lit(ctx.superstep < iterations), F.col(rank_col) * per_edge)
    )

    aggregates = {}
    if dangling:
        aggregates["dangling_sum"] = F.sum(
            F.when(F.col("_deg") == 0, F.col(rank_col)).otherwise(0.0)
        )
    if tolerance is not None:
        aggregates["l1_delta"] = F.sum(
            F.abs(F.col(rank_col) - F.col("_prev_rank"))
        )

    master_fn = None
    if aggregates:

        def master_fn(ctx: PregelContext) -> None:
            if dangling:
                ctx.broadcasts["dangling"] = ctx.aggregates["dangling_sum"] or 0.0
            if (
                tolerance is not None
                and ctx.superstep >= 1
                and (ctx.aggregates["l1_delta"] or 0.0) < tolerance
            ):
                ctx.halt()

    out = pregel(
        g,
        initial={rank_col: F.lit(1.0 / n)},
        update=update,
        combine=F.sum,
        msg_type="double",
        send_msg=send,
        vote_to_halt=lambda ctx: F.lit(ctx.superstep >= iterations),
        aggregates=aggregates or None,
        master_fn=master_fn,
        max_supersteps=iterations + 1,
        metrics=metrics,
    )
    return out.drop("_deg", "_wsum", "_prev_rank")


def random_walk_with_restart(
    graph: Graph,
    sources: list,
    iterations: int = 30,
    restart_prob: float = 0.15,
    weighted: bool = False,
    metrics: PregelMetrics | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Personalized PageRank / random walk with restart.

    Reference: ``examples/RandomWalkWithRestartComputation.java:33`` — the
    teleport term lands only on the source set; dangling mass also returns
    to the sources (``RandomWalkComputation.java:114`` routes lost mass
    through the same teleport distribution).
    """
    id_col, src_col = graph.id_col, graph.src_col
    k = len(sources)
    degrees = graph.edges.groupBy(F.col(src_col).alias(id_col)).agg(
        F.count(F.lit(1)).alias("_deg"),
        F.sum(F.col("weight") if weighted else F.lit(1.0)).alias("_wsum"),
    )
    vertices = graph.vertices.join(degrees, on=id_col, how="left").withColumns(
        {
            "_deg": F.coalesce("_deg", F.lit(0)),
            "_wsum": F.coalesce("_wsum", F.lit(0.0)),
            "_is_src": F.col(id_col).isin(sources),
        }
    )
    g = Graph(vertices, graph.edges, id_col, src_col, graph.dst_col,
              strict=graph.strict, edges_layout=graph.edges_layout)
    damping = 1.0 - restart_prob
    init = F.when(F.col("_is_src"), 1.0 / k).otherwise(0.0)

    def update(ctx: PregelContext):
        if ctx.superstep == 0:
            return {rank_col: init}
        d = ctx.broadcasts.get("dangling", 0.0)
        inbound = F.coalesce(F.col(MSG), F.lit(0.0))
        teleport = F.when(
            F.col("_is_src"), F.lit((restart_prob + damping * d) / k)
        ).otherwise(0.0)
        return {rank_col: teleport + F.lit(damping) * inbound}

    per_edge = F.try_divide(
        F.col("weight") if weighted else F.lit(1.0), F.col("_wsum")
    )

    def master_fn(ctx: PregelContext) -> None:
        ctx.broadcasts["dangling"] = ctx.aggregates["dangling_sum"] or 0.0

    out = pregel(
        g,
        initial={rank_col: init},
        update=update,
        combine=F.sum,
        msg_type="double",
        send_msg=lambda ctx: F.when(
            F.lit(ctx.superstep < iterations), F.col(rank_col) * per_edge
        ),
        vote_to_halt=lambda ctx: F.lit(ctx.superstep >= iterations),
        aggregates={
            "dangling_sum": F.sum(
                F.when(F.col("_deg") == 0, F.col(rank_col)).otherwise(0.0)
            )
        },
        master_fn=master_fn,
        max_supersteps=iterations + 1,
        metrics=metrics,
    )
    return out.drop("_deg", "_wsum", "_is_src")


def personalized_pagerank_batch(
    graph: Graph,
    sources: list,
    iterations: int = 10,
    restart_prob: float = 0.15,
    weighted: bool = False,
    metrics: PregelMetrics | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Batch personalized PageRank: an INDEPENDENT teleporting walk per
    source, all advanced in ONE kernel run with ``array<double>`` state
    — the pivot-family batching of ``paths.pivot_distances`` /
    betweenness applied to :func:`random_walk_with_restart`'s math.
    ``|sources|`` single-seed runs would each scan the graph per
    iteration; the batch pays one triplet join per iteration total,
    messages just widen to k doubles (the recommendation-serving shape:
    PPR vectors for a whole query batch of users at once).

    Per-walk semantics match the reference exactly
    (``examples/RandomWalkWithRestartComputation.java:33``): walk s
    teleports only to ``sources[s]``, and walk s's dangling mass
    returns to ``sources[s]`` (``RandomWalkComputation.java:114``) —
    each walk conserves its own unit mass. With a single source the
    result equals ``random_walk_with_restart([s])`` exactly.

    Returns long-form ``(id, source, rank)``."""
    from ..aggregators import vector_sum

    id_col, src_col = graph.id_col, graph.src_col
    k = len(sources)
    damping = 1.0 - restart_prob
    degrees = graph.edges.groupBy(F.col(src_col).alias(id_col)).agg(
        F.count(F.lit(1)).alias("_deg"),
        F.sum(F.col("weight") if weighted else F.lit(1.0)).alias("_wsum"),
    )
    mask = F.array(
        *[(F.col(id_col) == F.lit(s)).cast("double") for s in sources]
    )
    vertices = graph.vertices.join(degrees, on=id_col, how="left").withColumns(
        {
            "_deg": F.coalesce("_deg", F.lit(0)),
            "_wsum": F.coalesce("_wsum", F.lit(0.0)),
            "_mask": mask,
        }
    )
    g = Graph(vertices, graph.edges, id_col, src_col, graph.dst_col,
              strict=graph.strict, edges_layout=graph.edges_layout)
    per_edge = F.try_divide(
        F.col("weight") if weighted else F.lit(1.0), F.col("_wsum")
    )
    zeros = F.array(*[F.lit(0.0)] * k)

    def update(ctx: PregelContext):
        if ctx.superstep == 0:
            return {"_ranks": F.col("_mask")}
        d = ctx.broadcasts.get("dangling") or [0.0] * k
        tele = F.array(
            *[
                F.lit(restart_prob + damping * float(d[s] or 0.0))
                for s in range(k)
            ]
        )
        inbound = F.coalesce(F.col(MSG), zeros)
        return {
            "_ranks": F.zip_with(
                F.zip_with(F.col("_mask"), tele, lambda m, t: m * t),
                inbound,
                lambda a, b: a + F.lit(damping) * b,
            )
        }

    def master_fn(ctx: PregelContext) -> None:
        ctx.broadcasts["dangling"] = list(
            ctx.aggregates["dangling_sum"] or [0.0] * k
        )

    out = pregel(
        g,
        initial={"_ranks": F.col("_mask")},
        update=update,
        combine=vector_sum,
        msg_type="array<double>",
        send_msg=lambda ctx: F.when(
            F.lit(ctx.superstep < iterations),
            F.transform(F.col("_ranks"), lambda r: r * per_edge),
        ),
        vote_to_halt=lambda ctx: F.lit(ctx.superstep >= iterations),
        aggregates={
            "dangling_sum": vector_sum(
                F.when(F.col("_deg") == 0, F.col("_ranks"))
            )
        },
        master_fn=master_fn,
        max_supersteps=iterations + 1,
        metrics=metrics,
    )
    src_lits = F.array(*[F.lit(s) for s in sources])
    return out.select(
        F.col(id_col), F.posexplode("_ranks").alias("_p", rank_col)
    ).select(
        id_col,
        F.element_at(src_lits, F.col("_p") + 1).alias("source"),
        rank_col,
    )


def eigenvector_centrality(
    graph: Graph,
    iterations: int = 8,
    round_digits: int | None = 6,
) -> DataFrame:
    """Eigenvector centrality by max-normalized power iteration:
    ``x ← A'x / max(A'x)`` for a fixed ``iterations`` (the Bonacich
    formulation; PageRank without teleport/damping, normalized by the
    max component instead of the L1 sum so the leading entry is exactly
    1.0). Fixed-iteration + per-round rounding (``round_digits``) makes
    the whole trajectory engine-replayable, the same portability recipe
    as :func:`giraph_spark.functions.similarity.kmeans_assign`.

    Spark shape per iteration: one co-keyed contribution groupBy
    (partial-aggregated map-side, the message-combiner shape) + one
    driver-side max (the per-round scalar every power method carries,
    k·1 doubles) + a lineage-truncated projection. A vertex with no
    in-edges decays to 0; the isolated-graph degenerate case (max = 0)
    yields all-zero scores rather than NaN. Hop semantics over the edges
    AS GIVEN — symmetrize first for the undirected form."""
    id_col, src_col, dst_col = graph.id_col, graph.src_col, graph.dst_col
    x = graph.vertices.select(
        F.col(id_col), F.lit(1.0).alias("_x")
    ).localCheckpoint(eager=False)
    with LoopGear(graph.vertices.sparkSession, window=False) as gear:
        # persist: each iteration runs one driver action, and without the
        # persist the edge relation's full upstream lineage (e.g. the
        # lineitem⋈orders join of trade_graph) re-executes every round
        edges = gear.persist(
            graph.edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_t"))
        )
        for _ in range(iterations):
            contrib = (
                x.join(edges, x[id_col] == edges["_s"])
                .groupBy(F.col("_t").alias(id_col))
                .agg(F.sum("_x").alias("_raw"))
            )
            raw = (
                graph.vertices.select(id_col)
                .join(contrib, id_col, "left")
                .select(
                    F.col(id_col), F.coalesce("_raw", F.lit(0.0)).alias("_raw")
                )
            )
            raw = raw.localCheckpoint(eager=False)
            mx = raw.agg(F.max("_raw")).first()[0]
            if not mx:  # no edges anywhere: stationary all-zero vector
                x = raw.select(id_col, F.lit(0.0).alias("_x"))
                break
            nx = F.col("_raw") / F.lit(float(mx))
            if round_digits is not None:
                nx = F.round(nx, round_digits)
            x = raw.select(F.col(id_col), nx.alias("_x"))
        # materialize before releasing the cached edges
        return x.select(id_col, F.col("_x").alias("eigenvector")).localCheckpoint(
            eager=True
        )


def hits(
    graph: Graph,
    iterations: int = 8,
    round_digits: int | None = 6,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) by alternating
    max-normalized power iteration: ``a ← AᵀH / max``, ``h ← Aa / max``
    per round — the directed-web dual of :func:`eigenvector_centrality`
    and the same portability recipe (fixed iterations, per-round
    rounding, max-normalization so the leading hub/authority are exactly
    1.0). Returns ``(id, hub, authority)``.

    Per round: two co-keyed contribution groupBys (one along edges, one
    against them — both partial-aggregated map-side) and two driver-side
    max scalars; lineage truncated every round; the edge relation is
    persisted for the run (two actions per round would otherwise re-run
    its upstream lineage every time) and released on any exit."""
    id_col, src_col, dst_col = graph.id_col, graph.src_col, graph.dst_col
    state = graph.vertices.select(
        F.col(id_col), F.lit(1.0).alias("_h"), F.lit(1.0).alias("_a")
    ).localCheckpoint(eager=False)

    def _norm(df: DataFrame, col: str) -> DataFrame:
        mx = df.agg(F.max(col)).first()[0]
        if not mx:
            return df.withColumn(col, F.lit(0.0))
        v = F.col(col) / F.lit(float(mx))
        if round_digits is not None:
            v = F.round(v, round_digits)
        return df.withColumn(col, v)

    with LoopGear(graph.vertices.sparkSession, window=False) as gear:
        edges = gear.persist(
            graph.edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_t"))
        )
        for _ in range(iterations):
            # authorities from hub mass along edges
            contrib = (
                state.join(edges, state[id_col] == edges["_s"])
                .groupBy(F.col("_t").alias(id_col))
                .agg(F.sum("_h").alias("_ra"))
            )
            state = (
                state.drop("_a")
                .join(contrib, id_col, "left")
                .withColumn("_a", F.coalesce("_ra", F.lit(0.0)))
                .drop("_ra")
            )
            state = _norm(state.localCheckpoint(eager=False), "_a")
            # hubs from authority mass against edges
            contrib = (
                state.join(edges, state[id_col] == edges["_t"])
                .groupBy(F.col("_s").alias(id_col))
                .agg(F.sum("_a").alias("_rh"))
            )
            state = (
                state.drop("_h")
                .join(contrib, id_col, "left")
                .withColumn("_h", F.coalesce("_rh", F.lit(0.0)))
                .drop("_rh")
            )
            state = _norm(state.localCheckpoint(eager=False), "_h")
        # materialize before releasing the cached edges
        return state.select(
            id_col, F.col("_h").alias("hub"), F.col("_a").alias("authority")
        ).localCheckpoint(eager=True)
