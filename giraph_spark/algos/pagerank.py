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

Spark realization: every member of the family — PageRank, random walk
with restart, batch personalized PageRank, eigenvector centrality and
HITS — is a fixed number of power-iteration rounds over a fixed vertex
set, the shape of GraphX's PageRank (a fixed-length
``aggregateMessages`` + ``outerJoinVertices`` loop) and of Giraph's
``SimplePageRankComputation``, which has no halting logic. They share
one loop, :class:`_Power`: the scatter coefficient ``w/Σw`` is built
once per edge, each round is one ``groupBy(dst).sum`` shuffle (Catalyst's
partial aggregation is the message combiner, ``SumMessageCombiner``)
and one join onto the static vertex relation, and the round's one job
also returns the scalars the next round needs.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from ..aggregators import vector_sum
from ..graph import Graph
from ..plans.gear import LoopGear, fit_width
from ..pregel import PregelMetrics, _rdd_count

_X, _PREV, _IN = "_x", "_prev", "_in"  # the iterated value, its last value, its inbound sum


class _Power:
    """The fixed-length power-iteration loop of the PageRank family, over
    a fixed vertex set inside ``gear``'s window.

    Built once, as local checkpoints: the static vertex relation (the
    vertices with their out-degree ``_deg``, out-weight ``_wsum`` and
    the caller's ``static`` columns), and one ``(_k, _t, _c)`` relation
    per direction: every edge whose send key ``_k`` is a vertex, sending to
    ``_t`` with coefficient ``_c`` = ``w/Σw`` (``weighted``: ``w`` is the
    edge weight; False: 1) or 1.0 (``weighted=None``). A null
    coefficient sends nothing. ``reverse`` adds the dst -> src
    direction. One job counts the vertices ``n`` and the forward
    messages per round ``m`` from the vertex relation, whose per-vertex
    out-edge counts are shuffled partially aggregated, not edge by edge;
    ``m`` sizes the loop's width. Both relations are built by joins at
    that width, so they are hash-partitioned on id and ``_k`` — at width
    1 too, where a ``repartition`` would leave a single partition that
    every round's join re-shuffles. ``vector`` is the length of an
    ``array<double>`` value (None: a double).

    A round (:meth:`hop`) sends ``value·_c``, sums by target, left-joins
    the sum onto the static relation filling 0, applies the caller's
    update, checkpoints the result (``localCheckpoint``) and runs one
    job that materializes it and returns the round's aggregates. There
    is no halting probe: the length is known."""

    def __init__(
        self, gear: LoopGear, graph: Graph, *, weighted: bool | None = None,
        static: dict[str, Column] | None = None, reverse: bool = False,
        vector: int | None = None,
    ):
        self.id_col = id_col = graph.id_col
        self.vector = vector
        self.sum = vector_sum if vector else F.sum
        self.zero = F.array(*[F.lit(0.0)] * vector) if vector else F.lit(0.0)
        w = F.col("weight") if weighted else F.lit(1.0)
        deg = graph.edges.groupBy(F.col(graph.src_col).alias(id_col)).agg(
            F.count(F.lit(1)).alias("_deg"),
            F.sum(w).alias("_wsum"),
            F.count(w).alias("_sends"),
        )
        # the hints here and in hop: a broadcast join, chosen from a size
        # estimate, would run as a job of its own
        v = graph.vertices.join(deg.hint("shuffle_hash"), on=id_col, how="left")
        v = v.withColumns(
            {
                "_deg": F.coalesce("_deg", F.lit(0)),
                "_wsum": F.coalesce("_wsum", F.lit(0.0)),
                **(static or {}),
            }
        )
        # a vertex sends over its non-null weights unless they sum to 0:
        # the edges with a non-null coefficient, counted per vertex
        self.n, m = v.agg(
            F.count(F.lit(1)), F.sum(F.when(F.col("_wsum") != 0, F.col("_sends")))
        ).collect()[0]
        self.m = m or 0
        # try_divide: a sink's _wsum is 0, and Catalyst may evaluate the
        # projection where ANSI division would throw
        coef = F.lit(1.0) if weighted is None else F.try_divide(w, F.col("_wsum"))
        hops = [(graph.src_col, graph.dst_col)]
        if reverse:
            hops.append((graph.dst_col, graph.src_col))

        def relation(vs: DataFrame, key: str, target: str) -> DataFrame:
            return (
                vs.alias("_v").hint("shuffle_hash")
                .join(graph.edges.alias("_e"),
                      F.col(f"_v.`{id_col}`") == F.col(f"_e.`{key}`"))
                .select(
                    F.col(f"_v.`{id_col}`").alias("_k"),
                    F.col(f"_e.`{target}`").alias("_t"),
                    coef.alias("_c"),
                )
                .where(F.col("_c").isNotNull())
            )

        gear.set_width(fit_width(self.m, gear.ceiling))
        self.width = gear.cur
        # planned (at the checkpoint) under the loop's width. Checkpoints,
        # not persists: a round's plan then never holds the input's
        # lineage, which the cache lookup would compare on every plan
        # (a regex-heavy host_graph input ran 1.5x slower persisted)
        self.static = v.drop("_sends").localCheckpoint(eager=False)
        self.rels = [relation(self.static, *h).localCheckpoint(eager=False) for h in hops]

    def hop(
        self, state: DataFrame, value: Column, update: Callable[[Column], Column],
        aggs: dict[str, Column], prev: bool = False, rel: int = 0,
    ) -> tuple[DataFrame, Row | None]:
        """One round from ``state``: ``_x`` = ``update(inbound)`` over the
        static columns, where ``inbound`` sums ``value·_c`` over the
        relation ``rel``; with ``prev`` the new state also carries the
        sent ``value`` as ``_prev``. Returns the materialized state and
        its ``aggs`` row (None without ``aggs``)."""
        id_col = self.id_col
        x, c = F.col(_X), F.col("_c")
        sent = (
            state.select(F.col(id_col).alias("_k"), value.alias(_X))
            .hint("shuffle_hash")
            .join(self.rels[rel], "_k")
            .select(
                F.col("_t").alias(id_col),
                (F.transform(x, lambda r: r * c) if self.vector else x * c).alias(_IN),
            )
        )
        if self.width == 1:
            # one partition is already grouped by any key; coalesce says so
            # to the planner, which otherwise re-shuffles the messages
            sent = sent.coalesce(1)
        inbox = sent.groupBy(id_col).agg(self.sum(F.col(_IN)).alias(_IN))
        nxt = (
            self.static.join(inbox.hint("shuffle_hash"), id_col, "left")
            .withColumn(_X, update(F.coalesce(F.col(_IN), self.zero)))
            .drop(_IN)
        )
        if prev:
            nxt = nxt.join(
                state.select(id_col, value.alias(_PREV)).hint("shuffle_hash"), id_col
            )
        nxt = nxt.localCheckpoint(eager=False)
        if not aggs:
            _rdd_count(nxt)
            return nxt, None
        return nxt, nxt.agg(*[a.alias(k) for k, a in aggs.items()]).collect()[0]

    def run(
        self, x0: Column, update: Callable[[Column, object], Column],
        iterations: int, *, dangling: bool = False,
        tolerance: float | None = None, metrics: PregelMetrics | None = None,
    ) -> DataFrame:
        """``iterations`` rounds from ``_x = x0``; returns the last state.
        ``update(inbound, d)`` builds the new value, where ``d`` is the
        last state's dangling mass (its ``_x`` summed over the vertices
        without out-edges; with ``dangling``, else None). With
        ``tolerance`` the loop stops after the first round whose L1 step
        ``Σ|x − prev|`` falls below it. ``metrics`` gets superstep rows
        0..last, as the Pregel form of the program reports them: ``m``
        messages on each but the row of the last iteration."""
        aggs = {}
        if dangling:
            aggs["d"] = self.sum(F.when(F.col("_deg") == 0, F.col(_X)))
        if tolerance is not None:
            aggs["l1"] = F.sum(F.abs(F.col(_X) - F.col(_PREV)))
        t = time.monotonic()
        state = self.static.withColumn(_X, x0)
        s = state.agg(aggs["d"].alias("d")).collect()[0] if dangling else None
        for r in range(iterations + 1):
            if r:
                d = s["d"] if dangling else None
                state, s = self.hop(
                    state, F.col(_X), lambda inbound: update(inbound, d), aggs,
                    prev=tolerance is not None,
                )
            if metrics is not None:
                metrics.supersteps.append(
                    {
                        "superstep": r,
                        "messages": self.m if r < iterations else 0,
                        "partitions": self.width,
                        "seconds": time.monotonic() - t,
                    }
                )
                t = time.monotonic()
            if r and tolerance is not None and (s["l1"] or 0.0) < tolerance:
                break
        return state.drop(_PREV)


def _max_normalized(mx, round_digits: int | None) -> Column:
    """``_x / mx`` (rounded to ``round_digits``), or 0 when the max is 0
    or missing: no edges anywhere, a stationary all-zero vector."""
    if not mx:
        return F.lit(0.0)
    x = F.col(_X) / F.lit(float(mx))
    return x if round_digits is None else F.round(x, round_digits)


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
    same per-round job as the dangling sum — no extra job.
    """
    with LoopGear(graph.vertices.sparkSession) as gear:
        p = _Power(gear, graph, weighted=weighted)
        n = p.n
        base = (1.0 - damping) / n

        def update(inbound: Column, d) -> Column:
            if dangling:
                inbound = inbound + F.lit((d or 0.0) / n)
            return F.lit(base) + F.lit(damping) * inbound

        out = p.run(
            F.lit(1.0 / n), update, iterations, dangling=dangling,
            tolerance=tolerance, metrics=metrics,
        )
    return out.withColumn(rank_col, F.col(_X)).drop(_X, "_deg", "_wsum")


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
    k = len(sources)
    damping = 1.0 - restart_prob
    is_src = F.col("_is_src")

    def update(inbound: Column, d) -> Column:
        teleport = F.when(
            is_src, F.lit((restart_prob + damping * (d or 0.0)) / k)
        ).otherwise(0.0)
        return teleport + F.lit(damping) * inbound

    with LoopGear(graph.vertices.sparkSession) as gear:
        p = _Power(gear, graph, weighted=weighted,
                   static={"_is_src": F.col(graph.id_col).isin(sources)})
        out = p.run(
            F.when(is_src, 1.0 / k).otherwise(0.0), update, iterations,
            dangling=True, metrics=metrics,
        )
    return out.withColumn(rank_col, F.col(_X)).drop(_X, "_deg", "_wsum", "_is_src")


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
    source, all advanced in ONE loop with ``array<double>`` state
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
    id_col = graph.id_col
    k = len(sources)
    damping = 1.0 - restart_prob
    mask = F.col("_mask")

    def update(inbound: Column, d) -> Column:
        d = d or [0.0] * k
        tele = F.array(
            *[F.lit(restart_prob + damping * float(d[s] or 0.0)) for s in range(k)]
        )
        return F.zip_with(
            F.zip_with(mask, tele, lambda m, t: m * t),
            inbound,
            lambda a, b: a + F.lit(damping) * b,
        )

    with LoopGear(graph.vertices.sparkSession) as gear:
        p = _Power(
            gear, graph, weighted=weighted, vector=k,
            static={"_mask": F.array(
                *[(F.col(id_col) == F.lit(s)).cast("double") for s in sources]
            )},
        )
        out = p.run(mask, update, iterations, dangling=True, metrics=metrics)
    src_lits = F.array(*[F.lit(s) for s in sources])
    return out.select(
        F.col(id_col), F.posexplode(_X).alias("_p", rank_col)
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

    Spark shape per iteration: one round of the family's loop, whose
    job also returns the max (the per-round scalar every power method
    carries); the normalization is a projection over the checkpointed
    round. A vertex with no in-edges decays to 0; the isolated-graph
    degenerate case (max = 0) yields all-zero scores rather than NaN.
    Hop semantics over the edges AS GIVEN — symmetrize first for the
    undirected form."""
    with LoopGear(graph.vertices.sparkSession) as gear:
        p = _Power(gear, graph)
        state, x = p.static.withColumn(_X, F.lit(1.0)), F.col(_X)
        for _ in range(iterations):
            state, s = p.hop(state, x, lambda raw: raw, {"mx": F.max(_X)})
            x = _max_normalized(s["mx"], round_digits)
            if not s["mx"]:
                break
    return state.select(graph.id_col, x.alias("eigenvector"))


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

    Per round: two rounds of the family's loop, one along the edges and
    one against them, each returning its max."""
    id_col = graph.id_col
    with LoopGear(graph.vertices.sparkSession) as gear:
        p = _Power(gear, graph, reverse=True)
        h = a = p.static.withColumn(_X, F.lit(1.0))
        hx = ax = F.col(_X)
        for _ in range(iterations):
            # authorities from hub mass along edges, hubs from authority
            # mass against them
            a, s = p.hop(h, hx, lambda raw: raw, {"mx": F.max(_X)})
            ax = _max_normalized(s["mx"], round_digits)
            h, s = p.hop(a, ax, lambda raw: raw, {"mx": F.max(_X)}, rel=1)
            hx = _max_normalized(s["mx"], round_digits)
    return h.select(id_col, hx.alias("hub")).join(
        a.select(id_col, ax.alias("authority")), id_col
    )
