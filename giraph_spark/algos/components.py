"""Connected components and label propagation.

Reference semantics:
- CC (label propagation): ``examples/ConnectedComponentsComputation.java:49,60-101``
  — vertex value starts as own id; first superstep sends id to neighbors;
  afterwards a vertex adopts the minimum inbound id and propagates *only on
  change* (min message combiner), voting to halt each superstep. Assumes the
  edge relation is symmetric for true undirected components — use
  ``prepare.symmetrize`` first (the block-framework version does this
  itself: ``prepare_graph/UndirectedConnectedComponents.java:279``).
- Max-value propagation: ``examples/MaxComputation.java:30-33`` — identical
  with max instead of min.

Scale note: label propagation converges in O(diameter) supersteps — fine for
small-world graphs (social/trade graphs: ≤ ~10 rounds at any scale since
each round is a full shuffle regardless of data size). For high-diameter
graphs (paths, meshes, road networks) use
:func:`alternating_star_components` — the alternating
large-star/small-star contraction (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC 2014), O(log n) rounds independent of
diameter, same output relation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..pregel import MSG, PregelMetrics, pregel, propagate
from ..plans.checkpoint import fresh_checkpoint
from ..plans.gear import LoopGear


def _flood(
    graph: Graph, combine, out_col: str, max_supersteps: int,
    metrics: PregelMetrics | None, **pregel_kwargs,
) -> DataFrame:
    """Label flooding from each vertex's own id: every vertex sends its
    label on superstep 0, then only when the combined inbound label
    (``combine``: ``F.min`` or ``F.max``) changes it."""
    label = F.col(out_col)
    merged = (F.least if combine is F.min else F.greatest)(label, F.col(MSG))
    return propagate(
        graph,
        initial={out_col: F.col(graph.id_col).cast("long")},
        update={out_col: merged},
        seed=F.lit(True),
        improved=merged != label,
        send=label,
        combine=combine,
        msg_type="long",
        max_supersteps=max_supersteps,
        metrics=metrics,
        **pregel_kwargs,
    )


def connected_components(
    graph: Graph,
    max_supersteps: int = 200,
    metrics: PregelMetrics | None = None,
    component_col: str = "component",
    **pregel_kwargs,
) -> DataFrame:
    """Min-id label propagation over the edges AS GIVEN (caller symmetrizes
    for undirected semantics, matching the reference's contract). Extra
    keyword arguments pass through to :func:`giraph_spark.pregel.pregel`
    (e.g. ``num_partitions``, ``checkpoint_every``)."""
    return _flood(graph, F.min, component_col, max_supersteps, metrics, **pregel_kwargs)


def wcc(
    graph: Graph,
    max_supersteps: int = 200,
    metrics: PregelMetrics | None = None,
    component_col: str = "component",
    **pregel_kwargs,
) -> DataFrame:
    """Weakly connected components: symmetrize then propagate
    (``prepare_graph/WeaklyConnectedComponents.java``).

    The symmetrized relation is persisted for the duration of the run:
    its dedup is a full shuffle of 2|E| rows, and without the persist
    the kernel would execute it twice (once for the auto-partition edge
    count, once materializing the co-partitioned edge cache) — at 100 TB
    that is a repeated multi-TB shuffle, not a rounding error."""
    from .prepare import symmetrize

    sym = symmetrize(graph)
    with LoopGear(sym.edges.sparkSession, window=False) as gear:
        gear.persist(sym.edges)
        return connected_components(
            sym, max_supersteps, metrics, component_col, **pregel_kwargs
        )


def alternating_star_components(
    graph: Graph,
    max_rounds: int = 50,
    component_col: str = "component",
) -> DataFrame:
    """Connected components by alternating large-star/small-star edge
    rewriting (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — the O(log n)-round alternative to label
    propagation's O(diameter) supersteps. Same result relation as
    :func:`wcc` (``(id, component)``, component = min id); choose this
    strategy for high-diameter graphs (paths/meshes/road networks) where
    label propagation's round count, not per-round cost, dominates.

    Each round is two rewrites of the undirected edge multiset:

    - large-star(u): every neighbor v > u re-attaches to
      m = min(Γ(u) ∪ {u});
    - small-star(u): every neighbor v < u (and u itself) re-attaches to
      m = min of those.

    Both are one groupBy + one co-keyed join over the edge relation —
    partial aggregation bounds fan-in skew map-side exactly as the
    kernel's combiners do. The fixpoint test (edge set unchanged) is one
    aggregate action per round over (count, xxhash64-sum) of the
    canonical edge set — an order-independent set signature, no
    sort/except join. Lineage is truncated per round (localCheckpoint),
    the same plan-growth discipline as the pregel loop.
    """
    id_col, src_col, dst_col = graph.id_col, graph.src_col, graph.dst_col
    # the gear's conf window: AQE off inside the checkpoint-truncated
    # loop, and one data-sized width that every round's groupBys/joins
    # agree on (both restored on exit)
    with LoopGear(graph.vertices.sparkSession) as gear:
        gear.resize(graph.edges.count())
        e = (
            graph.edges.select(
                F.col(src_col).cast("long").alias("u"),
                F.col(dst_col).cast("long").alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        adj = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()

        def signature(edges: DataFrame):
            canon = edges.where(F.col("u") < F.col("v"))
            row = canon.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
            ).collect()[0]
            return row["n"], row["h"]

        prev_sig = None
        converged = False
        for _ in range(max_rounds):
            # large-star: neighbors above the center re-attach to its min
            mins = adj.groupBy("u").agg(
                F.least(F.first("u"), F.min("v")).alias("m")
            )
            big = (
                adj.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .where(F.col("a") != F.col("b"))
                .distinct()
            )
            adj_l = big.select(
                F.col("a").alias("u"), F.col("b").alias("v")
            ).unionByName(big.select(F.col("b").alias("u"), F.col("a").alias("v")))

            # small-star: the center and its below-neighbors re-attach to
            # their min
            smaller = adj_l.where(F.col("v") < F.col("u"))
            mins2 = smaller.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                smaller.join(mins2, "u")
                .where(F.col("v") != F.col("m"))
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .unionByName(
                    mins2.select(F.col("u").alias("a"), F.col("m").alias("b"))
                )
                .distinct()
            )
            # small is distinct with a > b everywhere, so the swapped copies
            # cannot collide with the originals — no further distinct needed
            # fresh_checkpoint: each round joins adj with aggregates OF
            # ITSELF (mins/mins2), the self-derivative shape whose inherited
            # size estimate squares per round (plans/checkpoint.py)
            adj = fresh_checkpoint(
                small.select(F.col("a").alias("u"), F.col("b").alias("v"))
                .unionByName(
                    small.select(F.col("b").alias("u"), F.col("a").alias("v"))
                )
            )
            sig = signature(adj)
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig

    if not converged:
        # the final min-neighbor extraction is only correct on a converged
        # star forest; a silent return here would yield wrong components
        raise RuntimeError(
            f"alternating_star_components: edge-set fixpoint not reached "
            f"within max_rounds={max_rounds}; raise max_rounds (rounds "
            f"needed grow ~log(diameter))"
        )

    # at the fixpoint every non-root's sole neighbor is its component root
    comp = adj.groupBy("u").agg(F.min("v").alias("_c"))
    out = (
        graph.vertices.select(F.col(id_col).cast("long").alias("id"))
        .join(comp, F.col("id") == F.col("u"), "left")
        .select(
            F.col("id"),
            F.least(F.col("id"), F.coalesce(F.col("_c"), F.col("id"))).alias(
                component_col
            ),
        )
    )
    return out


def max_propagation(
    graph: Graph,
    max_supersteps: int = 200,
    metrics: PregelMetrics | None = None,
    out_col: str = "max_value",
    **pregel_kwargs,
) -> DataFrame:
    """Flood-max (``examples/MaxComputation.java:30-33``): every vertex
    converges to the maximum vertex id reachable backwards; on a symmetric
    graph, the max id of its component."""
    return _flood(graph, F.max, out_col, max_supersteps, metrics, **pregel_kwargs)


def min_propagation(
    graph: Graph,
    max_supersteps: int = 200,
    metrics: PregelMetrics | None = None,
    out_col: str = "min_value",
    **pregel_kwargs,
) -> DataFrame:
    """Flood-min — the ``MinimumIntCombiner``-style dual of
    :func:`max_propagation` (``examples/SimpleCombinerComputation.java`` uses
    the minimum combiner the same way); on a symmetric graph, the min id of
    the component (≡ label-propagation connected components,
    ``examples/ConnectedComponentsComputation.java:49``)."""
    return _flood(graph, F.min, out_col, max_supersteps, metrics, **pregel_kwargs)


def k_core(
    graph: Graph,
    k: int = 2,
    max_rounds: int = 50,
) -> DataFrame:
    """The k-core: the maximal subgraph in which every vertex has degree
    ≥ k, by iterative peeling — repeatedly drop vertices of degree < k
    (degrees recomputed within the surviving subgraph) until stable.
    A standard Giraph-deployment algorithm expressed Spark-first as a
    driver loop of semi-joins + one partial-aggregated degree groupBy
    per round, the same relational shape as the prepare passes
    (``remove_isolated_vertices`` is exactly the k=1 special case done
    once). Degree = OUT-degree within the surviving subgraph, edges AS
    GIVEN — on a symmetrized relation that is exactly the undirected
    degree (symmetrize first, as with :func:`connected_components`;
    counting src+dst occurrences instead would double-count there).
    Converges in ≤ peeling-depth rounds; each round's survivor set is
    localCheckpoint-truncated like every other iterative loop in the
    engine. Returns the surviving ``(id,)`` rows.
    """
    return _peel_to_fixpoint(
        graph, "k_core", [], F.count(F.lit(1)), k, max_rounds
    )


def _peel_to_fixpoint(
    graph: Graph,
    name: str,
    edge_cols: list[Column],
    agg: Column,
    bound: float,
    max_rounds: int,
) -> DataFrame:
    """The k-core / s-core peel: repeatedly keep the vertices whose
    ``agg`` over their out-edges within the survivors (``edge_cols``
    carried alongside ``s``, ``d``; 0 for a vertex with none) is ≥
    ``bound``, until the survivor count is stable. Raises if
    ``max_rounds`` is exhausted first."""
    id_col, src_col, dst_col = graph.id_col, graph.src_col, graph.dst_col
    with LoopGear(graph.vertices.sparkSession, window=False) as gear:
        e0 = gear.persist(
            graph.edges.select(
                F.col(src_col).cast("long").alias("s"),
                F.col(dst_col).cast("long").alias("d"),
                *edge_cols,
            )
        )
        remaining = graph.vertices.select(
            F.col(id_col).cast("long").alias("id")
        ).localCheckpoint(eager=True)
        n_prev = remaining.count()
        for _ in range(max_rounds):
            e = e0.join(
                remaining.select(F.col("id").alias("s")), "s", "left_semi"
            ).join(remaining.select(F.col("id").alias("d")), "d", "left_semi")
            per_v = (
                e.select(F.col("s").alias("id"), *e0.columns[2:])
                .groupBy("id")
                .agg(agg.alias("_agg"))
            )
            remaining = (
                remaining.join(per_v, "id", "left")
                .where(F.coalesce(F.col("_agg"), F.lit(0)) >= bound)
                .select("id")
                .localCheckpoint(eager=True)
            )
            n = remaining.count()
            if n == n_prev:
                return remaining
            n_prev = n
    # an un-peeled exit returns a SUPERSET of the core, silently
    raise RuntimeError(
        f"{name}: peeling did not stabilize within max_rounds="
        f"{max_rounds}; raise max_rounds (needed rounds = peeling depth)"
    )


def s_core(
    graph: Graph,
    s: float,
    weight_col: str = "weight",
    max_rounds: int = 50,
) -> DataFrame:
    """The s-core — :func:`k_core`'s weighted generalization (Eidsaa &
    Almaas, "s-core network decomposition", Phys. Rev. E 2013):
    iteratively peel vertices whose within-subgraph STRENGTH (sum of
    incident edge weights, edges AS GIVEN — symmetrize first for the
    undirected notion, as with :func:`k_core`) is < ``s``, strengths
    recomputed over the survivors each round, until stable. The
    cohesion filter for weighted deployment graphs (trade volumes,
    traffic, co-occurrence counts) where unweighted degree saturates.

    Same driver-loop shape and scale notes as :func:`k_core`: one
    partial-aggregated strength groupBy + two semi-joins per round,
    survivor set localCheckpoint-truncated, loud failure on an
    un-stabilized exit (a silent exit would return a SUPERSET of the
    s-core). Returns the surviving ``(id,)`` rows."""
    return _peel_to_fixpoint(
        graph,
        "s_core",
        [F.col(weight_col).cast("double").alias("w")],
        F.sum("w"),
        s,
        max_rounds,
    )


def core_numbers(
    graph: Graph,
    max_supersteps: int = 64,
    metrics=None,
    initial_width: int = 32,
    _width_log: list | None = None,
    **pregel_kwargs,
) -> DataFrame:
    """Full core decomposition ``(id, core)`` — the coreness of every
    vertex (max k such that the vertex survives in the k-core), computed
    with the distributed H-index fixpoint: ``c_0(v) = deg(v)``;
    ``c_{t+1}(v)`` = H-index of the neighbors' ``c_t`` values (the
    largest ``h`` with ≥ h neighbors of value ≥ h). The sequence is
    non-increasing and converges to the coreness (Lü et al., "The
    H-index of a network node and its relation to degree and coreness",
    Nat. Commun. 2016) — the vertex-centric generalization of
    :func:`k_core`'s peeling, one kernel run instead of one peel loop
    per k.

    Hub-safe message shape (exact, not a sketch): the H-index needs only
    the *counts* ``cnt[h] = #{neighbors with estimate ≥ h}`` for ``h``
    up to the receiver's current estimate, never the neighbor multiset
    itself. So each vertex sends its scalar estimate and the message
    COMBINER is a width-``W`` array of algebraic count-above-threshold
    sums (``cnt[h] = Σ (msg ≥ h)``, ``h = 1..W``) — fully map-side
    combinable, so a hub's fan-in collapses to ≤ num_partitions partial
    arrays before the delivery shuffle and the full-degree inbox of the
    reference's per-vertex message iterables
    (``comm/messages/MessageStore.java:35-108``) never materializes
    anywhere. The new estimate is the count of prefix positions with
    ``cnt[h] ≥ h`` (qualification is prefix-closed because ``cnt`` is
    non-increasing in ``h``), truncated at ``W``: exact whenever the
    true H-index ``< W`` or ``W ≥`` the old estimate. A vertex that
    *saturates* (``computed == W < old estimate``) keeps its old value —
    still a sound upper bound, so the fixpoint is untouched — and flags
    the master, which doubles ``W`` (capped at the max live estimate, so
    growth strictly terminates) for the next superstep. ``W`` is
    therefore bounded by ``2·k_max ≤ O(√m)`` (a non-empty k-core needs
    ``m ≥ k(k+1)/2`` edges), independent of max degree: a 10⁸-degree hub
    costs a 10⁸-row *scalar* message relation (pre-aggregated in the
    map), not a multi-GB single inbox row.

    ``initial_width`` is the starting ``W`` (clamped to ≥1); the
    adaptive doubling makes the choice a latency knob, not a
    correctness one. ``_width_log`` (testing hook) receives the ``W``
    used at each delivering superstep.

    Operates on the symmetrized, deduped relation (coreness is an
    undirected notion, as with :func:`k_core`).
    """
    from .prepare import symmetrize

    id_col, src_col, dst_col = graph.id_col, graph.src_col, graph.dst_col
    w0 = max(1, int(initial_width))

    def combine_for(ctx):
        # Width-W algebraic threshold-count combiner: one SUM per h.
        # Partial aggregation is native (hash-aggregate with W sum
        # buffers), so hub fan-in is crushed map-side.
        w = ctx.broadcasts.get("core_w", w0)
        if _width_log is not None:
            _width_log.append(w)

        def cmb(c: Column) -> Column:
            return F.array(
                *[F.sum((c >= F.lit(h)).cast("long")) for h in range(1, w + 1)]
            )

        return cmb

    def update_for(ctx):
        w = ctx.broadcasts.get("core_w", w0)
        # computed = min(true H-index, W): count of prefix positions h
        # (1-based) with cnt[h] >= h. cnt is non-increasing in h, so the
        # qualifying set is a prefix and size(filter(...)) IS the max h.
        computed = F.expr(
            "size(filter(transform(_msg, (c, i) -> c >= i + 1), b -> b))"
        )
        # computed <= true H-index <= old core, so computed == W can
        # only under-report when W < core: keep the (upper-bound) old
        # value and ask the master for a wider window.
        sat = F.col("_has_msg") & (computed == F.lit(w)) & (F.lit(w) < F.col("core"))
        new_core = (
            F.when(~F.col("_has_msg"), F.col("core"))
            .when(sat, F.col("core"))
            .otherwise(computed)
        )
        return {
            "core": new_core,
            "_chg": (sat | (new_core != F.col("core"))).cast("int"),
            "_sat": sat.cast("int"),
        }

    def master(ctx):
        if int(ctx.aggregates.get("saturated") or 0) > 0:
            w = ctx.broadcasts.get("core_w", w0)
            cap = int(ctx.aggregates.get("max_core") or w0)
            # saturation implies w < some live core <= cap, so the new
            # width is strictly larger: doubling terminates at <= cap.
            ctx.broadcasts["core_w"] = min(2 * w, cap)
        if ctx.superstep > 0 and int(ctx.aggregates.get("changes") or 0) == 0:
            ctx.halt()

    sym = symmetrize(graph, dedup=True)
    with LoopGear(graph.vertices.sparkSession, window=False) as gear:
        sym_edges = gear.persist(sym.edges.select(src_col, dst_col))
        deg = sym_edges.groupBy(F.col(src_col).alias(id_col)).agg(
            F.count(F.lit(1)).cast("int").alias("_deg")
        )
        vertices = (
            graph.vertices.select(id_col)
            .join(deg, id_col, "left")
            .select(
                id_col, F.coalesce("_deg", F.lit(0)).cast("int").alias("_deg")
            )
        )
        out = pregel(
            Graph(vertices, sym_edges, id_col, src_col, dst_col),
            initial={
                "core": F.col("_deg"),
                "_chg": F.lit(1).cast("int"),
                "_sat": F.lit(0).cast("int"),
            },
            update=update_for,
            send_msg=F.col("core"),
            combine_fn=combine_for,
            msg_type="array<bigint>",  # the POST-combine inbox type (count array)
            aggregates={
                "changes": F.sum("_chg"),
                "saturated": F.sum("_sat"),
                "max_core": F.max("core"),
            },
            master_fn=master,
            max_supersteps=max_supersteps,
            metrics=metrics,
            **pregel_kwargs,
        )
        return out.select(id_col, F.col("core").cast("long").alias("core"))


def label_propagation_communities(
    graph: Graph,
    rounds: int = 4,
    metrics: PregelMetrics | None = None,
    community_col: str = "community",
    weight_col: str | None = None,
    **pregel_kwargs,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA,
    Raghavan et al., Phys. Rev. E 2007): every vertex starts in its own
    community (label = id) and, each round, adopts the most frequent
    label among its in-neighbors, ties broken toward the smaller label.
    Exactly ``rounds`` synchronous rounds — deterministic by
    construction (synchronous schedule + total tie order), so the result
    is reproducible and SQL-oracle-replayable, unlike the
    asynchronous/randomized formulations. Semantics notes: a vertex with
    no in-neighbors keeps its label; the vertex's own current label gets
    no vote (pure neighbor majority, the original formulation); on
    bipartite regions synchronous LPA can oscillate between two
    labelings — fixed ``rounds`` makes that a defined, replayable
    output, and is the standard practical cutoff (LPA's useful signal
    appears in the first handful of rounds). Undirected semantics =
    symmetrize first, as with :func:`connected_components`.

    The same vertex-centric shape as the reference's label-propagation
    examples (``examples/ConnectedComponentsComputation.java:60-101``
    floods min-id; LPA floods the *majority* label), built on the kernel
    with a two-stage majority reduction replacing the min combiner:

    - stage 1 — per ``(dst, label)`` counts: a hash groupBy whose partial
      aggregation collapses each destination's fan-in map-side (the
      combiner property: a hub's inbox never materializes row-per-edge
      on one task);
    - stage 2 — per-dst argmax via ``max(struct(count, -label))``
      riding the kernel's own delivery groupBy, also partial-aggregated.

    Both stages are plain hash aggregations at the loop width — no
    windows, no sorts, no per-vertex iterables — so the per-round cost
    at 100 TB is two combiner-style shuffles of at most |E| and
    |active dsts| rows.

    ``weight_col``: weighted LPA (Barber & Clark's natural extension —
    each neighbor votes with its edge weight instead of 1). The vote
    sums are rounded to 4 decimals before the argmax so the winner is
    stable under summation order — without it, two labels whose weight
    totals differ only in the last ulp would make the tie-break
    engine-dependent; same shapes and determinism otherwise.
    """
    id_col, src_col, dst_col = graph.id_col, graph.src_col, graph.dst_col

    def majority_messages(computed: DataFrame, edges: DataFrame, ctx) -> DataFrame:
        if ctx.superstep >= rounds:  # final round: adopt only, no wasted send
            return None
        lbl = computed.select(
            F.col(id_col).alias("_vid"), F.col(community_col).alias("_lbl")
        )
        votes = lbl.join(edges, lbl["_vid"] == edges[src_col]).select(
            F.col(dst_col).alias("_dst"),
            F.col("_lbl"),
            *([F.col(weight_col).alias("_w")] if weight_col else []),
        )
        vote = (
            F.round(F.sum("_w"), 4) if weight_col else
            F.count(F.lit(1)).cast("long")
        )
        counts = votes.groupBy("_dst", "_lbl").agg(vote.alias("_c"))
        # message = (count, -label); kernel combine=max then picks the
        # (max count, min label) winner lexicographically
        return counts.select(
            "_dst", F.struct(F.col("_c").alias("c"), (-F.col("_lbl")).alias("neg")).alias("_m")
        )

    # the kernel caches/co-partitions edges only on its send_msg path;
    # a messages_fn receives the raw relation, so persist the projected
    # edges here or every round re-executes their full upstream lineage
    # (e.g. trade_graph's lineitem⋈orders join, rounds+1 times)
    edge_cols = [src_col, dst_col] + ([weight_col] if weight_col else [])
    with LoopGear(graph.vertices.sparkSession, window=False) as gear:
        cached_edges = gear.persist(graph.edges.select(*edge_cols))
        out = pregel(
            Graph(graph.vertices, cached_edges, id_col, src_col, dst_col),
            initial={community_col: F.col(id_col).cast("long")},
            update={
                community_col: F.coalesce(-F.col(MSG)["neg"], F.col(community_col))
            },
            messages_fn=majority_messages,
            combine=F.max,
            msg_type=(
                "struct<c:double,neg:bigint>"
                if weight_col
                else "struct<c:bigint,neg:bigint>"
            ),
            vote_to_halt=F.lit(False),
            max_supersteps=rounds + 1,
            metrics=metrics,
            **pregel_kwargs,
        )
        return out.select(
            id_col, F.col(community_col).cast("long").alias(community_col)
        ).localCheckpoint(eager=True)
