"""Distributed matching — greedy max-weight and randomized bipartite.

References:

* ``giraph-debugger/.../examples/mwm/MWMComputation.java:35`` — approximate
  maximum-weight matching: every unmatched vertex picks its maximum-weight
  live neighbor; if two vertices pick EACH OTHER they are matched and leave
  the graph (their incident edges are removed); repeat. The classic
  locally-dominant-edge ½-approximation (Preis 1999 / Hoepman 2004).
* ``giraph-debugger/.../examples/bipartitematching/
  RandomizedMaximalMatchingComputation.java:33`` — the Pregel paper's
  4-phase randomized maximal bipartite matching: unmatched LEFT vertices
  request all neighbors; each unmatched RIGHT vertex grants ONE request
  (the reference grants "the first message", an arbitrary choice); each
  left vertex accepts ONE grant; the accepted pair is matched.

Determinism: where the reference leaves the choice to message arrival
order (`Math.random`, "first message"), we substitute the deterministic
priority ``md5(id)`` / a total edge order ``(weight DESC, id ASC)`` — the
approximation analysis only needs the choice to be adversary-oblivious,
and a fixed cryptographic hash of distinct ids keeps the run reproducible
across retries, partitionings, and the SQL oracle.

Scale shape: the live edge relation (edges between two still-unmatched
vertices) IS the loop state — checkpointed per round, peeled by
anti-joins against the round's newly-matched DELTA, which go map-side
broadcast once the delta is small (plans/gear.py bcast_if_small; the
delta size is known exactly from the fold count). Per round: one
per-vertex top-1 over LIVE edges (partial-aggregated max/min(struct) —
map-side combinable, no fan-out) + one self-join on the picks relation
(≤ |live vertices| rows); shuffle input is O(live), never O(E), and
the shared gear-down (plans/gear.py) re-fits the shuffle width as the
live set collapses. MWM removes at least the globally top-ranked live
edge every round (its endpoints necessarily pick each other under the
total order), so termination is guaranteed; on random-ish weights
rounds are O(log n) in practice.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpoint import fresh_checkpoint_count
from ..plans.gear import LoopGear


def max_weight_matching(
    graph: Graph,
    max_rounds: int = 100,
    match_col: str = "matched_with",
    stats: dict | None = None,
) -> DataFrame:
    """Greedy ½-approx maximum-weight matching on an undirected weighted
    graph (symmetric edge relation with a ``weight`` column — use
    ``prepare.symmetrize_weighted`` first). Returns ``(id, matched_with)``
    with ``matched_with`` NULL for unmatched vertices; the matched pairs
    always form a valid maximal matching of the live graph.

    Tie-break: a vertex picks the neighbor with the highest weight, then
    the SMALLEST neighbor id — a total order, so the top live edge is
    always locally dominant and every round makes progress
    (MWMComputation.java:96 keeps the first max encountered instead,
    which depends on edge iteration order). ``stats``, if given,
    records ``rounds`` and ``per_round`` rows.
    """
    id_col, src, dst = graph.id_col, graph.src_col, graph.dst_col

    with LoopGear(graph.vertices.sparkSession, stats=stats) as gear:
        state, n_v, _ = fresh_checkpoint_count(
            graph.vertices.select(
                id_col, F.lit(None).cast("long").alias("_mw")
            )
        )
        gear.floor_rows = n_v  # the per-round O(V) state rewrite
        # the live edge relation IS the loop state: edges between two
        # still-unmatched vertices. Each round peels the edges incident
        # to the round's newly matched vertices with anti-joins against
        # that DELTA — map-side broadcasts when the delta is small
        # (known exactly from the fold) — so per-round shuffle input is
        # O(live), never O(E), and no unmatched semi-joins ever rebuild
        # it from scratch
        live, n_live, _ = fresh_checkpoint_count(
            graph.edges.select(
                F.col(src).cast("long").alias(src),
                F.col(dst).cast("long").alias(dst),
                "weight",
            )
        )

        for _ in range(max_rounds):
            if n_live == 0:
                break
            gear.round(n_live)
            # per-vertex top-1 as a partial-aggregated max(struct) — NOT a
            # window (a window sorts every partition; the struct max is
            # map-side combinable). (weight, -dst) descending-lexicographic
            # ≡ ORDER BY weight DESC, dst ASC; ids are nonnegative longs so
            # the negation cannot overflow
            pick = (
                live.groupBy(src)
                .agg(
                    F.max(
                        F.struct(F.col("weight"), (-F.col(dst)).alias("_nd"))
                    ).alias("_m")
                )
                .select(src, (-F.col("_m._nd")).alias(dst))
            )
            mutual = pick.alias("a").join(
                pick.alias("b"),
                (F.col(f"a.{src}") == F.col(f"b.{dst}"))
                & (F.col(f"a.{dst}") == F.col(f"b.{src}")),
                how="left_semi",
            )
            # progress probe rides the state checkpoint: count the rows
            # matched THIS round instead of probing mutual separately
            state, _, n_matched = fresh_checkpoint_count(
                state.join(
                    mutual.select(
                        F.col(src).alias(id_col), F.col(dst).alias("_new")
                    ),
                    on=id_col,
                    how="left",
                ).select(
                    id_col,
                    F.coalesce("_mw", "_new").alias("_mw"),
                    F.col("_new").isNotNull().alias("_just"),
                ),
                flag=F.col("_just"),
            )
            if n_matched == 0:
                # with a SYMMETRIC weight relation the heaviest live edge
                # is always picked from both sides, so an empty mutual set
                # means the precondition is violated (direction-dependent
                # weights can cycle u→v→w→u forever) — fail loudly rather
                # than spin to max_rounds and silently return a
                # non-maximal matching
                raise ValueError(
                    "max_weight_matching made no progress: no mutual pick "
                    "among live edges — is the edge relation symmetric "
                    "with symmetric weights (apply "
                    "prepare.symmetrize_weighted)?"
                )
            # peel edges incident to this round's matched vertices; the
            # delta has exactly n_matched rows — broadcast-gated, both
            # anti-joins go map-side in the collapse tail
            delta = state.where("_just").select(id_col)
            state = state.drop("_just")
            live, n_live, _ = fresh_checkpoint_count(
                gear.peel(live, delta, n_matched, src, dst)
            )
        return state.select(id_col, F.col("_mw").alias(match_col))


def bipartite_matching(
    graph: Graph,
    max_rounds: int = 100,
    match_col: str = "matched_with",
    stats: dict | None = None,
) -> DataFrame:
    """Maximal bipartite matching, the Pregel paper's 4-phase schedule.

    ``graph.edges`` must be oriented LEFT → RIGHT (each ``src`` a left
    vertex, each ``dst`` a right vertex; the reference instead splits one
    id space by parity, RandomizedMaximalMatchingComputation.java:135).
    One round = one reference cycle: every unmatched left vertex requests
    all its neighbors (phase 0); every unmatched right vertex grants the
    requester with the smallest ``md5(id)`` (phase 1 — the reference
    grants the first message received); every left vertex accepts the
    granting right vertex with the smallest ``md5(id)`` (phase 2); the
    accepted pair is matched (phase 3). Repeats until no live edge
    remains, i.e. the matching is maximal. Returns ``(id, matched_with)``
    over left ∪ right vertices, NULL when unmatched. ``stats``, if given,
    records ``rounds`` and ``per_round`` rows.
    """
    id_col, src, dst = graph.id_col, graph.src_col, graph.dst_col

    with LoopGear(graph.vertices.sparkSession, stats=stats) as gear:
        n_v = graph.vertices.count()
        gear.floor_rows = n_v  # the final O(V) label join
        # the live edge relation IS the request set: edges between two
        # still-unmatched vertices, peeled per cycle by anti-joins
        # against the newly-matched delta (see max_weight_matching)
        live, n_live, _ = fresh_checkpoint_count(
            graph.edges.select(
                F.col(src).cast("long").alias(src),
                F.col(dst).cast("long").alias(dst),
            ).dropDuplicates()
        )
        # per-cycle matched deltas, assembled once after the loop (see
        # max_weight_matching — same one-job-per-round shape: the accepted
        # relation materializes as the peel's lazily checkpointed
        # broadcast build side)
        matched: list[DataFrame] = []
        for _ in range(max_rounds):
            if n_live == 0:
                break
            gear.round(n_live)
            # per-key top-1 via partial-aggregated min(struct(md5, id)) — no
            # windows (see max_weight_matching); md5 of distinct ids never
            # ties, the id tiebreak is belt-and-braces; live IS the request
            # set (phase 0)
            grants = (
                live.groupBy(dst)
                .agg(
                    F.min(
                        F.struct(
                            F.md5(F.col(src).cast("string")).alias("_h"),
                            F.col(src).alias("_i"),
                        )
                    ).alias("_m")
                )
                .select(F.col("_m._i").alias(src), dst)
            )
            accepted = (
                grants.groupBy(src)
                .agg(
                    F.min(
                        F.struct(
                            F.md5(F.col(dst).cast("string")).alias("_h"),
                            F.col(dst).alias("_i"),
                        )
                    ).alias("_m")
                )
                .select(src, F.col("_m._i").alias(dst))
            ).localCheckpoint(eager=False)
            matched.append(accepted)
            # every cycle matches ≥ 1 pair while live edges remain (the
            # smallest-hash left vertex's grant is always accepted); peel
            # the matched vertices' edges. The delta is the matched-id set
            # (both endpoints); bound for the broadcast gate: at most one
            # accepted pair per live edge, at most n_v matched ids
            delta = accepted.select(F.col(src).alias(id_col)).unionByName(
                accepted.select(F.col(dst).alias(id_col))
            )
            live, n_live, _ = fresh_checkpoint_count(
                gear.peel(live, delta, min(n_v, 2 * n_live), src, dst)
            )
        # (id, matched_with): one O(V) left join at the end instead of one
        # per cycle. The deltas are disjoint (a matched vertex leaves the
        # live graph), so the join is 1:1; never-matched vertices stay NULL
        ids = graph.vertices.select(id_col)
        if not matched:
            return ids.select(id_col, F.lit(None).cast("long").alias(match_col))
        pairs = reduce(
            DataFrame.unionByName,
            [
                m.unionByName(m.select(F.col(dst).alias(src), F.col(src).alias(dst)))
                for m in matched
            ],
        )
        return ids.join(
            pairs.select(
                F.col(src).cast("long").alias(id_col),
                F.col(dst).cast("long").alias(match_col),
            ),
            on=id_col,
            how="left",
        )
