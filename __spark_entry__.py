"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (weighted PageRank on the sf0.001 trade
graph). ``queries()`` — one entry per implemented operator (SURVEY.md §2);
each callable takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql()`` — DuckDB-runnable ANSI SQL producing identical results on
the same parquet tables; iterative algorithms are expressed as unrolled
fixed-point CTE chains (both sides converge, so fixed K ≥ diameter matches
the Spark side's run-to-convergence).

Column names and rounding are aligned on BOTH sides because the driver's
compare hashes values after sorting columns by name.
"""

from __future__ import annotations

import os
import struct
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark import Graph
from giraph_spark.algos.coarsen import coarsen
from giraph_spark.algos.deadlock import bracha_toueg
from giraph_spark.algos.components import max_propagation, min_propagation, wcc
from giraph_spark.algos.independent_set import maximal_independent_set
from giraph_spark.algos.pagerank import pagerank, random_walk_with_restart
from giraph_spark.algos.scc import scc
from giraph_spark.algos.paths import bfs, sssp
from giraph_spark.algos.prepare import (
    clean_symmetric,
    dedup_edges,
    normalize_weights,
    normalize_weights_global,
    remove_asym_edges,
    symmetrize,
    symmetrize_weighted,
)
from giraph_spark.algos.stats import graph_stats
from giraph_spark.algos.triangles import (
    triangle_closing_topk,
    triangle_count,
    triangles_per_vertex,
)
from giraph_spark.functions.dedup import (
    dedup_corpus,
    exact_duplicates,
    minhash_lsh_pairs,
    near_dup_clusters,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from giraph_spark.functions.similarity import (
    brute_force_topk,
    cosine,
    embedding_near_duplicates,
    ivf_topk,
    lsh_topk,
    quantize_embeddings,
)
from giraph_spark.functions.multimodal import (
    decode_metadata,
    frame_sample_plan,
    media_from_docs,
)
from giraph_spark.functions.text import (
    bpe_token_count,
    chunk_documents,
    fingerprint,
    lang_id,
    quality_features,
    quality_filter,
    token_count,
    token_histogram,
)
from giraph_spark.plans.fixtures import (
    COPURCHASE_GRAPH_SQL,
    EVENTS_CHAIN_SQL,
    NATION_GRAPH_SQL,
    read_events,
    TRADE_GRAPH_DIRECTED_SQL,
    TRADE_GRAPH_SQL,
    events_chain,
    nation_graph,
    trade_graph,
)
from giraph_spark.functions.joins import (
    as_of_join,
    funnel_counts,
    range_join_count,
)
from giraph_spark.streaming.events import sessionize

SSSP_SOURCE = 1  # min customer key in every sf
PR_ITERS = 10
UNROLL_K = 16  # oracle fixed-point unroll depth (≥ graph diameter)
LPA_ROUNDS = 4  # synchronous label-propagation rounds (fixed, deterministic)
BETWEENNESS_PIVOTS = [1, 2, 3]  # customer keys present at every sf
EV_ITERS = 8  # eigenvector power-iteration rounds (fixed, deterministic)
BETWEENNESS_K = 10  # oracle BFS unroll depth (> trade-graph diameter)


# ---------------------------------------------------------------- entry --


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: weighted PageRank over the sf0.001 trade graph."""
    g = trade_graph(spark, "/root/testdata/sf0.001")
    n = g.vertices.count()
    # ranks normalized to mean 1 (×N): keeps float noise ≪ the rounding
    # increment so the driver's value-hash compare is stable
    return pagerank(g, iterations=PR_ITERS, weighted=True).select(
        "id", F.round(F.col("rank") * n, 6).alias("rank")
    )


# ------------------------------------------------------- spark queries --


def _q_pagerank(weighted: bool, dangling: bool):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        g = trade_graph(spark, sf_dir)
        n = g.vertices.count()
        out = pagerank(g, iterations=PR_ITERS, weighted=weighted, dangling=dangling)
        return out.select(
            F.col("id").cast("long").alias("id"),
            F.round(F.col("rank") * n, 6).alias("rank"),
        )

    return q


def _q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = trade_graph(spark, sf_dir)
    out = sssp(g, source=SSSP_SOURCE, max_supersteps=50)
    return out.where(F.col("distance") < float("inf")).select(
        F.col("id").cast("long").alias("id"),
        F.round("distance", 2).alias("distance"),
    )


def _q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = trade_graph(spark, sf_dir)
    out = bfs(g, source=SSSP_SOURCE, max_supersteps=50)
    return out.where(F.col("level") >= 0).select(
        F.col("id").cast("long").alias("id"), F.col("level").cast("long").alias("level")
    )


CHAIN_DEPTH = 12  # bounded chain-BFS depth (= oracle unroll)


def _q_sssp_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSSP with shortest-path-tree predecessors (lowest-id tie wins);
    unreachable vertices excluded like the sssp key."""
    from giraph_spark.algos.paths import sssp_with_paths

    g = trade_graph(spark, sf_dir)
    out = sssp_with_paths(g, source=SSSP_SOURCE)
    return out.where(F.col("distance") < float("inf")).select(
        F.col("id").cast("long").alias("id"),
        F.round("distance", 2).alias("distance"),
        F.col("pred").cast("long").alias("pred"),
    )


def _q_bfs_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the per-user event-succession chains (long-path
    graph shape, unlike the dense bipartite trade graph): sources = each
    user's first event; levels capped at CHAIN_DEPTH to bound the oracle
    unroll."""
    from pyspark.sql import Window

    g = events_chain(spark, sf_dir)
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    roots = (
        ev.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            F.col("event_id").cast("long").alias("id"),
            F.lit(True).alias("is_root"),
        )
    )
    v = g.vertices.join(roots, "id", "left").withColumn(
        "is_root", F.coalesce("is_root", F.lit(False))
    )
    # levels are monotone-final once assigned, and the output keeps only
    # ≤ CHAIN_DEPTH — halting right past that depth is exact and avoids
    # running the full ~|chain| supersteps. The halt is the master's: a
    # run that reaches max_supersteps with its frontier in flight raises.
    def halt_past_depth(ctx):
        if ctx.superstep > CHAIN_DEPTH:
            ctx.halt()

    out = bfs(Graph(v, g.edges), source=F.col("is_root"), master_fn=halt_past_depth)
    return out.where(
        (F.col("level") >= 0) & (F.col("level") <= CHAIN_DEPTH)
    ).select(
        F.col("id").cast("long").alias("id"),
        F.col("level").cast("long").alias("level"),
    )


def _q_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = trade_graph(spark, sf_dir)  # already symmetric; wcc re-symmetrizes
    out = wcc(g, max_supersteps=50)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"),
    )


def _q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-core of the symmetrized trade graph: iterative peeling keeps
    1027 of 1600 vertices at sf0.01 (non-trivial multi-round peel)."""
    from giraph_spark.algos.components import k_core

    g = symmetrize(trade_graph(spark, sf_dir, directed=True))
    return k_core(g, k=30).select(F.col("id").cast("long").alias("id"))


def _q_s_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.5M-strength s-core of the undirected weighted trade graph
    (Eidsaa & Almaas weighted peeling): vertices whose within-subgraph
    trade volume stays >= 2.5M."""
    from giraph_spark.algos.components import s_core

    g = trade_graph(spark, sf_dir)  # undirected: both orientations, weighted
    return s_core(g, s=2_500_000.0).select(
        F.col("id").cast("long").alias("id")
    )


def _q_wcc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same component relation as ``wcc`` via alternating large-star/
    small-star edge rewriting (SoCC 2014) — the O(log n)-round strategy
    for high-diameter graphs; oracle shared with ``wcc``."""
    from giraph_spark.algos.components import alternating_star_components

    g = trade_graph(spark, sf_dir)
    out = alternating_star_components(g)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"),
    )


def _q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-hop walks from seed customers 1-3 (DeepWalk
    sentence corpus; min-hash next-hop choice replayed by the oracle)."""
    from giraph_spark.algos.sample import random_walks

    g = trade_graph(spark, sf_dir)
    seeds = g.vertices.where(F.col("id").isin([1, 2, 3]))
    return random_walks(g, seeds, length=4).select(
        F.col("walk_id").cast("long").alias("walk_id"),
        "step",
        F.col("id").cast("long").alias("id"),
    )


def _q_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 Jaccard link predictions per vertex on the co-purchase
    projection (common neighbors normalized by neighborhood union)."""
    from giraph_spark.algos.triangles import jaccard_link_prediction
    from giraph_spark.plans.fixtures import copurchase_graph

    g = copurchase_graph(spark, sf_dir)
    return jaccard_link_prediction(g, k=5).select(
        F.col("id").cast("long").alias("id"),
        F.col("candidate").cast("long").alias("candidate"),
        "common_neighbors",
        "jaccard",
        "rnk",
    )


def _q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 Adamic–Adar link predictions per vertex on the co-purchase
    projection (common neighbors weighted 1/ln(midpoint degree))."""
    from giraph_spark.algos.triangles import adamic_adar_link_prediction
    from giraph_spark.plans.fixtures import copurchase_graph

    g = copurchase_graph(spark, sf_dir)
    return adamic_adar_link_prediction(g, k=5).select(
        F.col("id").cast("long").alias("id"),
        F.col("candidate").cast("long").alias("candidate"),
        "common_neighbors",
        "adamic_adar",
        "rnk",
    )


def _q_ego_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-1 ego networks of suppliers 1-2 on the co-purchase
    projection: the exact induced edge set of the neighborhood ball.
    The fixture stores each undirected edge once (src<dst), so the
    graph is symmetrized first — the ball is the undirected
    neighborhood, not a directed out-ball (matching the sibling
    copurchase keys jaccard_link_prediction / k_truss)."""
    from giraph_spark.algos.prepare import symmetrize
    from giraph_spark.algos.sample import ego_subgraph
    from giraph_spark.plans.fixtures import copurchase_graph

    g = symmetrize(copurchase_graph(spark, sf_dir), dedup=True)
    seeds = g.vertices.where(F.col("id").isin([1, 2]))
    return ego_subgraph(g, seeds, radius=1).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )


def _q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-truss of the hash-sparsified supplier co-purchase graph: edge
    peeling by within-subgraph triangle support to the fixpoint."""
    from giraph_spark.algos.triangles import k_truss
    from giraph_spark.plans.fixtures import copurchase_graph

    g = copurchase_graph(spark, sf_dir)
    return k_truss(g, k=6).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        "support",
    )


def _q_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop GraphSAGE-style neighbor sampling (fanout 5,5) from seed
    customers 1-3 — md5-hash-ranked, so the minibatch subgraph is
    byte-identical across engines."""
    from giraph_spark.algos.sample import neighbor_sample

    g = trade_graph(spark, sf_dir)
    seeds = g.vertices.where(F.col("id").isin([1, 2, 3]))
    return neighbor_sample(g, seeds, fanouts=[5, 5]).select(
        "hop",
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )


def _q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity over the symmetric trade graph
    (bipartite customer-supplier structure: strongly disassortative)."""
    from giraph_spark.algos.stats import degree_assortativity

    return degree_assortativity(trade_graph(spark, sf_dir))


def _q_sparsify_top_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN-style sparsification of the trade graph: each vertex keeps
    its 3 heaviest edges (sharded two-phase exact top-k, n_shards=4 —
    equality with the unsharded oracle rank proves the pigeonhole
    pre-filter exact, the cap_per_domain pattern on edges)."""
    from giraph_spark.algos.prepare import sparsify_top_edges

    g = trade_graph(spark, sf_dir)
    return sparsify_top_edges(g, k=3, n_shards=4).edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        "weight",
    )


def _q_lpa_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted synchronous LPA over the trade graph — each neighbor
    votes with its trade volume; vote sums rounded to 4 decimals so the
    argmax is summation-order-stable across engines."""
    from giraph_spark.algos.components import label_propagation_communities

    g = trade_graph(spark, sf_dir)
    out = label_propagation_communities(
        g, rounds=LPA_ROUNDS, weight_col="weight"
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("community").cast("long").alias("community"),
    )


def _q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the directed nation graph (mutual trade
    relationships; dense with cycles, so the ratio is non-trivial)."""
    from giraph_spark.algos.stats import reciprocity

    return reciprocity(nation_graph(spark, sf_dir))


def _q_nation_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical (Newman 2003) assortativity of the trade graph by
    NATION: do customers trade with suppliers of their own nation?"""
    from giraph_spark.algos.stats import attribute_assortativity

    g = trade_graph(spark, sf_dir)
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    attrs = customer.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_nationkey").cast("long").alias("nation"),
    ).unionByName(
        supplier.select(
            (F.col("s_suppkey") + F.lit(1_000_000_000)).cast("long").alias("id"),
            F.col("s_nationkey").cast("long").alias("nation"),
        )
    )
    return attribute_assortativity(g, attrs, "nation")


def _q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card column profile of the event log (algebraic stats only —
    the 100 TB-safe monitoring block; no percentile buffers)."""
    from giraph_spark.functions.profile import profile_columns

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return profile_columns(ev, ["value", "user_id", "event_id"])


def _q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the event log: users cohorted by
    first-event week, distinct actives per week offset."""
    from giraph_spark.functions.joins import retention_cohorts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_cohorts(ev).select(
        F.col("cohort").cast("string").alias("cohort"),
        "period_offset",
        "n_users",
    )


def _q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity of the LPA assignment — the engine scoring its own
    clustering (ann_recall's pattern for communities)."""
    from giraph_spark.algos.components import label_propagation_communities
    from giraph_spark.algos.stats import modularity

    g = trade_graph(spark, sf_dir)
    comm = label_propagation_communities(g, rounds=LPA_ROUNDS)
    return modularity(g, comm)


def _q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-exact Brandes betweenness (pivots = customers 1,2,3) on the
    symmetric trade graph: two kernel runs (σ-counting BFS forward,
    level-gated dependency sweep backward), arrays over pivots."""
    from giraph_spark.algos.paths import betweenness_centrality

    g = trade_graph(spark, sf_dir)
    return betweenness_centrality(g, pivots=BETWEENNESS_PIVOTS).select(
        F.col("id").cast("long").alias("id"), "betweenness"
    )


def _q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 synchronous LPA rounds on the (already symmetric) trade graph —
    deterministic majority adoption with (max count, min label) ties."""
    from giraph_spark.algos.components import label_propagation_communities

    g = trade_graph(spark, sf_dir)
    return label_propagation_communities(g, rounds=LPA_ROUNDS).select(
        F.col("id").cast("long").alias("id"),
        F.col("community").cast("long").alias("community"),
    )


def _q_max_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = trade_graph(spark, sf_dir)
    out = max_propagation(g, max_supersteps=50)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("max_value").cast("long").alias("max_value"),
    )


def _q_min_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = trade_graph(spark, sf_dir)
    out = min_propagation(g, max_supersteps=50)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("min_value").cast("long").alias("min_value"),
    )


def _q_clean_symmetric(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = clean_symmetric(nation_graph(spark, sf_dir))
    return g.vertices.select(F.col("id").cast("long").alias("id")).join(
        g.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("degree")
        ),
        "id",
        "left",
    ).select("id", F.coalesce("degree", F.lit(0)).cast("long").alias("degree"))


def _q_normalize_weights_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = normalize_weights_global(trade_graph(spark, sf_dir, directed=True))
    return g.edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.round("weight", 7).alias("weight"),
    )


def _q_out_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = trade_graph(spark, sf_dir, directed=True)
    d = g.out_degrees()
    return d.select(
        F.col("id").cast("long").alias("id"),
        F.col("out_degree").cast("long").alias("out_degree"),
    )


def _q_in_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = trade_graph(spark, sf_dir, directed=True)
    d = g.in_degrees()
    return d.select(
        F.col("id").cast("long").alias("id"),
        F.col("in_degree").cast("long").alias("in_degree"),
    )


def _q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_stats(trade_graph(spark, sf_dir, directed=True))


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_count(nation_graph(spark, sf_dir))


def _q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangles_per_vertex(nation_graph(spark, sf_dir)).select(
        F.col("id").cast("long").alias("id"), "triangles"
    )


def _q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-set harmonic centrality over the trade graph: ONE
    multi-source BFS kernel run with array-of-distances state and the
    element-wise-min vector combiner."""
    from giraph_spark.algos.paths import harmonic_centrality

    return harmonic_centrality(
        trade_graph(spark, sf_dir), [1, 2, 3, 4]
    ).select(F.col("id").cast("long").alias("id"), "harmonic")


def _q_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-normalized power iteration (8 fixed rounds, per-round rounding
    for oracle replay) on the symmetric trade graph."""
    from giraph_spark.algos.pagerank import eigenvector_centrality

    return eigenvector_centrality(
        trade_graph(spark, sf_dir), iterations=EV_ITERS
    ).select(F.col("id").cast("long").alias("id"), "eigenvector")


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the DIRECTED trade graph (customers are pure hubs,
    suppliers pure authorities); 8 alternating max-normalized rounds."""
    from giraph_spark.algos.pagerank import hits

    return hits(trade_graph(spark, sf_dir, directed=True), iterations=EV_ITERS).select(
        F.col("id").cast("long").alias("id"), "hub", "authority"
    )


def _q_diameter_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diameter lower bound from the pivot-BFS eccentricities (one
    multi-source kernel run, pivots = customers 1-4)."""
    from giraph_spark.algos.stats import diameter_estimate

    return diameter_estimate(trade_graph(spark, sf_dir), [1, 2, 3, 4])


def _q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-restricted closeness (reached-normalized) — shares the
    single multi-source-BFS kernel run with harmonic_centrality."""
    from giraph_spark.algos.paths import closeness_centrality

    return closeness_centrality(
        trade_graph(spark, sf_dir), [1, 2, 3, 4]
    ).select(F.col("id").cast("long").alias("id"), "closeness")


def _q_core_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition via the distributed H-index fixpoint (one
    kernel run; collect_list inbox + pure array H-index expression) over
    the symmetrized nation graph."""
    from giraph_spark.algos.components import core_numbers

    return core_numbers(nation_graph(spark, sf_dir)).select(
        F.col("id").cast("long").alias("id"), "core"
    )


def _q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient 2T/(d(d-1)) per vertex over the
    symmetrized nation graph — the density query the reference's triangle
    machinery serves."""
    from giraph_spark.algos.stats import clustering_coefficient

    return clustering_coefficient(nation_graph(spark, sf_dir)).select(
        F.col("id").cast("long").alias("id"),
        "degree",
        "triangles",
        "clustering_coefficient",
    )


def _q_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean out-degree of out-neighbors per vertex (assortativity
    building block) over the directed trade graph."""
    from giraph_spark.algos.stats import avg_neighbor_degree

    return avg_neighbor_degree(trade_graph(spark, sf_dir, directed=True)).select(
        F.col("id").cast("long").alias("id"), "avg_neighbor_degree"
    )


def _q_triangle_closing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle closing on the event-chain graph: unlike the dense nation
    graph (where every 2-hop pair is already adjacent and the result was
    vacuously empty), chains guarantee non-adjacent 2-hop pairs (each
    interior vertex recommends its grandparent/grandchild), so the oracle
    checks real output."""
    return triangle_closing_topk(events_chain(spark, sf_dir), k=5).select(
        F.col("id").cast("long").alias("id"),
        F.col("candidate").cast("long").alias("candidate"),
        "common_neighbors",
        "rnk",
    )


def _q_symmetrize(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = symmetrize(nation_graph(spark, sf_dir))
    return g.edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )


def _q_remove_asym(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = remove_asym_edges(nation_graph(spark, sf_dir))
    return g.edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )


def _sym_check_row(g, name: str) -> DataFrame:
    """One-row symmetry summary (is_symmetric as data, PrepareGraphPieces
    .java:412): count of edges whose reverse is absent, via one anti-join."""
    fwd = g.edges.select("src", "dst").dropDuplicates()
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    asym = fwd.join(rev, ["src", "dst"], "left_anti")
    return asym.agg(
        F.lit(name).alias("graph"),
        F.count(F.lit(1)).cast("long").alias("n_asym_edges"),
        (F.count(F.lit(1)) == 0).alias("symmetric"),
    )


def _q_symmetry_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = trade_graph(spark, sf_dir, directed=True)
    return _sym_check_row(g, "trade_directed").unionByName(
        _sym_check_row(symmetrize(g), "trade_symmetrized")
    )


def _q_symmetrize_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = symmetrize_weighted(trade_graph(spark, sf_dir, directed=True))
    return g.edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.round("weight", 2).alias("weight"),
    )


def _q_normalize_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = normalize_weights(dedup_edges(trade_graph(spark, sf_dir, directed=True)))
    return g.edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.round("weight", 7).alias("weight"),
    )


def _q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scc(nation_graph(spark, sf_dir)).select(
        F.col("id").cast("long").alias("id"), F.col("scc").cast("long").alias("scc")
    )


def _q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = symmetrize(nation_graph(spark, sf_dir))
    return maximal_independent_set(g).select(
        F.col("id").cast("long").alias("id"), "in_set"
    )


def _q_graph_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy graph coloring (Jones–Plassmann with fixed md5 priorities)
    on the symmetrized events-chain graph — identical to the reference's
    iterated-MIS coloring (GraphColoringComputation.java) under fixed
    priorities; the sparse chain keeps the wave count logarithmic."""
    from giraph_spark.algos.coloring import graph_coloring

    g = symmetrize(events_chain(spark, sf_dir))
    return graph_coloring(g).select(
        F.col("id").cast("long").alias("id"),
        F.col("color").cast("long").alias("color"),
    )


def _q_max_weight_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy ½-approx max-weight matching (MWMComputation.java) on the
    symmetrized weighted trade graph."""
    from giraph_spark.algos.matching import max_weight_matching

    g = symmetrize_weighted(trade_graph(spark, sf_dir, directed=True))
    return max_weight_matching(g).select(
        F.col("id").cast("long").alias("id"),
        F.col("matched_with").cast("long").alias("matched_with"),
    )


def _q_bipartite_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-phase randomized maximal bipartite matching
    (RandomizedMaximalMatchingComputation.java) on the naturally
    bipartite customer→supplier trade relation."""
    from giraph_spark.algos.matching import bipartite_matching

    g = trade_graph(spark, sf_dir, directed=True)
    return bipartite_matching(g).select(
        F.col("id").cast("long").alias("id"),
        F.col("matched_with").cast("long").alias("matched_with"),
    )


def _q_partition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition balance + edge-cut statistics of an 8-way hash
    partitioning of the directed trade graph (PartitionStats.java
    counters computed relationally, portable-hash mode so the oracle
    replays every bucket)."""
    from giraph_spark.partitioning import partition_quality

    g = trade_graph(spark, sf_dir, directed=True)
    return partition_quality(g, 8, portable=True).select(
        F.col("partition").cast("long").alias("part_id"),
        "n_vertices",
        "n_edges",
        "n_cut_edges",
    )


def _q_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM segmentation features off the raw event log —
    monetary restricted to purchase events, recency anchored to the
    corpus's own last event (reproducible, no wall clock)."""
    from giraph_spark.functions.joins import rfm_features

    ev = read_events(spark, sf_dir)
    return rfm_features(ev, value_event_type="purchase")


def _q_multilevel_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level METIS-style coarsening (heavy-edge matching →
    contract, twice) on the symmetrized weighted trade graph — returns
    every original vertex's final super-vertex."""
    from giraph_spark.algos.coarsen import multilevel_coarsen

    g = symmetrize_weighted(trade_graph(spark, sf_dir, directed=True))
    member, _ = multilevel_coarsen(g, levels=2)
    return member.select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster").cast("long").alias("cluster"),
    )


def _q_threshold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve for an entropy-based quality cutoff: score
    = per-doc Shannon word entropy, reference label = the Gopher/C4
    quality gate, fixed [0, 6) grid in 24 bins — the calibration pass a
    pipeline runs before freezing a threshold."""
    from giraph_spark.functions.profile import threshold_metrics
    from giraph_spark.functions.text import quality_filter, word_entropy

    d = _docs(spark, sf_dir).select("doc_id", "text")
    scored = word_entropy(d).select("doc_id", "entropy")
    labeled = quality_filter(d).select("doc_id", "passed")
    joined = scored.join(labeled, "doc_id")
    return threshold_metrics(
        joined, "entropy", "passed", lo=0.0, hi=6.0, n_bins=24
    )


def _q_min_spanning_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest of the (canonicalized) directed
    trade graph — unique under the (weight, u, v) total order, so the
    full forest edge set is oracle-replayed."""
    from giraph_spark.algos.mst import minimum_spanning_forest

    g = trade_graph(spark, sf_dir, directed=True)
    return minimum_spanning_forest(g).select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        F.round(F.col("weight"), 2).alias("weight"),
    )


def _q_generated_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram of both synthetic generators (PseudoRandom
    uniform n×d and Watts–Strogatz ring-rewire) — the generators'
    hashed randomness is partitioning-invariant and md5-replayable, so
    the whole generation is under the oracle gate (sf_dir unused: the
    fixture IS the generator)."""
    from giraph_spark.sources.generators import (
        uniform_random_graph,
        watts_strogatz_graph,
    )

    parts = []
    for name, g in (
        ("uniform", uniform_random_graph(spark, 2000, 4, seed=7)),
        ("watts_strogatz", watts_strogatz_graph(spark, 2000, 4, 0.2, seed=7)),
    ):
        deg = g.edges.groupBy("dst").agg(F.count(F.lit(1)).alias("_d"))
        per_v = g.vertices.join(
            deg, g.vertices["id"] == deg["dst"], "left"
        ).select(F.coalesce("_d", F.lit(0)).cast("long").alias("in_degree"))
        parts.append(
            per_v.groupBy("in_degree")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
            .select(F.lit(name).alias("generator"), "in_degree", "n_vertices")
        )
    return parts[0].unionByName(parts[1])


def _q_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon word entropy (nats) — the scale-free
    information-density quality signal."""
    from giraph_spark.functions.text import word_entropy

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return word_entropy(d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "n_distinct",
        "entropy",
    )


def _q_ppr_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch personalized PageRank (one independent teleporting walk per
    seed customer, single kernel run with array state); long-form
    (id, source, rank)."""
    from giraph_spark.algos.pagerank import personalized_pagerank_batch

    g = trade_graph(spark, sf_dir)
    out = personalized_pagerank_batch(
        g, sources=[1, 2, 3], iterations=PR_ITERS
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("source").cast("long").alias("source"),
        F.round("rank", 6).alias("rank"),
    )


def _q_rwr(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = trade_graph(spark, sf_dir)
    out = random_walk_with_restart(g, sources=[SSSP_SOURCE], iterations=PR_ITERS)
    return out.select(
        F.col("id").cast("long").alias("id"), F.round("rank", 6).alias("rank")
    )


def _q_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = nation_graph(spark, sf_dir)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    mapping = nation.select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.col("n_regionkey").cast("long").alias("cluster"),
    )
    c = coarsen(g, mapping, weight_col=None)
    return c.edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )


def _q_deadlock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bracha-Toueg on a wait-for DAG: nation edges restricted to src<dst,
    request-group tag = dst % 2 (N-out-of-M semantics), initiator 0."""
    g = nation_graph(spark, sf_dir)
    edges = g.edges.where(F.col("src") < F.col("dst")).withColumn(
        "tag", F.col("dst") % 2
    )
    return bracha_toueg(Graph(g.vertices, edges), initiator=0).select(
        F.col("id").cast("long").alias("id"), "is_free"
    )


# ---------------------------------------------- pipeline (M7) queries --


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents ∪ a perturbed re-render of every 20th
    document (whitespace padding + punctuation noise, new ids). The fixture
    corpus has no byte-identical duplicates, so without the injected copies
    this query returned 0 rows and proved nothing; the perturbed copies
    normalize to the same canonical text, so the md5-groupBy must find
    exactly them — exercising the normalization rules end-to-end."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    perturbed = d.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" !! ")).alias("text"),
    )
    return exact_duplicates(d.unionByName(perturbed)).select(
        "hash", "n_docs", F.col("keep_id").cast("long").alias("keep_id")
    )


def _q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end cleaning disposition over documents ∪ the perturbed
    re-renders (same augmentation as exact_duplicates, so the dedup
    stage has real work): quality gate → exact dedup among passers →
    train/val split for keepers. One row per input doc: what happened
    to it and where it landed."""
    from giraph_spark.functions.pipeline import clean_corpus

    d = _docs(spark, sf_dir).select("doc_id", "text")
    perturbed = d.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" !! ")).alias("text"),
    )
    return clean_corpus(d.unionByName(perturbed)).select(
        F.col("doc_id").cast("long").alias("doc_id"), "status", "split"
    )


def _q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus deduplication — the relation a pipeline actually
    materializes: exact-dup removal (planted perturbed copies, as
    ``exact_duplicates``) followed by near-dup cluster removal (portable
    MinHash-LSH + WCC keepers). Returns the surviving doc ids."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    perturbed = d.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" !! ")).alias("text"),
    )
    out = dedup_corpus(d.unionByName(perturbed), portable=True)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment disposition: a new batch (planted exact copies,
    near copies with appended tokens, and genuinely fresh md5-derived
    documents) deduped against the existing corpus — exact md5 tier +
    cross-relation MinHash-LSH near tier, both oracle-replayed."""
    from giraph_spark.functions.dedup import incremental_dedup

    d = _docs(spark, sf_dir).select("doc_id", "text")
    newb = (
        d.where(F.col("doc_id") % 11 == 0)
        .select(
            (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
            F.upper(F.col("text")).alias("text"),
        )
        .unionByName(
            d.where((F.col("doc_id") % 9 == 0) & (F.col("doc_id") % 11 != 0))
            .select(
                (F.col("doc_id") + F.lit(30_000_000)).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" extra appended reviewer tokens")
                ).alias("text"),
            )
        )
        .unionByName(
            d.where(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + F.lit(40_000_000)).alias("doc_id"),
                F.concat(
                    F.lit("zz "),
                    F.md5(F.col("doc_id").cast("string")),
                    F.lit(" "),
                    F.md5((F.col("doc_id") + 1).cast("string")),
                ).alias("text"),
            )
        )
    )
    return incremental_dedup(newb, d, portable=True).select(
        F.col("doc_id").cast("long").alias("doc_id"), "status", "dup_of"
    )


def _q_dedup_corpus_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_corpus with the best-duplicate keeper policy: keeper =
    longest text (ties -> lowest id) in both the exact and near stages.
    The planted copies are longer than their originals, so the keeper
    set provably differs from the lowest-id variant — the oracle
    replays the argmax via an integer (score, -id) encoding."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    perturbed = d.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" !! ")).alias("text"),
    )
    corpus = d.unionByName(perturbed)
    scores = corpus.select(
        "doc_id", F.length("text").cast("long").alias("score")
    )
    out = dedup_corpus(corpus, portable=True, keep_scores=scores)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def _q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the events stream: users whose
    earliest view is followed by a click within 1h, then a purchase
    within 1h of that click. Per-step sequential min-aggregation — one
    user-keyed groupBy per step, no window over the stream, no
    inequality join."""
    ev = read_events(spark, sf_dir)
    return funnel_counts(
        ev, ["view", "click", "purchase"], within="1 hour"
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=5, threshold=0.5
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable md5-derived hashing: the oracle replicates the identical
    # signatures, banding, bucket cap, and estimate — full equality check
    return minhash_lsh_pairs(
        _docs(spark, sf_dir),
        k=5,
        num_hashes=64,
        bands=16,
        verify_threshold=0.5,
        portable=True,
    )


def _q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-tier) benchmark decontamination: every 41st doc is
    the benchmark; perturbed re-renders of the benchmark are planted in
    the corpus (whitespace + punctuation noise, exact_duplicates'
    augmentation) so the cross-relation LSH must recover exactly them —
    plus any organic near-benchmark docs."""
    from giraph_spark.functions.dedup import fuzzy_decontaminate

    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = d.where(F.col("doc_id") % 41 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    perturbed = bench.select(
        (F.col("bench_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" !! ")).alias("text"),
    )
    corpus = d.unionByName(perturbed)
    return fuzzy_decontaminate(corpus, bench, portable=True).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("bench_id").cast("long").alias("bench_id"),
        "est_jaccard",
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable 60-bit md5-derived fingerprints; pigeonhole blocking is
    # lossless for max_hamming=3, so output == brute-force ≤3 pair set
    # and the oracle checks it exactly
    return simhash_near_pairs(
        _docs(spark, sf_dir), k=5, max_hamming=3, bits=60, portable=True
    )


def _q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition: MinHash-LSH candidate pairs piped into the
    engine's own WCC pregel kernel to form transitive near-dup groups —
    the dedup stack and the graph kernel in one query, fully
    oracle-replayed (portable hashing + SQL transitive closure)."""
    return near_dup_clusters(
        _docs(spark, sf_dir),
        k=5,
        num_hashes=64,
        bands=16,
        verify_threshold=0.5,
        portable=True,
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(_docs(spark, sf_dir)).withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard quality gate (Gopher/C4-style rule set) — the pipeline's
    filtering stage; one map-side pass, no shuffle."""
    return quality_filter(_docs(spark, sf_dir)).withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: 64-token chunks with 16-token overlap."""
    return chunk_documents(
        _docs(spark, sf_dir), max_tokens=64, overlap=16
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "chunk_idx",
        "n_chunk_tokens",
        "chunk_text",
    )


def _q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-shape stat: docs per 50-token bucket."""
    return token_histogram(_docs(spark, sf_dir), bucket=50)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang_pred", "marker_hits"
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"), "fingerprint"
    )


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus accounting: docs, tokens, chars."""
    from giraph_spark.functions.text import corpus_stats

    return corpus_stats(_docs(spark, sf_dir))


def _q_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals (word / 2-gram / top-word)."""
    from giraph_spark.functions.text import repetition_features

    return repetition_features(_docs(spark, sf_dir)).withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )


def _q_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministic contact strings injected
    into every 17th doc (the fixture corpus contains no emails/URLs/number
    runs, so without injection this query would prove nothing)."""
    from giraph_spark.functions.text import scrub_text

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com see https://site"),
                F.col("doc_id").cast("string"),
                F.lit(".example/path ref 1234567890"),
            ),
        ).otherwise(F.col("text")),
    )
    return scrub_text(d).select(
        F.col("doc_id").cast("long").alias("doc_id"), "scrubbed", "n_redactions"
    )


def _q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split (10% val) — zero-shuffle projection; the
    md5-of-id decision is replayed bit-for-bit by the SQL oracle."""
    from giraph_spark.functions.sampling import train_val_split

    d = _docs(spark, sf_dir)
    return train_val_split(d, val_fraction=0.1).select(
        F.col("doc_id").cast("long").alias("doc_id"), "split"
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 20%-per-source sample: rank-by-id-hash within each stratum."""
    from giraph_spark.functions.sampling import stratified_sample

    d = _docs(spark, sf_dir)
    return stratified_sample(d, strata_col="source", fraction=0.2).select(
        F.col("doc_id").cast("long").alias("doc_id"), "stratum"
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 41st document plays the eval set;
    flag corpus docs sharing any word-8-gram with it (the benchmark
    members flag themselves — they ARE contamination if left in)."""
    from giraph_spark.functions.sampling import decontaminate

    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % 41 == 0)
    return decontaminate(d, bench, n=8).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_hits", "contaminated"
    )


def _q_duplicate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document repeated 8-grams over documents ∪ perturbed
    re-renders of every 20th doc (the planted copies guarantee shared
    n-grams; the fixture corpus alone is near-collision-free word soup)."""
    from giraph_spark.functions.sampling import duplicate_ngrams

    d = _docs(spark, sf_dir).select("doc_id", "text")
    perturbed = d.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" !! ")).alias("text"),
    )
    # scalar projection for the driver compare (array columns hash
    # differently across engines); the operator's doc_ids list is
    # exercised in pytest
    return duplicate_ngrams(d.unionByName(perturbed), n=8).select(
        "gram",
        "n_docs",
        F.element_at("doc_ids", 1).cast("long").alias("first_doc_id"),
    )


def _q_scrub_duplicate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring scrub over documents ∪ perturbed re-renders of
    every 20th doc: the planted pairs share their full normalized token
    span, so both copies lose exactly the shared tokens while every
    other document passes through untouched."""
    from giraph_spark.functions.sampling import scrub_duplicate_ngrams

    d = _docs(spark, sf_dir).select("doc_id", "text")
    perturbed = d.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" !! ")).alias("text"),
    )
    return scrub_duplicate_ngrams(d.unionByName(perturbed), n=8).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "clean_text",
        "n_kept",
        "n_removed",
    )


def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (tf · ln(N/df), ties → smaller
    term) — two partial-agg groupBys + a per-doc window, IDF table stays
    distributed."""
    from giraph_spark.functions.text import tfidf_top_terms

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return tfidf_top_terms(d, k=3).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        "tf",
        "score",
        "rnk",
    )


def _q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's own
    unigram LM — the model-free fluency/outlier score."""
    from giraph_spark.functions.text import unigram_logprob

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return unigram_logprob(d).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_tokens", "logprob"
    )


def _q_cap_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap (RefinedWeb-style host guard): at
    most 5 docs per pseudo-domain (doc_id % 37), hash-ranked. Runs the
    SHARDED two-phase top-n (n_shards=4) whose result is provably
    identical to the unsharded rank the oracle computes — the
    cross-engine check doubles as the exactness proof."""
    from giraph_spark.functions.sampling import cap_per_group

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.lit("d"), (F.col("doc_id") % 37).cast("string")).alias(
            "domain"
        ),
    )
    return cap_per_group(d, group_col="domain", n=5, n_shards=4)


def _q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split: unigram_logprob scored docs
    bucketed by frozen thresholds (the production pattern — quantiles
    computed once, shipped as config; these cut the fixture corpus
    roughly into thirds at both sf0.001 and sf0.01)."""
    from giraph_spark.functions.text import quality_buckets, unigram_logprob

    d = _docs(spark, sf_dir).select("doc_id", "text")
    scored = unigram_logprob(d).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_tokens", "logprob"
    )
    return quality_buckets(scored, thresholds=(-3.404, -3.4))


def _q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed bigram LM scoring with the CCNet train/score
    split: the LM is trained on the even-doc_id half (the 'trusted'
    corpus stand-in), every document is scored against it — unseen
    contexts degrade to ln(1/V), short/NULL docs score NULL."""
    from giraph_spark.functions.lm import bigram_logprob

    d = _docs(spark, sf_dir).select("doc_id", "text")
    lm = d.where(F.col("doc_id") % 2 == 0)
    return bigram_logprob(d, lm_df=lm, k=1.0).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_bigrams",
        "logprob",
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing plan (window=256): per-source running token
    sum in doc-id order; each doc assigned the sequence it starts in."""
    from giraph_spark.functions.sampling import pack_sequences

    d = _docs(spark, sf_dir)
    return pack_sequences(d, window=256).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "stratum",
        "n_tokens",
        "seq_id",
        "offset",
    )


def _q_mixture_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture epoch multiplicities: upsample src0 3.2x, downsample
    src1 to 0.5x, rest 1.0 — fractional parts resolved by id-hash."""
    from giraph_spark.functions.sampling import mixture_repeats

    d = _docs(spark, sf_dir)
    return mixture_repeats(d, {"src0": 3.2, "src1": 0.5}).select(
        F.col("doc_id").cast("long").alias("doc_id"), "stratum", "n_repeats"
    )


def _q_expand_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-writing materialization of the mixture multiplicities: each
    row repeated n_repeats times with a 1-based epoch index, zero-weight
    rows dropped — a pure explode, no shuffle."""
    from giraph_spark.functions.sampling import expand_repeats, mixture_repeats

    d = _docs(spark, sf_dir)
    m = mixture_repeats(d, {"src0": 3.2, "src1": 0.5}).select(
        F.col("doc_id").cast("long").alias("doc_id"), "stratum", "n_repeats"
    )
    return expand_repeats(m).select(
        "doc_id", "stratum", F.col("epoch").cast("long").alias("epoch")
    )


def _q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree histogram over the directed trade graph
    (DirectedGraphStats.java family): two partial-aggregated groupBys,
    zero-degree vertices included via left join."""
    g = trade_graph(spark, sf_dir, directed=True)
    deg = (
        g.vertices.join(g.edges, g.vertices["id"] == g.edges["src"], "left")
        .groupBy("id")
        .agg(F.count("src").cast("long").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices")
    )


def _q_blocks_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-framework composition through the driver contract (SURVEY
    §2.9): a SendMessageChain (SendMessageChain.java:60-96) of two
    message rounds — round 1 computes in-degree (send 1 along out-edges,
    sum-combine), round 2 forwards each vertex's in-degree to its
    out-neighbors — yielding per vertex the summed in-degree of its
    in-neighbors."""
    from giraph_spark.blocks import SendMessageChain

    g = nation_graph(spark, sf_dir)
    out = (
        SendMessageChain.start_send(F.lit(1), F.sum, out_col="deg_in")
        .then_send(F.col("deg_in"), F.sum, out_col="two_hop")
        .end_apply({"two_hop": F.coalesce("two_hop", F.lit(0))})
        .run(g)
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("two_hop").cast("long").alias("two_hop"),
    )


def _q_graph_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One mutation batch resolved in the reference's fixed order
    (DefaultVertexResolver.java:49-67: remove edges → remove vertex →
    add vertex, incl. implicit creation for message targets and added-edge
    endpoints → add edges) over the nation graph. Output is the resolved
    graph as tagged rows (kind 'v'/'e') so one DataFrame captures both
    relations."""
    from giraph_spark.mutations import apply_mutations

    g = nation_graph(spark, sf_dir)
    out = apply_mutations(
        g,
        remove_edges=g.edges.filter(F.col("src") == 0),
        remove_vertices=spark.createDataFrame([(1,), (2,)], "id long"),
        add_vertices=spark.createDataFrame([(100,), (101,)], "id long"),
        add_edges=spark.createDataFrame(
            [(100, 3), (3, 200)], "src long, dst long"
        ),
        message_dsts=spark.createDataFrame([(300,)], "id long"),
    )
    v = out.vertices.select(
        F.lit("v").alias("kind"),
        F.col("id").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
    )
    e = out.edges.select(
        F.lit("e").alias("kind"),
        F.col("src").cast("long").alias("a"),
        F.col("dst").cast("long").alias("b"),
    )
    return v.unionByName(e)


def _q_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IdentityComputation (examples/IdentityComputation.java:39): a
    pass-through superstep — the reference's I/O round-trip test, here
    run through the real kernel (one superstep, no update, immediate
    halt) to prove the engine adds/drops nothing."""
    from giraph_spark.pregel import pregel

    g = nation_graph(spark, sf_dir)
    out = pregel(g, update={}, vote_to_halt=F.lit(True), max_supersteps=2)
    return out.select(F.col("id").cast("long").alias("id"))


def _q_vector_sum_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-vector sum aggregator (SURVEY §2.4,
    DoubleDenseVectorSumAggregator / MatrixSumAggregator family) surfaced
    over the embeddings table: element-wise sum per cluster, exploded to
    (cluster, dim, val) rows so the result is hashable cross-engine."""
    from giraph_spark.aggregators import vector_sum

    e = _embs(spark, sf_dir).select(
        (F.col("vec_id") % 4).cast("long").alias("cluster"),
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    return (
        e.groupBy("cluster")
        .agg(vector_sum(F.col("emb")).alias("vsum"))
        .select("cluster", F.posexplode("vsum").alias("dim", "val"))
        .select(
            "cluster",
            F.col("dim").cast("long").alias("dim"),
            F.round("val", 6).alias("val"),
        )
    )


def _q_sparse_vector_sum_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector sum aggregator (SURVEY §2.4, aggregators/matrix/
    sparse/DoubleSparseVectorSumAggregator.java) surfaced over the
    embeddings table: each embedding is sparsified to a dim→value map of
    its positive entries, maps are key-union-summed per cluster, and the
    result is exploded to (cluster, dim, val) rows for cross-engine
    hashing. Missing keys behave as implicit zeros — the sparse-aggregator
    contract."""
    from giraph_spark.aggregators import sparse_vector_sum

    e = _embs(spark, sf_dir).select(
        (F.col("vec_id") % 4).cast("long").alias("cluster"),
        F.map_from_entries(
            F.filter(
                F.transform(
                    "embedding",
                    lambda x, i: F.struct(
                        i.cast("long").alias("key"),
                        x.cast("double").alias("value"),
                    ),
                ),
                lambda s: s["value"] > 0,
            )
        ).alias("smap"),
    )
    return (
        e.groupBy("cluster")
        .agg(sparse_vector_sum(F.col("smap")).alias("ssum"))
        .select("cluster", F.explode("ssum").alias("dim", "val"))
        .select(
            "cluster",
            F.col("dim").cast("long").alias("dim"),
            F.round("val", 6).alias("val"),
        )
    )


def _q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL header decode end-to-end on the DEFAULT path (no decoder
    registration): deterministic minimal BMP/PNG/GIF/JPEG/WAV containers
    generated from doc ids, sniffed by magic bytes and parsed with the
    zero-dep struct parsers (giraph_spark/functions/media_codecs.py);
    every metadata field is a closed-form id function the oracle
    reproduces without touching a byte. n_bytes is excluded because the
    PNG's zlib-compressed size is not closed-form (the pixel keys cover
    n_bytes for the uncompressed containers)."""
    from giraph_spark.functions.multimodal import mixed_media_from_docs

    return decode_metadata(mixed_media_from_docs(_docs(spark, sf_dir))).select(
        "media_id", "modality", "width", "height", "n_frames", "duration_s"
    )


def _q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    LMs of the target domain (source='src18') vs the raw corpus; every
    weight replayed by the oracle via the md5-derived portable bucket
    hash. threshold=0 marks documents more target-like than raw."""
    from giraph_spark.functions.sampling import dsir_importance

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "source"
    )
    target = d.where(F.col("source") == "src18").select("doc_id", "text")
    return dsir_importance(
        d.select("doc_id", "text"),
        target,
        n_buckets=4096,
        # mid-range of the corpus's weight distribution so BOTH
        # outcomes occur (α-smoothing over a small target exemplar set
        # shifts every weight negative; rank order is what matters)
        threshold=-0.65,
        portable=True,
    )


def _q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher rule battery (Rae et al. 2021, Table A1) as
    per-rule features + pass flag. Lines derived on both engines by the
    same ' a ' -> newline substitution (the strip_boilerplate fixture
    convention) so the line-fraction rules are exercised."""
    from giraph_spark.functions.text import gopher_rules

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.replace(F.col("text"), F.lit(" a "), F.lit("\n")).alias("text"),
    )
    # thresholds tuned to the synthetic corpus so BOTH outcomes occur
    # (its word-salad text carries few Gopher stop words)
    return gopher_rules(d, min_words=20, min_required_words=1)


def _q_decode_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-coverage rollup (VERDICT r6 task 4) over a corpus mixing
    all five real containers (mixed_media_from_docs), undecodable
    text blobs ('~'-prefixed so no magic matches; every doc_id % 7 == 0)
    and IHDR-only truncated PNGs (doc_id % 11 == 0: header metadata
    parses, content decode fails) — so every coverage outcome occurs:
    full decode, meta-only, and unknown. Counts are exactly replayable
    from the fixture's id arithmetic (n_bytes projected out, the
    compressed-container size precedent of multimodal_metadata)."""
    from giraph_spark.functions.multimodal import (
        bmp_media_from_docs,
        decode_coverage,
        gif_pixels_media_from_docs,
        jpeg_media_from_docs,
        png_media_from_docs,
        wav_media_from_docs,
    )

    docs = _docs(spark, sf_dir)
    # container cycles by doc_id % 5 over the CONTENT-real generators
    # (the mixed_media fixture's jpeg/gif are deliberately header-only
    # and would null out the content tier)
    slices = [
        (bmp_media_from_docs, 0),
        (png_media_from_docs, 1),
        (gif_pixels_media_from_docs, 2),
        (jpeg_media_from_docs, 3),
        (wav_media_from_docs, 4),
    ]
    base = None
    for fixture, k in slices:
        part = (
            fixture(docs)
            .where(F.col("media_id") % 5 == k)
            .select("media_id", "modality", "payload")
        )
        base = part if base is None else base.unionByName(part)
    text_rows = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id").cast("long") + F.lit(10_000_000)).alias(
            "media_id"
        ),
        F.lit("image").alias("modality"),
        F.encode(F.concat(F.lit("~"), F.col("text")), "UTF-8").alias(
            "payload"
        ),
    )
    trunc = (
        png_media_from_docs(docs)
        .where(F.col("media_id") % 11 == 0)
        .select(
            (F.col("media_id") + F.lit(20_000_000)).alias("media_id"),
            "modality",
            F.expr("substring(payload, 1, 33)").alias("payload"),
        )
    )
    return decode_coverage(
        base.unionByName(text_rows).unionByName(trunc)
    ).select(
        "modality",
        "format",
        "n_media",
        "n_meta_decoded",
        "n_content_decoded",
        "n_meta_null",
        "n_content_null",
    )


def _q_decompress_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-text ingest (r7): every document's text round-trips
    through a per-row codec cycling gzip / zlib / plain / raw-deflate
    by doc_id % 5, with the fifth class a deliberately corrupt blob
    (invalid UTF-8 + invalid deflate) that must yield a NULL text and
    codec='unknown'. The oracle replays text and codec from the
    documents view alone — the compression happens and is undone
    entirely on the Spark side (n_bytes projected out: compressed
    sizes are not closed-form)."""
    from collections.abc import Iterator

    import pandas as pd

    from giraph_spark.functions.text import decompress_text

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    blobs = _compressed_blobs(docs)
    return decompress_text(blobs).select("doc_id", "text", "codec")


def _compressed_blobs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, payload): the per-row codec-cycling
    compression fixture shared by decompress_text and
    clean_corpus_compressed — gzip / zlib / plain / raw-deflate by
    doc_id % 5, with the fifth class a deliberately corrupt blob
    (invalid UTF-8 + invalid deflate) that must decode to NULL."""
    from collections.abc import Iterator

    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip
        import zlib

        for pdf in batches:
            payloads = []
            for mid, text in zip(
                pdf["doc_id"].to_numpy(), pdf["text"].to_numpy()
            ):
                raw = str(text).encode("utf-8")
                k = int(mid) % 5
                if k == 0:
                    payloads.append(gzip.compress(raw, mtime=0))
                elif k == 1:
                    payloads.append(zlib.compress(raw))
                elif k == 2:
                    payloads.append(raw)
                elif k == 3:
                    co = zlib.compressobj(wbits=-zlib.MAX_WBITS)
                    payloads.append(co.compress(raw) + co.flush())
                else:
                    payloads.append(b"\xff\xff" + raw[:8])
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "payload": payloads}
            )

    return docs.mapInPandas(gen, schema="doc_id long, payload binary")


def _q_clean_corpus_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WET-shard-to-training-set story in one call (r8, VERDICT r7
    task 6): the clean_corpus fixture corpus (documents ∪ perturbed
    re-renders so dedup has real work) compressed per row through the
    decompress_text codec cycle — gzip / zlib / plain / raw-deflate by
    doc_id % 5, fifth class corrupt — then decompress → quality gate →
    exact dedup → split, with the corrupt rows landing as
    status='removed_undecodable'. The oracle replays the disposition
    from the documents view alone: compression happens and is undone
    entirely Spark-side."""
    from giraph_spark.functions.pipeline import clean_corpus_compressed

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    perturbed = d.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.lit(" "), F.col("text"), F.lit(" !! ")).alias("text"),
    )
    blobs = _compressed_blobs(d.unionByName(perturbed))
    return clean_corpus_compressed(blobs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "status", "split"
    )


def _q_clean_corpus_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored training-set selection (VERDICT r6 task 5): Gopher hard
    gate -> DSIR importance weights vs the source='src18' target domain
    -> Gumbel importance RESAMPLING with the threshold calibrated from
    the fixed-grid sampling-score histogram (threshold_metrics
    machinery) -> md5 train/val split. Every stage is a pure function
    of (ids, text, seed), replayed end-to-end by the oracle."""
    from giraph_spark.functions.pipeline import clean_corpus_dsir

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "source"
    )
    target = d.where(F.col("source") == "src18").select("doc_id", "text")
    return clean_corpus_dsir(
        d.select("doc_id", "text"),
        target,
        n_buckets=4096,
        select_fraction=0.25,
        portable=True,
        gopher_kwargs={"min_words": 20, "min_required_words": 1},
    )


def _q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet line-level boilerplate scrub. The fixture text has no
    newlines, so lines are derived deterministically on BOTH engines by
    the same substitution (' a ' -> newline); lines repeated in >= 3
    distinct docs are removed, survivors keep order and whitespace."""
    from giraph_spark.functions.text import strip_boilerplate

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.replace(F.col("text"), F.lit(" a "), F.lit("\n")).alias("text"),
    )
    return strip_boilerplate(d, min_docs=3)


def _q_bmp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL content decode end-to-end: deterministic solid-color BMPs
    generated from doc ids, pixel arrays decoded with the zero-dep
    struct+numpy parser, per-channel means/extrema compared against the
    oracle's closed-form (the oracle never decodes a byte)."""
    from giraph_spark.functions.multimodal import (
        bmp_media_from_docs,
        pixel_stats,
    )

    return pixel_stats(bmp_media_from_docs(_docs(spark, sf_dir)))


def _q_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode end-to-end: zlib-deflated solid-color PNGs with
    the scanline filter cycling per row, reconstructed by the zero-dep
    decoder; stats checked against the closed-form oracle (n_bytes
    excluded — compressed size is not closed-form)."""
    from giraph_spark.functions.multimodal import (
        pixel_stats,
        png_media_from_docs,
    )

    return pixel_stats(png_media_from_docs(_docs(spark, sf_dir))).select(
        "media_id", "modality", "width", "height",
        "mean_r", "mean_g", "mean_b", "min_px", "max_px",
    )


def _q_webp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP (VP8L) decode end-to-end (r12, VERDICT r11
    task 2 — the image tier's WebP blindness closed): solid-color
    VP8L files whose bitstream FEATURES cycle per id (plain literals /
    subtract-green / palette with 8-px bundling / predictor / LZ77
    runs / color cache, plus VP8X containers on odd ids), all decoding
    through giraph_spark/functions/webp.py's canonical-prefix-code +
    transform machinery to the SAME closed-form stats as the PNG
    fixture — so the oracle is literally png_pixel_stats' SQL while
    the Spark side exercises six structurally different VP8L streams.
    Decoder registration rides the PUBLIC set_content_decoder seam
    (a strict superset of the default sniffer: non-WebP payloads
    delegate to it)."""
    from giraph_spark.functions import multimodal as _mm
    from giraph_spark.functions.multimodal import (
        pixel_stats,
        set_content_decoder,
    )
    from giraph_spark.functions.webp import (
        image_pixel_stats_webp,
        webp_media_from_docs,
    )

    # pixel_stats snapshots the decoder registry at CALL time, so the
    # registration can be scoped to this plan build and restored —
    # other keys' results must never depend on whether this key ran
    # first in the session (r12 self-review)
    prev = dict(_mm._CONTENT_DECODERS)
    set_content_decoder("image", image_pixel_stats_webp)
    try:
        out = pixel_stats(webp_media_from_docs(_docs(spark, sf_dir)))
    finally:
        _mm._CONTENT_DECODERS.clear()
        _mm._CONTENT_DECODERS.update(prev)
    return out.select(
        "media_id", "modality", "width", "height",
        "mean_r", "mean_g", "mean_b", "min_px", "max_px",
    )


def _q_gif_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-FRAME content decode (r7: the pandas-UDF stage
    frame_sample_plan plans for): animated GIFs with 1 + id % 7 solid
    frames, sampled at every_n=2 / max_frames=3 (frames 0, 2, 4 where
    they exist), each frame's pixel stats a closed-form (id, frame)
    function through a real multi-image LZW decode."""
    from giraph_spark.functions.multimodal import (
        frame_pixel_stats,
        gif_animation_media_from_docs,
    )

    return frame_pixel_stats(
        gif_animation_media_from_docs(_docs(spark, sf_dir)),
        every_n=2,
        max_frames=3,
    ).select(
        "media_id", "modality", "frame_index", "width", "height",
        "mean_r", "mean_g", "mean_b", "min_px", "max_px",
    )


def _q_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/ISO-BMFF header metadata (r7: the video modality joins the
    zero-dep sniffer tier): real minimal BMFF files (ftyp + moov/mvhd +
    one visual trak with tkhd 16.16 dims and an stts) whose duration /
    frame size / frame count are closed-form id functions — the oracle
    replays every field without touching a byte. Sample decode remains
    honestly out of scope (set_content_decoder('video', ...))."""
    from giraph_spark.functions.multimodal import (
        decode_metadata,
        mp4_media_from_docs,
    )

    return decode_metadata(mp4_media_from_docs(_docs(spark, sf_dir))).select(
        "media_id", "modality", "width", "height", "n_frames", "duration_s"
    )


def _q_mp4_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 sampled-frame plan from the stts/stsz sample tables (r8,
    VERDICT r7 task 5 — the video modality gets the GIF path's
    sampled-frame plan): two-run variable-duration stts, per-sample
    stsz, and an mdhd media timescale distinct from the movie's, so
    every planned frame's (timestamp, size) is a closed-form (id, j)
    function through a real box-tree walk — run-length arithmetic,
    never a per-sample expansion (giraph_spark/functions/
    media_codecs.py mp4_sample_plan)."""
    from giraph_spark.functions.multimodal import (
        mp4_frame_plan,
        mp4_sampled_media_from_docs,
    )

    return mp4_frame_plan(
        mp4_sampled_media_from_docs(_docs(spark, sf_dir)),
        every_n=4,
        max_frames=8,
    ).select(
        "media_id", "frame_index", "t_ticks", "timescale",
        "t_seconds", "size_bytes",
    )


def _q_jpeg_progressive_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decode end-to-end (r7: SOF2 joined the
    zero-dep envelope): the jpeg_pixel_stats images re-encoded as
    progressive streams (spectral selection + successive approximation,
    DC and AC refinement scans) — identical closed-form oracle, so a
    hash match proves the progressive scan machine reconstructs the
    exact coefficients."""
    from giraph_spark.functions.multimodal import (
        jpeg_progressive_media_from_docs,
        pixel_stats,
    )

    return pixel_stats(
        jpeg_progressive_media_from_docs(_docs(spark, sf_dir))
    ).select(
        "media_id", "modality", "width", "height",
        "mean_r", "mean_g", "mean_b", "min_px", "max_px",
    )


def _q_png_interlaced_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Adam7 decode end-to-end (r7: interlace joined the zero-dep
    envelope): the same solid-color PNGs as png_pixel_stats written in
    the seven-pass layout with filters cycling over PASS rows — the
    decoder unfilters each pass independently and scatters it onto the
    grid, so the closed-form stats oracle is IDENTICAL to the
    sequential key's."""
    from giraph_spark.functions.multimodal import (
        pixel_stats,
        png_media_from_docs,
    )

    return pixel_stats(
        png_media_from_docs(_docs(spark, sf_dir), interlace=True)
    ).select(
        "media_id", "modality", "width", "height",
        "mean_r", "mean_g", "mean_b", "min_px", "max_px",
    )


def _q_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode end-to-end: solid-gray DCT-coded JPEGs
    generated from doc ids (all-ones quant table makes the constant
    block exact through Huffman decode + dequant + IDCT), pixel arrays
    decoded with the zero-dep struct+numpy parser; stats checked against
    the closed-form oracle that never decodes a byte (n_bytes excluded —
    the Huffman bit count is not closed-form)."""
    from giraph_spark.functions.multimodal import (
        jpeg_media_from_docs,
        pixel_stats,
    )

    return pixel_stats(jpeg_media_from_docs(_docs(spark, sf_dir))).select(
        "media_id", "modality", "width", "height",
        "mean_r", "mean_g", "mean_b", "min_px", "max_px",
    )


def _q_gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF content decode end-to-end: solid-color LZW-coded GIFs
    generated from doc ids, decompressed with the zero-dep LZW decoder
    and resolved through the color table; stats checked against the
    closed-form oracle that never decodes a byte. Completes real pixel
    decode for every image container in the envelope (BMP/PNG/JPEG/GIF)."""
    from giraph_spark.functions.multimodal import (
        gif_pixels_media_from_docs,
        pixel_stats,
    )

    return pixel_stats(gif_pixels_media_from_docs(_docs(spark, sf_dir))).select(
        "media_id", "modality", "width", "height",
        "mean_r", "mean_g", "mean_b", "min_px", "max_px",
    )


def _q_wav_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM decode end-to-end: constant-amplitude WAVs generated
    from doc ids, sample arrays decoded with the struct+numpy parser;
    power-of-two amplitudes make RMS/peak exact doubles the closed-form
    oracle reproduces without decoding."""
    from giraph_spark.functions.multimodal import (
        audio_stats,
        wav_media_from_docs,
    )

    return audio_stats(wav_media_from_docs(_docs(spark, sf_dir)))


def _q_multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan over REAL multi-frame GIFs (the one zero-dep
    container with a true frame count): bounded frame-index explode from
    sniffed-and-parsed metadata (payload column pruned away —
    metadata-first pattern). n_frames = 1 + id % 12 makes the stepped
    index list a closed-form id function."""
    from giraph_spark.functions.multimodal import gif_media_from_docs

    media = gif_media_from_docs(_docs(spark, sf_dir)).filter(
        F.col("modality") == "video"
    )
    return frame_sample_plan(media, every_n=3, max_frames=8)


def _q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d×d covariance of the embedding corpus (the PCA statistic): per-
    row outer products flattened JVM-side, partial-aggregated by cell —
    shuffle bounded by d², never corpus rows."""
    from giraph_spark.functions.similarity import covariance_matrix

    e = _embs(spark, sf_dir).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    # + 0.0 folds IEEE -0.0 (a rounded tiny negative) to +0.0 so both
    # engines print/hash the same canonical zero
    return covariance_matrix(e).select(
        "i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov")
    )


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.where(F.col("vec_id") <= 5)
    return brute_force_topk(e, q, k=10)


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.where(F.col("vec_id") <= 5)
    return ivf_topk(e, q, k=10, num_cells=16, nprobe=4)


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-k (portable md5-parity hyperplanes, so
    the oracle replays the identical banded candidate set)."""
    e = _embs(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.where(F.col("vec_id") <= 5)
    return lsh_topk(e, q, dim=64, k=10, planes=16, bands=4, portable=True)


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH ANN tier against the exact cosine tier — the
    engine evaluating its own index quality, relationally."""
    from giraph_spark.functions.similarity import ann_recall

    e = _embs(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.where(F.col("vec_id") <= 5)
    exact = brute_force_topk(e, q, k=10)
    approx = lsh_topk(e, q, dim=64, k=10, planes=16, bands=4, portable=True)
    return ann_recall(exact, approx).withColumn(
        "query_id", F.col("query_id").cast("long")
    )


def _q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # bounded corpus slice: exact quadratic verification tier (the LSH
    # variant below is the full-corpus path)
    e = e.where(F.col("vec_id") < 1000)
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.35)
    )


def _q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dim = len(e.select("embedding").first()[0])
    return embedding_near_duplicates(e, dim=dim, threshold=0.35, portable=True)


def _q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8-style quantization, exploded to (vec_id, dim, qval)
    rows for cross-engine hashing; the per-vector scale is emitted as its
    own row (dim = -1) so both the codes and the dequantization factor are
    oracle-checked."""
    e = _embs(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = quantize_embeddings(e)
    codes = q.select(
        "vec_id", F.posexplode("qvec").alias("dim", "qv")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.col("qv").cast("double").alias("qval"),
    )
    scales = q.select(
        "vec_id",
        F.lit(-1).cast("long").alias("dim"),
        F.round("scale", 6).alias("qval"),
    )
    return codes.unionByName(scales)


def _purchases_views(spark, sf_dir):
    ev = read_events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_event_id"), "ts"
    )
    return purchases, views


def _q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Lloyd's k-means assignment (8 cells, 2 iterations) over
    the embeddings table — every engine-crossing float rounded so the
    unrolled DuckDB oracle replays seed → assign → re-center → assign
    exactly."""
    from giraph_spark.functions.similarity import kmeans_assign

    e = _embs(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return kmeans_assign(e, num_cells=8, iters=2)


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style within-cell semantic pruning: seed-centroid cells,
    drop vectors cosine-similar (≥0.35) to a lower-id cellmate."""
    from giraph_spark.functions.similarity import semdedup

    e = _embs(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return semdedup(e, num_cells=16, threshold=0.35)


def _q_semdedup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the two-level (coarse→fine) quantizer — the 100 TB
    assignment path (O(n·2√cells) probes instead of the flat O(n·cells),
    which bench.py --stress-docs measured going quadratic when cells
    scale ∝ corpus). 4 coarse × 4 sub cells, every argmin
    round(·,6)-stabilized so the oracle replays both probe levels and
    the seed selection bit-for-bit."""
    from giraph_spark.functions.similarity import semdedup

    e = _embs(spark, sf_dir).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return semdedup(e, num_cells=16, threshold=0.35, coarse_cells=4)


def _q_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (label/feature attachment): each purchase gains the most
    recent prior-or-simultaneous view of the same user. Union–sort–carry
    formulation (one shuffle, no inequality-join fan-out); DuckDB's
    native ASOF LEFT JOIN is the oracle."""
    purchases, views = _purchases_views(spark, sf_dir)
    out = as_of_join(purchases, views, on="user_id")
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("asof_view_event_id").cast("long").alias("asof_view_event_id"),
    )


def _q_views_before_purchase_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window range join: views per user in the hour before each
    purchase. Bucketed equi-join (≤2 probes/row), not an open inequality
    join."""
    purchases, views = _purchases_views(spark, sf_dir)
    out = range_join_count(
        purchases, views, on="user_id", window_seconds=3600,
        count_col="n_views_1h",
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "n_views_1h",
    )


def _q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: one pass produces hourly,
    daily, and grand-total aggregates via ``rollup`` (grouping sets) —
    the continuous-aggregate shape for time-series event tables; Catalyst
    expands the sets with partial aggregation, so it scales like a single
    groupBy. Giraph has no rollup at all (SURVEY §2.12) — inherited from
    the substrate and exposed as a first-class query."""
    ev = read_events(spark, sf_dir)
    d = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "value",
    )
    return (
        d.rollup("day", "hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("day").cast("long").alias("day_epoch"),
            F.col("hour").cast("long").alias("hour_epoch"),
            "n_events",
            "sum_value",
        )
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    s = sessionize(ev, gap_minutes=30)
    return s.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_seq").cast("long").alias("session_seq"),
        F.col("session_start").cast("long").alias("session_start"),
        F.col("session_end").cast("long").alias("session_end"),
        "n_events",
    )


def _q_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


# ------------------------------------- crawl-curation (r9) queries --


def _q_url_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RefinedWeb-style URL tier end-to-end (functions/urls.py):
    a deterministic messy-URL fixture (uppercase schemes/hosts, www
    prefixes, default + real ports, tracking params, scrambled query
    order, fragments, planted duplicates, outright garbage) →
    normalize_url + dedup_by_url → broadcast blocklist →
    sharded per-registered-domain cap. The fixture derives CONTENT
    components from ``eff`` (doc_id with %10==9 folded onto its even
    neighbor — the planted dup pairs) and NOISE components from the
    raw doc_id, so normalization must erase exactly the noise; the
    oracle reconstructs the canonical form from the same arithmetic,
    pinning the whole normalization algebra value-by-value."""
    from giraph_spark.functions.urls import (
        cap_per_host,
        dedup_by_url,
        filter_blocked_domains,
        normalize_url,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    eff = F.when(did % 10 == 9, did - 1).otherwise(did)
    scheme = F.when(eff % 4 == 0, F.lit("HTTPS")).otherwise(F.lit("http"))
    www = F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit(""))
    host = F.concat(
        F.lit("h"), (eff % 7).cast("string"),
        F.lit(".site"), (eff % 13).cast("string"), F.lit(".example"),
    )
    host = F.when(did % 2 == 0, F.upper(host)).otherwise(host)
    port = (
        F.when(eff % 11 == 0, F.lit(":8080"))  # content: survives
        .when(
            (did % 5 == 0) & (eff % 4 == 0), F.lit(":443")
        )  # noise: default
        .when(did % 5 == 0, F.lit(":80"))
        .otherwise(F.lit(""))
    )
    path = F.when(eff % 17 == 0, F.lit("")).otherwise(
        F.concat(F.lit("/p/"), (eff % 10).cast("string"))
    )
    bq = (eff % 4).cast("string")  # the real 'b' parameter value
    query = (
        F.when(
            eff % 3 == 0,
            F.when(did % 6 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
        )
        .when(
            eff % 3 == 1,
            F.when(
                did % 2 == 0, F.concat(F.lit("?a=1&b="), bq)
            ).otherwise(F.concat(F.lit("?b="), bq, F.lit("&a=1&utm_medium=m"))),
        )
        .otherwise(
            F.concat(
                F.lit("?b="), bq,
                F.when(did % 6 == 1, F.lit("&gclid=g")).otherwise(F.lit("")),
            )
        )
    )
    frag = F.when(did % 8 == 0, F.lit("#sec2")).otherwise(F.lit(""))
    url = F.when(
        did % 29 == 0, F.concat(F.lit("not a url "), did.cast("string"))
    ).otherwise(F.concat(scheme, F.lit("://"), www, host, port, path, query, frag))
    # Lazily checkpoint the fixture (r13, guide §1.2/§5): the deep
    # CASE/concat url expression otherwise re-evaluates under every
    # downstream branch — 24 documents scans and 24 Window nodes in
    # the audited plan, and the replicated ~50-node expression tree
    # drove the optimizer + interpreted eval to a 248 s wall at sf0.1
    # (plans/r13/url_curation_before.txt). One materialization of the
    # tiny (doc_id, url) relation fixes the whole family; values are
    # unchanged (same expression, evaluated once).
    urls = d.select(
        did.cast("long").alias("doc_id"), url.alias("url")
    ).localCheckpoint(eager=False)
    curated = cap_per_host(
        filter_blocked_domains(
            dedup_by_url(urls),
            blocked=["site4.example", "site7.example"],
        ),
        n=12,
        n_shards=4,
    )
    return curated.select(
        "doc_id", "url", normalize_url(F.col("url")).alias("norm_url")
    )


def _q_wet_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl ingest round-trip as the correctness pin: documents →
    WET shards on disk (write_warc, gzip-member-per-record) →
    read_warc → wet_documents → the quality gate. Output keys on the
    URL (the ids are re-derived hashes), so every value — the decoded
    text's length and its gate verdict — must survive the full
    serialize/parse/decode path byte-exactly for the DuckDB oracle
    (which never sees a WARC byte) to agree. The write materializes at
    call time into ONE deterministic per-sf temp dir with
    ``mode="overwrite"`` — repeated invocations, across processes and
    rounds, replace the same 4 shards instead of accumulating corpus
    copies in /tmp (the shards are deterministic, so a concurrent
    sweep overwrites them with identical bytes)."""
    import hashlib
    import os
    import tempfile

    from giraph_spark.functions.text import quality_filter
    from giraph_spark.sources.warc import read_warc, wet_documents, write_warc

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    ).where(F.col("text").isNotNull())
    out = os.path.join(
        tempfile.gettempdir(),
        "giraph_spark_wet_ingest_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    write_warc(d, out, shards=4, mode="overwrite").collect()
    docs = wet_documents(read_warc(spark, out))
    qf = quality_filter(docs, text_col="text", id_col="doc_id")
    return (
        docs.join(qf, "doc_id")
        .select(
            "url",
            F.length("text").cast("long").alias("n_chars"),
            F.col("n_fail").cast("long").alias("n_fail"),
            "passed",
        )
    )


def _q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card relation over the sf docs + embeddings
    (functions/datacard.py): corpus accounting per source×lang, the
    quality-gate share, the token-count profile, the exact-dup
    headline, embedding-column health, and (r10 — the r9 queue's
    last item) the PII-rate and duplicate-paragraph sections — one
    tall string relation whose every value (fixed six-decimal
    canonical form for fractions) the oracle reproduces section by
    section."""
    from giraph_spark.functions.datacard import data_card

    return data_card(
        docs=_docs(spark, sf_dir),
        embeddings=_embs(spark, sf_dir),
        pii=True,
        paragraphs=True,
    )


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (functions/bpe.py): the first 8 merge
    decisions learned from the corpus — each one an argmax over the
    frequency-weighted adjacent-pair counts of the evolving symbol
    relation, ties broken lexicographically. The oracle unrolls the
    same 8 rounds in SQL (the package's standard unrolled-loop oracle
    form), including the left-to-right non-overlapping merge
    application, so the full sequential training trajectory is
    value-pinned, not just the final vocabulary."""
    from giraph_spark.functions.bpe import train_bpe

    merges = train_bpe(_docs(spark, sf_dir), num_merges=8)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, a string, b string",
    )


# --------------------------------- r10 crawl/curation driver keys --
# (the r9 queue drained: PII, paragraph dedup, PSL cap, robots
# verdict, CDX shards, shard manifest, host graph, domain authority,
# crawl delays — each fixture derives every value from doc_id
# arithmetic so the DuckDB oracle replays it closed-form.)


def _pii_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministically planted PII suffixes — one
    kind per doc_id residue class, every span reconstructible from
    arithmetic (the oracle re-plants and re-redacts the same text)."""
    did = F.col("doc_id")
    planted = (
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"),
                F.lit("@mail"), (did % 5).cast("string"),
                F.lit(".example now"),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.lit(" from 10."), (did % 256).cast("string"),
                F.lit(".0."), (did % 100).cast("string"), F.lit(" up"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit(" call +1 (415) 555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(" ref "),
                F.lpad((did % 1000000000).cast("string"), 9, "0"),
                F.lit("9 done"),
            )
        )
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), planted).alias("text"),
        "source",
    )


def _q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII scrub (functions/pii.py:83): tiered regexp_replace with
    per-kind counts on the progressively redacted text. Patterns are
    Java∩RE2-portable by design (module docstring), so the oracle runs
    the SAME pattern text through DuckDB's RE2 — redacted text and all
    four counters must agree byte-for-byte."""
    from giraph_spark.functions.pii import redact_pii

    return redact_pii(_pii_fixture(spark, sf_dir)).drop("source")


def _q_pii_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII counts on the RAW text (functions/pii.py:64)
    — each kind counted independently, n_pii the sum; the detection
    twin of redact_pii's scrub counts (which bill post-redaction)."""
    from giraph_spark.functions.pii import pii_features

    return pii_features(_pii_fixture(spark, sf_dir))


def _q_pii_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII accounting per source (functions/pii.py:119): doc
    counts, flagged-doc share, per-kind span totals — the data-card
    row for the tier, grouped so the shuffle is ∝ sources."""
    from giraph_spark.functions.pii import pii_rate

    out = pii_rate(_pii_fixture(spark, sf_dir), group_col="source")
    return out.select(
        "source", "n_docs", "docs_with_pii",
        F.round(F.col("pii_doc_rate"), 6).alias("pii_doc_rate"),
        "n_email", "n_ipv4", "n_phone", "n_id_number",
    )


def _q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet cross-corpus paragraph dedup (functions/paragraphs.py:70)
    over documents wrapped in shared banner/footer paragraphs (the
    boilerplate document-level hashing can never catch): first
    occurrence wins corpus-wide, survivors reassemble in order, empty
    documents drop. The oracle replays the whole disposition as a
    window (the in-repo parity test's form) over the same fixture."""
    from giraph_spark.functions.paragraphs import dedup_paragraphs

    did = F.col("doc_id")
    fixture = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.concat(F.lit("shared banner "), (did % 7).cast("string")),
            F.coalesce(F.col("text"), F.lit("empty body")),
            F.concat(F.lit("standard footer "), (did % 3).cast("string")),
        ).alias("text"),
    )
    return dedup_paragraphs(fixture)


def _q_cap_per_host_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain cap with PSL grouping (functions/urls.py
    cap_per_host(psl=True)): multi-label public suffixes (co.uk,
    com.au) must group at three labels, plain TLDs at two, www strips
    — the oracle reconstructs each URL's registered domain from the
    fixture arithmetic and replays the cap's portable-hash rank."""
    from giraph_spark.functions.urls import cap_per_host

    did = F.col("doc_id")
    dom = (
        F.when(did % 4 == 0, F.concat(F.lit("alpha"), (did % 6).cast("string"), F.lit(".co.uk")))
        .when(did % 4 == 1, F.concat(F.lit("beta"), (did % 6).cast("string"), F.lit(".com")))
        .when(did % 4 == 2, F.concat(F.lit("gamma"), (did % 6).cast("string"), F.lit(".com.au")))
        .otherwise(F.concat(F.lit("delta"), (did % 6).cast("string"), F.lit(".io")))
    )
    prefix = F.when(did % 5 == 0, F.lit("www.")).otherwise(
        F.concat(F.lit("sub"), (did % 3).cast("string"), F.lit("."))
    )
    urls = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://"), prefix, dom, F.lit("/p/"), did.cast("string")
        ).alias("url"),
    )
    return cap_per_host(urls, n=8, psl=True)


def _robots_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (host, text) robots corpus shared by the verdict and delay
    keys — ONE definition so the two oracles can never drift from
    each other's policies: ten hosts in three classes — (0) a ``*``
    group with prefix, longer-allow, and wildcard+anchor rules plus a
    crawl delay; (1) an exact-agent group (which must SUPERSEDE the
    host's deny-all ``*`` group) with an invalid then a valid crawl
    delay (last valid wins); (2) no robots.txt at all."""
    did = F.col("doc_id")
    text0 = (
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
        "Disallow: /tmp/*.pdf$\nCrawl-delay: 5\n"
    )
    text1 = (
        "User-agent: mybot\nDisallow: /p/\nCrawl-delay: fast\n"
        "Crawl-delay: 7\n\nUser-agent: *\nDisallow: /\nCrawl-delay: 99\n"
    )
    hosts = (
        _docs(spark, sf_dir)
        .select((did % 10).alias("h"))
        .distinct()
        .where(F.col("h") % 3 != 2)
    )
    return hosts.select(
        F.concat(F.lit("h"), F.col("h").cast("string"), F.lit(".example")).alias("host"),
        F.when(F.col("h") % 3 == 0, F.lit(text0)).otherwise(F.lit(text1)).alias("text"),
    )


def _robots_fixture(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """URLs covering every rule arm per host, plus the parsed
    :func:`_robots_corpus` rules."""
    from giraph_spark.functions.urls import parse_robots

    did = F.col("doc_id")
    hnum = did % 10
    host = F.concat(F.lit("h"), hnum.cast("string"), F.lit(".example"))
    path = (
        F.when(did % 5 == 0, F.lit("/private/x"))
        .when(did % 5 == 1, F.lit("/private/okay"))
        .when(did % 5 == 2, F.concat(F.lit("/p/"), did.cast("string")))
        .when(did % 5 == 3, F.concat(F.lit("/tmp/"), did.cast("string"), F.lit(".pdf")))
        .otherwise(F.lit("/"))
    )
    # lazy-checkpoint the built URLs: robots_verdict derives _uhost +
    # _pathq from its url column (~5 parse-tree references), and with
    # the deep CASE/concat fixture inlined at each one the verdict's
    # hashAgg codegen blows Janino's 64 KB method limit (measured —
    # silent interpreted fallback). The RDD boundary makes url an
    # attribute, the new_frontier plan-shape lesson applied here.
    urls = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.lit("https://"), host, path).alias("url")
    ).localCheckpoint(eager=False)
    return urls, parse_robots(_robots_corpus(spark, sf_dir))


def _q_robots_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 verdicts (functions/urls.py robots_verdict): exact-
    agent group supersedes ``*`` wholesale, longest pattern wins,
    allow wins length ties, wildcard/anchor patterns match as
    compiled regexes, hosts without robots allow everything. The
    oracle states the expected verdict CLOSED-FORM per (host-class,
    path-class) — the full precedence battery value-pinned."""
    from giraph_spark.functions.urls import robots_verdict

    urls, rules = _robots_fixture(spark, sf_dir)
    return robots_verdict(urls, rules, "mybot").select(
        "doc_id", "url", "robots_allowed"
    )


def _q_crawl_delays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness rates (functions/urls.py crawl_delays): the
    governing group's LAST parseable Crawl-delay wins (class 1 plants
    an invalid 'fast' before the 7), the exact-agent group shadows
    ``*``'s 99 entirely, hosts without robots emit no row. Same
    :func:`_robots_corpus` the verdict key parses."""
    from giraph_spark.functions.urls import crawl_delays

    return crawl_delays(_robots_corpus(spark, sf_dir), "mybot")


def _q_cdx_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB pruning lever end-to-end (sources/cdx.py): a CDXJ
    index fixture is WRITTEN to disk (distributed text write, one
    line per doc, every field from doc_id arithmetic; every 29th line
    corrupt), read back through read_cdx, curation-filtered on the
    index (status 200, error-free), and collapsed to the shard fetch
    list. The oracle never sees the index bytes — it recomputes the
    shard groupBy from the same arithmetic, so parsing + error
    isolation + the aggregation are all value-pinned."""
    import hashlib
    import os
    import tempfile

    from giraph_spark.sources.cdx import cdx_shards, read_cdx

    did = F.col("doc_id")
    line = F.when(
        did % 29 == 0, F.concat(F.lit("corrupt line "), did.cast("string"))
    ).otherwise(
        F.concat(
            F.lit("ex,h"), did.cast("string"), F.lit(")/p 20260801093000 "),
            F.lit('{"url": "https://h'), did.cast("string"),
            F.lit('.example/p", "status": "'),
            F.when(did % 4 == 0, F.lit("404")).otherwise(F.lit("200")),
            F.lit('", "length": "'), (did % 50 + 100).cast("string"),
            F.lit('", "offset": "'), (did * 1000).cast("string"),
            F.lit('", "filename": "shards/w'), (did % 7).cast("string"),
            F.lit('.warc.gz"}'),
        )
    )
    out = os.path.join(
        tempfile.gettempdir(),
        "giraph_spark_cdx_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    _docs(spark, sf_dir).select(line.alias("value")).write.mode(
        "overwrite"
    ).text(out)
    cdx = read_cdx(spark, out)
    kept = cdx.where(F.col("error").isNull() & (F.col("status") == 200))
    return cdx_shards(kept)


def _q_cdx_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-side re-crawl collapse (sources/cdx.py
    latest_cdx_captures): a written CDXJ fixture where ~14 docs share
    each SURT key at distinct timestamps — one max(struct) per urlkey
    must keep the newest capture (url string descends as the
    deterministic tie-break), replayed by the oracle as a window over
    the same arithmetic. The timestamp survives as its original
    14-digit string (format → parse → format is timezone-neutral)."""
    import hashlib
    import os
    import tempfile

    from giraph_spark.sources.cdx import latest_cdx_captures, read_cdx

    did = F.col("doc_id")
    day = F.lpad((did % 28 + 1).cast("string"), 2, "0")
    line = F.concat(
        F.lit("ex,g"), (did % 37).cast("string"), F.lit(")/p 202608"),
        day, F.lit("093000 "),
        F.lit('{"url": "https://g'), did.cast("string"),
        F.lit('.example/p", "status": "200", "length": "'),
        (did % 50 + 100).cast("string"),
        F.lit('", "offset": "'), (did * 1000).cast("string"),
        F.lit('", "filename": "shards/x'), (did % 5).cast("string"),
        F.lit('.warc.gz"}'),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        "giraph_spark_cdxl_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    _docs(spark, sf_dir).select(line.alias("value")).write.mode(
        "overwrite"
    ).text(out)
    latest = latest_cdx_captures(read_cdx(spark, out))
    return latest.select(
        "urlkey",
        F.date_format("ts", "yyyyMMddHHmmss").alias("ts"),
        "url", "length", "offset", "filename",
    )


def _q_sitemap_locs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery (functions/urls.py sitemap_urls): per-doc
    sitemap XML with page <url> blocks (one plus a conditional second
    whose <loc> needs whitespace trimming and an &amp; entity decode)
    and a conditional child-<sitemap> index entry — kinds tagged, all
    locs closed-form from doc_id arithmetic."""
    from giraph_spark.functions.urls import sitemap_urls

    did = F.col("doc_id")
    xml = F.concat(
        F.lit("<urlset><url><loc>https://s"), (did % 9).cast("string"),
        F.lit(".example/p/"), did.cast("string"),
        F.lit("</loc></url>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("<url><loc> https://t"), (did % 5).cast("string"),
                F.lit(".example/?a=1&amp;b=2 </loc></url>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit("<sitemap><loc>https://s"), (did % 9).cast("string"),
                F.lit(".example/sm/"), did.cast("string"),
                F.lit(".xml</loc></sitemap>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    fixture = _docs(spark, sf_dir).select("doc_id", xml.alias("xml"))
    return sitemap_urls(fixture)


def _q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export (functions/export.py): write the corpus
    as 8 portable-hash shards, then account the BYTES ON DISK — per
    shard row count plus id-membership fingerprints (sum/min/max) read
    back from the written files, so assignment, the one-task-per-shard
    write, and layout independence are all pinned. portable=True makes
    the md5-derived shard math the oracle boundary."""
    import hashlib
    import os
    import tempfile

    from giraph_spark.functions.export import write_training_shards

    out = os.path.join(
        tempfile.gettempdir(),
        "giraph_spark_shards_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    d = _docs(spark, sf_dir).select("doc_id", "text")
    write_training_shards(
        d, out, n_shards=8, seed=5, portable=True, mode="overwrite"
    )
    back = spark.read.parquet(out)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("sum_ids"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    ).select(
        F.col("shard").cast("long").alias("shard"),
        "n_rows", "sum_ids", "min_id", "max_id",
    )


def _pages_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetched-pages fixture for the web-graph keys: every page links
    one cross-domain .com target, (3 of 4) one .org target, one
    root-relative SELF link (must resolve and then drop as
    intra-domain), and one mailto (must drop as unfetchable)."""
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://www.s"), (did % 5).cast("string"),
        F.lit(".co.uk/p/"), did.cast("string"),
    )
    body = F.concat(
        F.lit('<a href="https://d'), (did % 7).cast("string"),
        F.lit('.com/x">l1</a>'),
        F.when(did % 4 == 0, F.lit('<a href="/local/y">self</a>')).otherwise(
            F.concat(
                F.lit('<a href="https://e'), (did % 3).cast("string"),
                F.lit('.org/z">l2</a>'),
            )
        ),
        F.lit('<a href="mailto:a@b.cd">m</a>'),
    )
    return _docs(spark, sf_dir).select(url.alias("url"), body.alias("body"))


def _q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered-domain web graph (functions/urls.py host_graph):
    link extraction + PSL domains on both sides + intra-domain and
    non-http drops + the (src, dst) count aggregation. The oracle
    regenerates the edge relation from the fixture arithmetic — it
    never parses HTML, so extraction and resolution are value-pinned."""
    from giraph_spark.functions.urls import host_graph

    return host_graph(_pages_fixture(spark, sf_dir))


def _q_domain_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl tier feeding the graph engine (functions/urls.py
    domain_authority): weighted dangling PageRank on host_graph's
    edges via the package's own Pregel kernel — .com/.org targets
    have no out-links, so the dangling redistribution is exercised
    every round. The oracle unrolls 8 weighted+dangling rounds over
    the closed-form edge relation (the pagerank oracle family's
    form)."""
    from giraph_spark.functions.urls import domain_authority

    out = domain_authority(_pages_fixture(spark, sf_dir), iterations=8)
    return out.select(
        "domain", F.round(F.col("authority"), 6).alias("authority")
    )


def _q_new_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full crawl-loop step (functions/urls.py new_frontier):
    extract → resolve → canonicalize (www strips, the self link's
    root-relative resolution) → known-set anti-join → robots gate →
    distinct, over the same page fixture the web-graph keys use. The
    oracle builds the surviving canonical URL set from the fixture
    arithmetic — 15 distinct candidates minus two known minus one
    disallowed host — never touching HTML."""
    from giraph_spark.functions.urls import new_frontier, parse_robots

    pages = _pages_fixture(spark, sf_dir)
    known = spark.createDataFrame(
        [("https://d0.com/x",), ("https://s1.co.uk/local/y",)],
        "url string",
    )
    robots = parse_robots(
        spark.createDataFrame(
            [("e1.org", "User-agent: *\nDisallow: /\n")],
            "host string, text string",
        )
    )
    return new_frontier(pages, known_urls=known, robots=robots)


def _q_warc_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-range WARC member fetch (sources/warc.py
    read_warc_members — VERDICT r10 task 4, the last 100 TB IO lever
    in the gate of record): documents → 4 on-disk shards of
    one-gzip-member-per-record WARCs built with running member
    offsets (the fixture owns its own CDX-shaped index), a SPARSE
    capture selection (every 3rd doc), then a range-fetch of exactly
    those members' bytes. Every value the oracle checks — the URL,
    the payload's byte length and md5, the member-local record index,
    and the fetch verdict — must survive offset arithmetic + range
    read + gzip + WARC parse byte-exactly; the oracle (which never
    sees a WARC byte) restates them from the documents table. Shards
    are built executor-side by an applyInPandas group per shard
    (deterministic bytes: gzip mtime=0, doc_id order) into ONE
    per-sf temp dir, atomically (temp + rename) so concurrent sweeps
    overwrite identical bytes; the index is checkpointed so every
    shard exists before any fetch runs."""
    import hashlib
    import os
    import tempfile

    from giraph_spark.sources.warc import make_warc, read_warc_members

    d = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example/d/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            "text",
        )
        .where(F.col("text").isNotNull())
    )
    out = os.path.join(
        tempfile.gettempdir(),
        "giraph_spark_warcm_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    os.makedirs(out, exist_ok=True)

    def build(key, pdf):
        import pandas as _pd

        shard = int(key[0])
        pdf = pdf.sort_values("doc_id")
        blobs, offs, lens = [], [], []
        pos = 0
        for did, url, text in zip(pdf["doc_id"], pdf["url"], pdf["text"]):
            blob = make_warc(
                [
                    (
                        {
                            "WARC-Type": "conversion",
                            "WARC-Target-URI": url,
                            "WARC-Record-ID": f"<urn:doc:{int(did)}>",
                            "Content-Type": "text/plain",
                        },
                        str(text).encode("utf-8"),
                    )
                ]
            )
            blobs.append(blob)
            offs.append(pos)
            lens.append(len(blob))
            pos += len(blob)
        fname = f"m{shard}.warc.gz"
        tmp = os.path.join(out, f".{fname}.inprogress-{os.getpid()}")
        with open(tmp, "wb") as fh:
            fh.write(b"".join(blobs))
        os.replace(tmp, os.path.join(out, fname))
        return _pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "filename": fname,
                "offset": offs,
                "length": lens,
            }
        )

    index = (
        d.withColumn("_shard", (F.col("doc_id") % 4).cast("int"))
        .groupBy("_shard")
        .applyInPandas(
            build,
            schema="doc_id long, filename string, offset long, length long",
        )
        # all 4 shards on disk BEFORE any range fetch reads one
        .localCheckpoint(eager=True)
    )
    captures = index.where(F.col("doc_id") % 3 == 0)
    fetched = read_warc_members(captures, base_dir=out)
    return fetched.select(
        F.col("target_uri").alias("url"),
        F.col("content_length").cast("long").alias("n_bytes"),
        F.md5(F.col("payload")).alias("payload_md5"),
        F.col("record_index").cast("long").alias("record_index"),
        F.col("error").isNull().alias("fetched"),
    )


def _q_crawl_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl loop itself in the gate of record (functions/crawl.py
    crawl_rounds — VERDICT r10 task 5): four hosts each carrying a
    31-node binary-tree site (page /t/i links /t/(2i+1) and /t/(2i+2)),
    a robots policy that disallows /t/7 on host c0 (so nodes 7, 15, 16
    are never fetched there — 7 is gated, its children are never
    discovered), and 5 BFS rounds. The (url, crawl_round) assignment
    is closed-form — node i is discovered at depth floor(log2(i+1)) —
    which the oracle states as an explicit depth CASE over a generated
    (host × node) grid, no recursion and no floats. The fetch callback
    renders each page's HTML from URL arithmetic (expression-only, the
    injected-fetcher contract)."""
    from giraph_spark.functions.crawl import crawl_rounds
    from giraph_spark.functions.urls import parse_robots

    n_max = 30
    seeds = spark.createDataFrame(
        [(f"https://c{j}.example/t/0",) for j in range(4)], "url string"
    )
    robots = parse_robots(
        spark.createDataFrame(
            [
                ("c0.example", "User-agent: *\nDisallow: /t/7\n"),
                ("c1.example", "User-agent: *\nDisallow:\n"),
            ],
            "host string, text string",
        )
    )

    def fetch(frontier: DataFrame) -> DataFrame:
        i = F.regexp_extract(F.col("url"), r"/t/(\d+)$", 1).cast("int")

        def link(child):
            return F.when(
                child <= n_max,
                F.concat(
                    F.lit('<a href="/t/'),
                    child.cast("string"),
                    F.lit('">x</a>'),
                ),
            ).otherwise(F.lit(""))

        body = F.concat(
            F.lit("<html>"), link(i * 2 + 1), link(i * 2 + 2), F.lit("</html>")
        )
        return frontier.select("url", body.alias("body"))

    out = crawl_rounds(fetch, seeds, rounds=5, robots=robots)
    return out.select(
        "url", F.col("crawl_round").cast("int").alias("crawl_round")
    )


def _q_schedule_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness wave planning (functions/crawl.py schedule_frontier)
    in the gate of record: a 10-host frontier from the documents
    table, five hosts with explicit crawl delays and five on the
    default, scheduled into 30-second fetch waves. The per-host URL
    ORDER is xxhash64 (deterministic but not SQL-expressible), so the
    key pins the order-independent wave map — (host, delay, wave,
    n_urls) — which is pure arithmetic: positions 0..n-1 at delay d
    put floor(p·d/window) into each wave; the oracle replays it with
    a generated position grid."""
    from giraph_spark.functions.crawl import schedule_frontier

    did = F.col("doc_id")
    frontier = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://w"), (did % 10).cast("string"),
            F.lit(".example/p/"), did.cast("string"),
        ).alias("url")
    )
    delays = spark.createDataFrame(
        [(f"w{j}.example", (j + 1) * 2.5) for j in range(5)],
        "host string, crawl_delay double",
    )
    waves = schedule_frontier(
        frontier, delays=delays, default_delay=1.0, window_s=30.0
    )
    return waves.groupBy("host", "crawl_delay", "fetch_wave").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls")
    )


def _q_idna_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDN host normalization (functions/urls.py idna_host +
    registered_domain_psl(punycode=True) — VERDICT r10 task 3 in the
    gate of record): five host spellings per doc — plain ASCII,
    unicode second-level, unicode TLD matching a U-label PSL rule,
    a wildcard-rule unicode host, and a www-prefixed unicode host —
    must come out in punycode (xn--) form with the PSL-registered
    domain decided AFTER encoding (the U-label rules 'рф' and
    '*.москва' are themselves IDNA-encoded at parse). The oracle
    states both columns as literals per class: the punycode forms are
    fixed strings because the fixture's unicode hosts are fixed."""
    from giraph_spark.functions.urls import idna_host, registered_domain_psl

    did = F.col("doc_id")
    host = (
        F.when(did % 5 == 0, F.concat(F.lit("h"), (did % 7).cast("string"), F.lit(".example")))
        .when(did % 5 == 1, F.lit("bücher.example"))
        .when(did % 5 == 2, F.lit("мойсайт.рф"))
        .when(did % 5 == 3, F.lit("shop.foo.москва"))
        .otherwise(F.lit("www.übung.example"))
    )
    urls = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://"), host, F.lit("/p/"), did.cast("string")
        ).alias("url"),
    )
    feed = ("co.uk", "рф", "*.москва")
    return urls.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        idna_host(F.col("url")).alias("host_ascii"),
        registered_domain_psl(F.col("url"), feed, punycode=True).alias(
            "psl_domain"
        ),
    )


def _q_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT index-key computation (functions/urls.py surt_key): the
    join key between a URL corpus and a CDX capture index, exercised
    over four host classes — a mixed-case multi-label host with a
    port (reversal + lowercase + port strip), a www-prefixed host
    (strip), a dotted-quad IP (NOT reversed, SURT's own rule), and a
    raw-unicode IDN host under punycode=True — plus the query
    canonicalization (tracking param dropped, survivors lowercased
    and sorted). Every output string is closed-form from doc_id
    arithmetic; the oracle restates it per class."""
    from giraph_spark.functions.urls import surt_key

    did = F.col("doc_id")
    host = (
        F.when(did % 4 == 0, F.concat(
            F.lit("Sub"), (did % 3).cast("string"),
            F.lit(".Alpha"), (did % 5).cast("string"),
            F.lit(".Example.com:8443"),
        ))
        .when(did % 4 == 1, F.concat(
            F.lit("www.beta"), (did % 5).cast("string"), F.lit(".org")
        ))
        .when(did % 4 == 2, F.concat(
            F.lit("10.0."), (did % 9).cast("string"),
            F.lit("."), (did % 7).cast("string"),
        ))
        .otherwise(F.lit("bücher.example"))
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/P/"), did.cast("string"),
        F.when(did % 2 == 0, F.lit("?b=2&utm_source=x&A=1")).otherwise(
            F.lit("")
        ),
    )
    urls = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return urls.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        surt_key(F.col("url"), punycode=True).alias("surt"),
    )


def _q_pack_sequence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence chunk spans (functions/export.py
    pack_sequence_spans — the span companion of the r8 sampling-tier
    pack_sequences plan key):
    docs with arithmetic token counts laid head-to-tail per shard and
    cut every 2048 tokens — offsets are per-shard running sums in
    doc_id order and the chunk spans are floor arithmetic, all of
    which the oracle replays as a SQL window over the same closed
    forms (the placement is the rare per-ROW map of a stateful-
    looking operator that stays exactly SQL-expressible)."""
    from giraph_spark.functions.export import pack_sequence_spans

    did = F.col("doc_id")
    fixture = _docs(spark, sf_dir).select(
        "doc_id",
        (did % 4).cast("int").alias("shard"),
        # token counts spanning sub-chunk to multi-chunk docs
        (did % 700 * 7 % 3000 + 1).cast("long").alias("n_tokens"),
    )
    out = pack_sequence_spans(
        fixture, seq_len=2048, shard_col="shard"
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("shard").cast("int").alias("shard"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("offset").cast("long").alias("offset"),
        "first_seq", "last_seq", "n_seqs",
    )


def _q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-shape curation signals (functions/urls.py url_features +
    url_wordlist_score): hosts of two label depths, paths with a
    conditional percent-escape, conditional query params, and a
    three-term weighted wordlist — every feature recomputed by the
    oracle with SQL string functions over the SAME constructed URL
    (lengths, label/segment/param counts, global digit strip, the
    substring hits as closed-form CASEs)."""
    from giraph_spark.functions.urls import url_features, url_wordlist_score

    did = F.col("doc_id")
    host = F.when(
        did % 2 == 0,
        F.concat(F.lit("sub"), (did % 3).cast("string"), F.lit(".ex"),
                 (did % 5).cast("string"), F.lit(".example.com")),
    ).otherwise(
        F.concat(F.lit("ex"), (did % 5).cast("string"), F.lit(".org"))
    )
    path = F.concat(
        F.lit("/p"), did.cast("string"),
        F.when(did % 3 == 0, F.lit("/a%20b")).otherwise(F.lit("/x")),
    )
    query = F.when(
        did % 4 == 0, F.concat(F.lit("?a=1&b="), did.cast("string"))
    ).otherwise(F.lit(""))
    url = F.concat(F.lit("https://"), host, path, query)
    urls = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    wl = {"ex": 1.0, "p7": 0.25, "casino": 9.0}
    out = urls.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        url_features(F.col("url")).alias("f"),
        F.round(url_wordlist_score(F.col("url"), wl), 6).alias("wl_score"),
    )
    return out.select("doc_id", "f.*", "wl_score")


def _bmp_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 9x8 grayscale BMP per document for the image
    perceptual-hash keys: pixel (x, y) of doc d is
    ``(x*m + y*29 + p*7) % 256`` with ``p = d - d%5`` (five docs share
    a base image) and ``m = 13`` for the first two docs of each group
    (class 1 additionally perturbs pixel (0,0) by +128 — the
    near-duplicate), ``13 + (d%5)*6`` otherwise (structurally
    different gradients). Everything the oracle needs is this
    arithmetic; the BMP bytes exist only so the REAL decode path runs."""

    def gen(batches):
        import pandas as _pd

        from giraph_spark.functions.media_codecs import make_bmp

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                d = int(did)
                k = d % 5
                p = d - k
                m = 13 if k <= 1 else 13 + k * 6
                rows = []
                for y in range(8):
                    row = bytearray()
                    for x in range(9):
                        v = (x * m + y * 29 + p * 7) % 256
                        if k == 1 and x == 0 and y == 0:
                            v = (v + 128) % 256
                        row += bytes([v, v, v])
                    rows.append(bytes(row))
                out.append([d, make_bmp(9, 8, rows=rows)])
            yield _pd.DataFrame(out, columns=["media_id", "payload"])

    ids = _docs(spark, sf_dir).select("doc_id")
    return ids.mapInPandas(gen, schema="media_id long, payload binary")


def _q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing (functions/imagehash.py image_dhash):
    dHash-9x8 over REAL decoded BMP pixels — every 64-bit hash, its
    two's-complement signed form, and all four 16-bit LSH bands must
    equal the oracle's pure-arithmetic recomputation of the gradient
    bits (the fixture grid is closed-form, so the hash is too)."""
    from giraph_spark.functions.imagehash import image_dhash

    h = image_dhash(_bmp_corpus(spark, sf_dir))
    return h.select(
        F.col("media_id").alias("doc_id"),
        "width", "height", "dhash", "b0", "b1", "b2", "b3",
    )


def _q_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs (functions/imagehash.py
    dhash_near_duplicates): LSH band candidacy + exact Hamming filter
    over the :func:`_bmp_corpus` hashes. The oracle replays the WHOLE
    rule — any-band collision, id_a < id_b, bit_count(xor) <= 6 — on
    its recomputed hashes, so even incidental band collisions between
    unrelated images must agree pair for pair."""
    from giraph_spark.functions.imagehash import dhash_near_duplicates, image_dhash

    h = image_dhash(_bmp_corpus(spark, sf_dir)).localCheckpoint(eager=False)
    return dhash_near_duplicates(h, max_hamming=6)


def _wav_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 65-frame 8-bit mono WAV per document for the
    audio fingerprint keys: frame k of doc d holds 8 samples of
    constant amplitude ``a_k = (k*m + p*3) % 25 - 12`` with
    ``p = d - d%5`` and ``m = 7`` for the first two docs of each
    group (class 1 additionally pins frame 0 to amplitude 12 — the
    near-duplicate), ``7 + (d%5)*2`` otherwise. Constant frames make
    every frame energy EXACTLY ``(a_k/128)^2`` (no float-summation
    noise), so the oracle's integer comparison ``a_{k+1}^2 > a_k^2``
    IS the decoded contour bit."""

    def gen(batches):
        import pandas as _pd

        from giraph_spark.functions.media_codecs import make_wav

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                d = int(did)
                k5 = d % 5
                p = d - k5
                m = 7 if k5 <= 1 else 7 + k5 * 2
                amps = [(k * m + p * 3) % 25 - 12 for k in range(65)]
                if k5 == 1:
                    amps[0] = 12
                data = bytes(
                    b for a in amps for b in bytes([128 + a]) * 8
                )
                out.append([d, make_wav(0, data=data)])
            yield _pd.DataFrame(out, columns=["media_id", "payload"])

    ids = _docs(spark, sf_dir).select("doc_id")
    return ids.mapInPandas(gen, schema="media_id long, payload binary")


def _mjpeg_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-frame MJPEG-in-AVI per document for the frame-level video
    fingerprint key: frame f of doc d is a REAL 72x64 baseline JPEG
    whose 9x8 block grid walks the 64-bit pattern W(d,f) replicated
    over the four 16-bit bands, W = (d*37 + f*11) % 65536 — constant
    8x8 blocks survive the all-ones-quant DCT round-trip EXACTLY, so
    each sampled frame's dHash is pure id arithmetic. Byte-level
    variance that must NOT move the hash: brightness +(d%2) and
    restart markers every d%3 MCUs."""

    def gen(batches):
        import pandas as _pd

        from giraph_spark.functions.framehash import make_mjpeg_avi
        from giraph_spark.functions.media_codecs import make_jpeg_baseline

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                d = int(did)
                frames = []
                for f in range(4):
                    w16 = (d * 37 + f * 11) % 65536
                    h64 = w16 | (w16 << 16) | (w16 << 32) | (w16 << 48)
                    blocks = []
                    for r in range(8):
                        row = [128]
                        for c in range(8):
                            bit = (h64 >> (r * 8 + c)) & 1
                            row.append(row[-1] + (2 if bit else -2))
                        blocks.extend(v + d % 2 for v in row)
                    frames.append(
                        make_jpeg_baseline(
                            72, 64, blocks=blocks, restart_interval=d % 3
                        )
                    )
                out.append([d, make_mjpeg_avi(frames, 72, 64)])
            yield _pd.DataFrame(out, columns=["media_id", "payload"])

    ids = _docs(spark, sf_dir).select("doc_id")
    return ids.mapInPandas(gen, schema="media_id long, payload binary")


def _q_frame_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level video fingerprints (r12 — the re-encode-robust
    complement of video_vfp, giraph_spark/functions/framehash.py):
    sampled MJPEG frames (0 and 2 of 4, every_n=2/max_frames=2)
    decode through the real RIFF walk + baseline-JPEG decoder and
    hash with the image tier's dHash; the oracle replays every hash,
    band, and the signed two's-complement form from W(d,f) arithmetic
    without touching a byte."""
    from giraph_spark.functions.framehash import mjpeg_frame_hashes

    return mjpeg_frame_hashes(
        _mjpeg_corpus(spark, sf_dir), every_n=2, max_frames=2
    ).select(
        "media_id", "frame_index", "width", "height",
        "dhash", "b0", "b1", "b2", "b3",
    )


def _media_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality corpus with PLANTED duplicate structure for the
    end-to-end media dedup key. Per doc id: modality = id % 3 (image /
    audio / video), perceptual class r = id % 12 (four classes per
    modality, 64-bit fingerprint H(q) = (15 << q) replicated over the
    four 16-bit bands, q = (id//3) % 4 — cross-class Hamming >= 8, so
    bands never collide across classes), and variant v = (id//12) % 4:

    - v 0/1: the byte-identical BASELINE encoding (exact-dup tier),
    - v 2/3: the same perceptual content in a DIFFERENT encoding
      (near-dup tier): images re-encode as subtract-green VP8L / BMP,
      audio re-encodes as 16-bit PCM / 32-bit float (identical
      normalized energies by construction), video re-muxes with a
      different movie/media timescale or tkhd dimensions (identical
      stsz contour).

    Every fingerprint bit is forced by an amplitude/size/pixel WALK
    (+1 per set bit, -1 per clear bit), so the whole disposition is a
    closed-form id function the oracle replays without touching a
    byte."""

    def gen(batches):
        import numpy as _np
        import pandas as _pd

        from giraph_spark.functions.media_codecs import (
            make_bmp,
            make_mp4,
            make_wav,
        )
        from giraph_spark.functions.webp import make_webp_pixels

        def walk(h, start):
            vals = [start]
            for k in range(64):
                vals.append(vals[-1] + (1 if (h >> k) & 1 else -1))
            return vals

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                d = int(did)
                m, q, v = d % 3, (d // 3) % 4, (d // 12) % 4
                w16 = 15 << q
                h = w16 | (w16 << 16) | (w16 << 32) | (w16 << 48)
                if m == 0:  # image: 9x8 grid whose dHash == h
                    g = _np.zeros((8, 9), dtype=_np.uint8)
                    for r in range(8):
                        g[r, 0] = 128
                        for c in range(8):
                            bit = (h >> (r * 8 + c)) & 1
                            g[r, c + 1] = g[r, c] + (1 if bit else -1)
                    px = _np.stack([g, g, g], axis=2)
                    if v == 2:
                        payload = make_webp_pixels(px, subtract_green=True)
                    elif v == 3:
                        payload = make_bmp(
                            9, 8,
                            rows=[px[r, :, ::-1].tobytes() for r in range(8)],
                        )
                    else:
                        payload = make_webp_pixels(px)
                elif m == 1:  # audio: 65 constant frames, energy walk
                    amps = walk(h, 60)
                    if v == 2:  # 16-bit PCM: a*256/32768 == a/128
                        data = b"".join(
                            struct.pack("<h", a * 256) * 8 for a in amps
                        )
                        payload = make_wav(0, data=data, bits=16)
                    elif v == 3:  # float32: exact a/128
                        data = b"".join(
                            struct.pack("<f", a / 128.0) * 8 for a in amps
                        )
                        payload = make_wav(
                            0, data=data, bits=32, audio_format=3
                        )
                    else:
                        data = bytes(
                            b for a in amps for b in bytes([128 + a]) * 8
                        )
                        payload = make_wav(0, data=data)
                else:  # video: 65-sample stsz size walk
                    sizes = walk(h, 200)
                    if v == 2:  # re-mux: same sizes, new timescales
                        payload = make_mp4(
                            2.0, timescale=90000, width=64, height=48,
                            n_frames=65, frame_sizes=sizes,
                            media_timescale=600,
                        )
                    elif v == 3:  # re-container: same sizes, new dims
                        payload = make_mp4(
                            1.0, width=320, height=240, n_frames=65,
                            frame_sizes=sizes,
                        )
                    else:
                        payload = make_mp4(
                            1.0, width=64, height=48, n_frames=65,
                            frame_sizes=sizes,
                        )
                out.append([d, payload])
            yield _pd.DataFrame(out, columns=["media_id", "payload"])

    ids = _docs(spark, sf_dir).select("doc_id")
    return ids.mapInPandas(gen, schema="media_id long, payload binary")


def _q_dedup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end media dedup disposition (r12, VERDICT r11 task 3 —
    the media family's dedup_corpus): modality sniff (pure magic-byte
    expressions) → exact md5 byte tier → per-modality perceptual
    fingerprints → banded pairs → WCC clusters → keeper policy, one
    relation (giraph_spark/functions/dedup_media.py). The fixture
    plants byte-identical copies AND re-encoded near-duplicates in
    all three modalities (incl. a cross-FORMAT WebP-vs-BMP image
    pair); the oracle replays the full disposition closed-form —
    including exact losers resolving THROUGH their byte-keeper's own
    near-dup fate to the final representative."""
    from giraph_spark.functions.dedup_media import media_dedup_disposition

    return media_dedup_disposition(_media_dedup_corpus(spark, sf_dir))


def _q_audio_afp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio energy-contour fingerprints (functions/audiohash.py
    audio_fingerprint) over REAL decoded PCM: the 64 gradient bits,
    the signed hash, and the four LSH bands must equal the oracle's
    pure integer arithmetic over the fixture's frame amplitudes."""
    from giraph_spark.functions.audiohash import audio_fingerprint

    fp = audio_fingerprint(_wav_corpus(spark, sf_dir))
    return fp.select(
        F.col("media_id").alias("doc_id"),
        "sample_rate", "n_samples", "afp", "b0", "b1", "b2", "b3",
    )


def _q_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs (functions/audiohash.py
    audio_near_duplicates): the full rule — any-band collision,
    ordered pair, Hamming <= 6 — replayed by the oracle on its
    recomputed fingerprints."""
    from giraph_spark.functions.audiohash import (
        audio_fingerprint,
        audio_near_duplicates,
    )

    fp = audio_fingerprint(_wav_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    return audio_near_duplicates(fp, max_hamming=6)


def _mp4_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 65-sample MP4 per document for the video
    fingerprint keys: sample k of doc d is
    ``(k*m + p*11) % 199 + 50`` bytes with ``p = d - d%5`` (five docs
    share a base stream) and ``m = 13`` for the first two docs of
    each group (class 1 additionally pins sample 0 to 9999 bytes —
    the near-duplicate), ``13 + (d%5)*4`` otherwise. The MP4 bytes
    exist so the REAL box walk runs; every fingerprint bit is the
    integer comparison of two closed-form sizes."""

    def gen(batches):
        import pandas as _pd

        from giraph_spark.functions.media_codecs import make_mp4

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                d = int(did)
                k5 = d % 5
                p = d - k5
                m = 13 if k5 <= 1 else 13 + k5 * 4
                sizes = [(k * m + p * 11) % 199 + 50 for k in range(65)]
                if k5 == 1:
                    sizes[0] = 9999
                out.append(
                    [
                        d,
                        make_mp4(
                            1.0, width=64, height=48,
                            n_frames=65, frame_sizes=sizes,
                        ),
                    ]
                )
            yield _pd.DataFrame(out, columns=["media_id", "payload"])

    ids = _docs(spark, sf_dir).select("doc_id")
    return ids.mapInPandas(gen, schema="media_id long, payload binary")


def _q_video_vfp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural video fingerprints (functions/videohash.py
    video_fingerprint): gradient bits over the stsz sample-size
    contour, read through the REAL ISO-BMFF box walk — the signed
    hash and all four LSH bands must equal the oracle's pure integer
    arithmetic over the fixture's closed-form sizes."""
    from giraph_spark.functions.videohash import video_fingerprint

    fp = video_fingerprint(_mp4_corpus(spark, sf_dir))
    return fp.select(
        F.col("media_id").alias("doc_id"),
        "n_frames", "vfp", "b0", "b1", "b2", "b3",
    )


def _q_video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs (functions/videohash.py
    video_near_duplicates): any-band candidates + Hamming <= 4 over
    the :func:`_mp4_corpus` fingerprints, the full rule replayed by
    the oracle."""
    from giraph_spark.functions.videohash import (
        video_fingerprint,
        video_near_duplicates,
    )

    fp = video_fingerprint(_mp4_corpus(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    return video_near_duplicates(fp, max_hamming=4)


def _webp_fixture() -> tuple[bytes, int]:
    """Deterministic dirty-WebP fixture shared by the media_scrub key
    and its oracle's constants: (dirty_bytes, bytes_the_scrub_removes)
    — a VP8X header with the EXIF flag set, one EXIF chunk, one pixel
    chunk."""
    import struct

    vp8x = bytes([0x08]) + b"\x00" * 9
    exif = b"II*\x00gps 51.5 secret"
    vp8 = b"\x30\x01\x00\x9d\x01*pix!"
    body = b"WEBP"
    removed = 0
    for fourcc, data in ((b"VP8X", vp8x), (b"EXIF", exif), (b"VP8 ", vp8)):
        part = fourcc + struct.pack("<I", len(data)) + data
        if len(data) & 1:
            part += b"\x00"
        body += part
        if fourcc == b"EXIF":
            removed = len(part)
    return b"RIFF" + struct.pack("<I", len(body)) + body, removed


def _q_media_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-metadata scrubbing (functions/media_privacy.py) under the
    driver gate: per-doc payloads built as EXPRESSIONS — a real
    baseline JPEG with a COM segment of arithmetic-determined length
    spliced after SOI, a real PNG with a tEXt chunk, a dirty WebP
    (RIFF EXIF chunk + VP8X flag), and a corrupt marker chain every
    31st (must pass through with the error set, never fail a task).
    Everything the scrub reports — segment counts, bytes removed, the
    cleaned payload's length, the error flag — is closed-form from
    doc_id, so the oracle pins the structural walk without decoding a
    byte."""
    import struct
    import zlib

    from giraph_spark.functions.media_codecs import (
        make_jpeg_baseline,
        make_png,
    )
    from giraph_spark.functions.media_privacy import strip_media_metadata

    base_j = make_jpeg_baseline(8, 8)
    base_p = make_png(2, 2)
    body = b"Author\x00Nobody"
    chunk = (
        struct.pack(">I", len(body))
        + b"tEXt" + body
        + struct.pack(">I", zlib.crc32(b"tEXt" + body) & 0xFFFFFFFF)
    )
    png_dirty = base_p[:8] + chunk + base_p[8:]
    webp_dirty, _webp_removed = _webp_fixture()
    did = F.col("doc_id")
    # COM segment: marker FF FE, big-endian length n+2 (n in [10, 30)
    # keeps the high length byte zero), n 'x' bytes
    jpeg = F.concat(
        F.lit(base_j[:2]),
        F.lit(b"\xff\xfe\x00"),
        F.expr("cast(char(doc_id % 20 + 12) as binary)"),
        F.expr("cast(repeat('x', cast(doc_id % 20 + 10 as int)) as binary)"),
        F.lit(base_j[2:]),
    )
    payload = (
        F.when(did % 31 == 0, F.lit(b"\xff\xd8garbage"))
        .when(did % 4 == 1, F.lit(png_dirty))
        .when(did % 4 == 3, F.lit(webp_dirty))
        .otherwise(jpeg)
    )
    fixture = _docs(spark, sf_dir).select("doc_id", payload.alias("payload"))
    out = strip_media_metadata(fixture)
    return out.select(
        "doc_id",
        "n_stripped",
        "stripped_bytes",
        F.length("payload").cast("long").alias("out_len"),
        F.col("scrub_error").isNotNull().alias("has_error"),
    )


def _driver_check_history() -> dict[str, tuple[int, int]]:
    """Per-key (times_checked, last_round_checked) from committed CORRECTNESS_r*.json.

    The driver verifies only a fixed-size prefix of ``queries()``; ordering the
    registry by ascending check history guarantees keys with the least driver
    evidence (new keys, never-checked keys, longest-unchecked keys) always sit
    inside that window.  Reads the committed per-round artifacts so the order
    is identical for the driver and for local runs.
    """
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    hist: dict[str, tuple[int, int]] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for key in rows:
            n, _last = hist.get(key, (0, 0))
            hist[key] = (n + 1, rnd)
    return hist


def _key_revisions() -> dict[str, int]:
    """key -> round in which its implementation last changed, from the
    committed KEY_REVS.json snapshot (refreshed by
    ``python tests/refresh_key_revs.py`` whenever a key's fingerprint
    moves; guarded by tests/test_registry_order.py). Missing file or key
    -> revision 0 (treated as never changed)."""
    import json

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "KEY_REVS.json")
    try:
        with open(path) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return {}
    revs = data.get("revs", {})
    return {k: int(v.get("rev", 0)) for k, v in revs.items()}


#: size of the driver's per-round verification prefix; mirrored by
#: tests/test_registry_order.py (DRIVER_WINDOW) and by the lap-bound
#: rotation-hygiene test
_DRIVER_WINDOW = 50


def _ordered_registry(base: dict) -> dict:
    """Sort ``base`` so the stalest driver evidence comes first.

    Three priority groups, each internally ordered by (last round
    checked, times checked, insertion index) ascending:

    0. OVERDUE — keys whose committed driver evidence would cross the
       rotation-hygiene lap bound (ceil(|registry| / window) rounds,
       tests/test_registry_order.py) at the NEXT recorded round. These
       outrank everything, including changed keys: r11 proved that a
       heavy-change round (13 new + 37 re-fingerprinted keys) can
       otherwise consume the whole window and starve plain rotation
       past the bound (graph_mutations hit 5 rounds stale with a
       4-round lap). The reserved quota makes that starvation
       structurally impossible while overdue ∪ changed fits the window.
    1. CHANGED / NEVER-CHECKED — fingerprint moved after the last
       driver check (KEY_REVS.json revision > last checked round, the
       r6 change-aware rule: their evidence covers code that no longer
       exists), or no driver evidence at all (last = 0).
    2. the rest, longest-unchecked first, so the window's tail keeps
       rotating round-robin.
    """
    hist = _driver_check_history()
    revs = _key_revisions()
    idx = {k: i for i, k in enumerate(base)}
    latest = max((last for _t, last in hist.values()), default=0)
    lap = -(-len(base) // _DRIVER_WINDOW)
    def key(k):
        times, last = hist.get(k, (0, 0))
        changed = revs.get(k, 0) > last
        overdue = last > 0 and (latest + 1) - last > lap
        grp = 0 if overdue else (1 if (changed or last == 0) else 2)
        return (grp, last, times, idx[k])
    order = sorted(base, key=key)
    return {k: base[k] for k in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered_registry(_base_queries())


#: r10 DRAINED THE r9 QUEUE (VERDICT r9 task 1): redact_pii,
#: pii_features, pii_rate, dedup_paragraphs, cap_per_host_psl,
#: robots_verdict, crawl_delays, cdx_shards, cdx_latest, sitemap_locs,
#: shard_manifest (write_training_shards portable mode), host_graph,
#: domain_authority, and media_scrub all registered with full
#: value-hash oracles; data_card gained its pii/paragraphs sections.
#: r11 closed the r10 queue: `warc_members` (byte-range member fetch
#: against a shard fixture that owns its member index), `crawl_rounds`
#: (closed-form binary-tree web + robots gate, depth CASE oracle),
#: `schedule_frontier` (order-independent wave map), and `idna_hosts`
#: (punycode normalization + U-label PSL rules) are all in the gate
#: of record now — nothing on the crawl/WARC tier is pytest-only.
def _base_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pagerank": _q_pagerank(weighted=False, dangling=False),
        "pagerank_weighted": _q_pagerank(weighted=True, dangling=False),
        "pagerank_dangling": _q_pagerank(weighted=False, dangling=True),
        "sssp": _q_sssp,
        "sssp_paths": _q_sssp_paths,
        "bfs": _q_bfs,
        "bfs_chain": _q_bfs_chain,
        "wcc": _q_wcc,
        "wcc_star": _q_wcc_star,
        "lpa_communities": _q_lpa_communities,
        "lpa_weighted": _q_lpa_weighted,
        "sparsify_top_edges": _q_sparsify_top_edges,
        "community_modularity": _q_community_modularity,
        "degree_assortativity": _q_degree_assortativity,
        "reciprocity": _q_reciprocity,
        "nation_assortativity": _q_nation_assortativity,
        "retention_cohorts": _q_retention_cohorts,
        "profile_columns": _q_profile_columns,
        "neighbor_sample": _q_neighbor_sample,
        "k_truss": _q_k_truss,
        "random_walks": _q_random_walks,
        "ego_subgraph": _q_ego_subgraph,
        "jaccard_link_prediction": _q_jaccard_link_prediction,
        "adamic_adar": _q_adamic_adar,
        "betweenness_centrality": _q_betweenness,
        "k_core": _q_k_core,
        "s_core": _q_s_core,
        "max_propagation": _q_max_prop,
        "min_propagation": _q_min_prop,
        "clean_symmetric": _q_clean_symmetric,
        "normalize_weights_global": _q_normalize_weights_global,
        "out_degrees": _q_out_degrees,
        "in_degrees": _q_in_degrees,
        "graph_stats": _q_graph_stats,
        "triangle_count": _q_triangle_count,
        "triangles_per_vertex": _q_triangles_per_vertex,
        "clustering_coefficient": _q_clustering_coefficient,
        "core_numbers": _q_core_numbers,
        "harmonic_centrality": _q_harmonic_centrality,
        "closeness_centrality": _q_closeness_centrality,
        "eigenvector_centrality": _q_eigenvector_centrality,
        "hits": _q_hits,
        "diameter_estimate": _q_diameter_estimate,
        "avg_neighbor_degree": _q_avg_neighbor_degree,
        "triangle_closing_topk": _q_triangle_closing,
        "symmetrize_edges": _q_symmetrize,
        "symmetrize_weighted": _q_symmetrize_weighted,
        "remove_asym_edges": _q_remove_asym,
        "symmetry_check": _q_symmetry_check,
        "normalize_weights": _q_normalize_weights,
        "scc": _q_scc,
        "maximal_independent_set": _q_mis,
        "graph_coloring": _q_graph_coloring,
        "max_weight_matching": _q_max_weight_matching,
        "bipartite_matching": _q_bipartite_matching,
        "partition_quality": _q_partition_quality,
        "word_entropy": _q_word_entropy,
        "generated_graph_degrees": _q_generated_graph_degrees,
        "min_spanning_forest": _q_min_spanning_forest,
        "rfm_features": _q_rfm_features,
        "threshold_metrics": _q_threshold_metrics,
        "multilevel_coarsen": _q_multilevel_coarsen,
        "random_walk_with_restart": _q_rwr,
        "ppr_batch": _q_ppr_batch,
        "coarsen_by_region": _q_coarsen,
        "bracha_toueg_deadlock": _q_deadlock,
        "exact_duplicates": _q_exact_dups,
        "clean_corpus": _q_clean_corpus,
        "clean_corpus_compressed": _q_clean_corpus_compressed,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "minhash_lsh_pairs": _q_minhash_lsh,
        "fuzzy_decontaminate": _q_fuzzy_decontaminate,
        "near_dup_clusters": _q_near_dup_clusters,
        "dedup_corpus": _q_dedup_corpus,
        "dedup_corpus_quality": _q_dedup_corpus_quality,
        "incremental_dedup": _q_incremental_dedup,
        "funnel_counts": _q_funnel_counts,
        "simhash_near_pairs": _q_simhash,
        "quality_features": _q_quality,
        "quality_filter": _q_quality_filter,
        "token_counts": _q_token_counts,
        "token_histogram": _q_token_histogram,
        "chunk_documents": _q_chunk_documents,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "corpus_stats": _q_corpus_stats,
        "repetition_features": _q_repetition_features,
        "scrub_text": _q_scrub_text,
        "train_val_split": _q_train_val_split,
        "stratified_sample": _q_stratified_sample,
        "cap_per_domain": _q_cap_per_domain,
        "decontaminate": _q_decontaminate,
        "mixture_repeats": _q_mixture_repeats,
        "expand_repeats": _q_expand_repeats,
        "duplicate_ngrams": _q_duplicate_ngrams,
        "scrub_duplicate_ngrams": _q_scrub_duplicate_ngrams,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "unigram_logprob": _q_unigram_logprob,
        "bigram_logprob": _q_bigram_logprob,
        "perplexity_buckets": _q_perplexity_buckets,
        "pack_sequences": _q_pack_sequences,
        "identity": _q_identity,
        "graph_mutations": _q_graph_mutations,
        "blocks_two_hop_indegree": _q_blocks_two_hop,
        "degree_distribution": _q_degree_distribution,
        "vector_sum_by_cluster": _q_vector_sum_by_cluster,
        "sparse_vector_sum_by_cluster": _q_sparse_vector_sum_by_cluster,
        "multimodal_metadata": _q_multimodal_metadata,
        "strip_boilerplate": _q_strip_boilerplate,
        "gopher_rules": _q_gopher_rules,
        "dsir_importance": _q_dsir_importance,
        "clean_corpus_dsir": _q_clean_corpus_dsir,
        "decompress_text": _q_decompress_text,
        "gif_frame_stats": _q_gif_frame_stats,
        "decode_coverage": _q_decode_coverage,
        "bmp_pixel_stats": _q_bmp_pixel_stats,
        "png_pixel_stats": _q_png_pixel_stats,
        "webp_pixel_stats": _q_webp_pixel_stats,
        "mp4_metadata": _q_mp4_metadata,
        "mp4_frame_plan": _q_mp4_frame_plan,
        "jpeg_progressive_pixel_stats": _q_jpeg_progressive_pixel_stats,
        "png_interlaced_pixel_stats": _q_png_interlaced_pixel_stats,
        "jpeg_pixel_stats": _q_jpeg_pixel_stats,
        "gif_pixel_stats": _q_gif_pixel_stats,
        "wav_audio_stats": _q_wav_audio_stats,
        "multimodal_frame_plan": _q_multimodal_frame_plan,
        "embedding_covariance": _q_embedding_covariance,
        "cosine_topk": _q_cosine_topk,
        "ivf_topk": _q_ivf_topk,
        "lsh_topk": _q_lsh_topk,
        "ann_recall": _q_ann_recall,
        "quantize_embeddings": _q_quantize_embeddings,
        "kmeans_clusters": _q_kmeans_clusters,
        "semdedup": _q_semdedup,
        "semdedup_two_level": _q_semdedup_two_level,
        "embedding_near_dup_exact": _q_embedding_near_dup_exact,
        "embedding_near_dup_lsh": _q_embedding_near_dup_lsh,
        "sessionize": _q_sessionize,
        "event_counts_hourly": _q_event_counts,
        "asof_view_before_purchase": _q_asof_view_before_purchase,
        "views_before_purchase_1h": _q_views_before_purchase_1h,
        "event_rollup": _q_event_rollup,
        "url_curation": _q_url_curation,
        "wet_ingest": _q_wet_ingest,
        "data_card": _q_data_card,
        "bpe_merges": _q_bpe_merges,
        "redact_pii": _q_redact_pii,
        "pii_features": _q_pii_features,
        "pii_rate": _q_pii_rate,
        "dedup_paragraphs": _q_dedup_paragraphs,
        "cap_per_host_psl": _q_cap_per_host_psl,
        "robots_verdict": _q_robots_verdict,
        "crawl_delays": _q_crawl_delays,
        "crawl_rounds": _q_crawl_rounds,
        "schedule_frontier": _q_schedule_frontier,
        "warc_members": _q_warc_members,
        "idna_hosts": _q_idna_hosts,
        "surt_keys": _q_surt_keys,
        "pack_sequence_spans": _q_pack_sequence_spans,
        "url_features": _q_url_features,
        "image_dhash": _q_image_dhash,
        "image_near_dups": _q_image_near_dups,
        "audio_afp": _q_audio_afp,
        "audio_near_dups": _q_audio_near_dups,
        "dedup_media": _q_dedup_media,
        "frame_dhash": _q_frame_dhash,
        "video_vfp": _q_video_vfp,
        "video_near_dups": _q_video_near_dups,
        "cdx_shards": _q_cdx_shards,
        "cdx_latest": _q_cdx_latest,
        "sitemap_locs": _q_sitemap_locs,
        "shard_manifest": _q_shard_manifest,
        "host_graph": _q_host_graph,
        "domain_authority": _q_domain_authority,
        "new_frontier": _q_new_frontier,
        "media_scrub": _q_media_scrub,
    }


# -------------------------------------------------------- oracle SQL --


def _pagerank_oracle(iters: int, weighted: bool, dangling: bool) -> str:
    scatter = "e.weight / d.wsum" if weighted else "1.0 / d.deg"
    parts = [
        TRADE_GRAPH_SQL.strip(),
        """, deg AS (
    SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg, SUM(weight) AS wsum
    FROM edges GROUP BY src
), nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices)
, r0 AS MATERIALIZED (SELECT id, (SELECT 1.0 / n FROM nv) AS val FROM vertices)""",
    ]
    for t in range(iters):
        dang = ""
        if dangling:
            parts.append(
                f""", dang{t} AS MATERIALIZED (
    SELECT COALESCE(SUM(val), 0) AS dm FROM r{t}
    WHERE id NOT IN (SELECT src FROM deg)
)"""
            )
            dang = f" + (SELECT dm FROM dang{t}) / (SELECT n FROM nv)"
        parts.append(
            f""", r{t + 1} AS MATERIALIZED (
    SELECT v.id,
           (SELECT 0.15 / n FROM nv)
           + 0.85 * (COALESCE(m.s, 0){dang}) AS val
    FROM r{t} v
    LEFT JOIN (
        SELECT e.dst AS id, SUM(r.val * {scatter}) AS s
        FROM edges e
        JOIN r{t} r ON r.id = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ) m ON m.id = v.id
)"""
        )
    parts.append(
        f"SELECT CAST(id AS BIGINT) AS id,"
        f" ROUND(val * (SELECT n FROM nv), 6) AS rank FROM r{iters}"
    )
    return "\n".join(parts)


def _relax_oracle(
    k: int,
    init_case: str,
    msg: str,
    merge: str,
    final_select: str,
    graph_sql: str = TRADE_GRAPH_SQL,
    agg: str = "MIN",
) -> str:
    """Generic unrolled fixed-point: x0 = init; x_{t+1} = merge(x_t, agg(msg))."""
    parts = [graph_sql.strip(), f", x0 AS MATERIALIZED (SELECT id, {init_case} AS val FROM vertices)"]
    for t in range(k):
        parts.append(
            f""", x{t + 1} AS MATERIALIZED (
    SELECT v.id, {merge} AS val
    FROM x{t} v
    LEFT JOIN (
        SELECT e.dst AS id, {agg}({msg}) AS mv
        FROM edges e JOIN x{t} s ON s.id = e.src
        GROUP BY e.dst
    ) m ON m.id = v.id
)"""
        )
    parts.append(final_select.format(last=f"x{k}"))
    return "\n".join(parts)


def oracle_sql() -> dict[str, str]:
    inf = "'infinity'::DOUBLE"
    sssp_sql = _relax_oracle(
        UNROLL_K,
        f"CASE WHEN id = {SSSP_SOURCE} THEN 0.0 ELSE {inf} END",
        "s.val + e.weight",
        f"LEAST(v.val, COALESCE(m.mv, {inf}))",
        "SELECT CAST(id AS BIGINT) AS id, ROUND(val, 2) AS distance "
        f"FROM {{last}} WHERE val < {inf}",
    )
    bfs_sql = _relax_oracle(
        UNROLL_K,
        f"CASE WHEN id = {SSSP_SOURCE} THEN 0 ELSE 4611686018427387904 END",
        "s.val + 1",
        "LEAST(v.val, COALESCE(m.mv, v.val))",
        "SELECT CAST(id AS BIGINT) AS id, CAST(val AS BIGINT) AS level "
        "FROM {last} WHERE val < 4611686018427387904",
    )
    wcc_sql = _relax_oracle(
        UNROLL_K,
        "id",
        "s.val",
        "LEAST(v.val, COALESCE(m.mv, v.val))",
        "SELECT CAST(id AS BIGINT) AS id, CAST(val AS BIGINT) AS component FROM {last}",
    )

    # k-core by unrolled peeling: each round keeps vertices whose degree
    # within the surviving set is >= k; 20 rounds comfortably exceeds the
    # sf0.01 peeling depth, and extra rounds are no-ops at the fixpoint
    KCORE_K, KCORE_ROUNDS = 30, 20
    kc_parts = [
        TRADE_GRAPH_DIRECTED_SQL.strip(),
        """, sym AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
    )
), kr0 AS MATERIALIZED (SELECT id FROM vertices)""",
    ]
    for i in range(KCORE_ROUNDS):
        kc_parts.append(
            f""", kd{i} AS MATERIALIZED (
    SELECT e.src AS id, COUNT(*) AS c
    FROM sym e JOIN kr{i} a ON e.src = a.id JOIN kr{i} b ON e.dst = b.id
    GROUP BY 1
), kr{i + 1} AS MATERIALIZED (
    SELECT r.id FROM kr{i} r JOIN kd{i} d ON r.id = d.id WHERE d.c >= {KCORE_K}
)"""
        )
    kc_parts.append(
        f"\nSELECT CAST(id AS BIGINT) AS id FROM kr{KCORE_ROUNDS}"
    )
    k_core_sql = "".join(kc_parts)
    # weighted peel twin of k_core: strength = within-subgraph SUM(weight)
    sc_parts = [
        TRADE_GRAPH_SQL.strip(),
        ", sr0 AS MATERIALIZED (SELECT id FROM vertices)",
    ]
    SCORE_S, SCORE_ROUNDS = 2_500_000.0, 8
    for i in range(SCORE_ROUNDS):
        sc_parts.append(
            f""", sd{i} AS MATERIALIZED (
    SELECT e.src AS id, SUM(e.weight) AS st
    FROM edges e JOIN sr{i} a ON e.src = a.id JOIN sr{i} b ON e.dst = b.id
    GROUP BY 1
), sr{i + 1} AS MATERIALIZED (
    SELECT r.id FROM sr{i} r JOIN sd{i} d ON r.id = d.id
    WHERE d.st >= {SCORE_S}
)"""
        )
    sc_parts.append(
        f"\nSELECT CAST(id AS BIGINT) AS id FROM sr{SCORE_ROUNDS}"
    )
    s_core_sql = "".join(sc_parts)

    maxp_sql = _relax_oracle(
        UNROLL_K,
        "id",
        "s.val",
        "GREATEST(v.val, COALESCE(m.mv, v.val))",
        "SELECT CAST(id AS BIGINT) AS id, CAST(val AS BIGINT) AS max_value FROM {last}",
        agg="MAX",
    )
    minp_sql = _relax_oracle(
        UNROLL_K,
        "id",
        "s.val",
        "LEAST(v.val, COALESCE(m.mv, v.val))",
        "SELECT CAST(id AS BIGINT) AS id, CAST(val AS BIGINT) AS min_value FROM {last}",
        agg="MIN",
    )

    clean_sym_sql = (
        NATION_GRAPH_SQL.strip()
        + """
, ded AS (SELECT DISTINCT src, dst FROM edges)
, sym AS (SELECT src, dst FROM ded UNION SELECT dst AS src, src AS dst FROM ded)
, keep AS (SELECT DISTINCT src AS id FROM sym UNION SELECT DISTINCT dst FROM sym)
SELECT CAST(v.id AS BIGINT) AS id,
       CAST(COALESCE(d.c, 0) AS BIGINT) AS degree
FROM vertices v
JOIN keep k ON k.id = v.id
LEFT JOIN (SELECT src, COUNT(*) AS c FROM sym GROUP BY src) d ON d.src = v.id"""
    )

    normg_sql = (
        TRADE_GRAPH_DIRECTED_SQL.strip()
        + """
SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
       ROUND(weight / (SELECT SUM(weight) / COUNT(*) FROM edges), 7) AS weight
FROM edges"""
    )

    chain_parts = [
        EVENTS_CHAIN_SQL.strip(),
        """, roots AS (
    SELECT CAST(event_id AS BIGINT) AS id
    FROM (
        SELECT event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r
        FROM events
    ) t
    WHERE r = 1
), l0 AS MATERIALIZED (SELECT id, 0 AS lvl FROM roots)""",
    ]
    for t in range(CHAIN_DEPTH):
        chain_parts.append(
            f""", l{t + 1} AS MATERIALIZED (
    SELECT id, lvl FROM l{t}
    UNION
    SELECT e.dst AS id, {t + 1} AS lvl
    FROM edges e JOIN l{t} p ON p.id = e.src AND p.lvl = {t}
)"""
        )
    chain_parts.append(
        f"SELECT CAST(id AS BIGINT) AS id, CAST(lvl AS BIGINT) AS level "
        f"FROM l{CHAIN_DEPTH}"
    )
    bfs_chain_sql = "\n".join(chain_parts)

    deg_sql = (
        TRADE_GRAPH_DIRECTED_SQL.strip()
        + """
SELECT CAST(v.id AS BIGINT) AS id, CAST(COALESCE(d.c, 0) AS BIGINT) AS {col}
FROM vertices v
LEFT JOIN (SELECT {key}, COUNT(*) AS c FROM edges GROUP BY {key}) d
  ON d.{key} = v.id"""
    )

    stats_sql = (
        TRADE_GRAPH_DIRECTED_SQL.strip()
        + """
, degs AS (
    SELECT v.id, COALESCE(o.c, 0) AS od, COALESCE(i.c, 0) AS idg
    FROM vertices v
    LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o ON o.src = v.id
    LEFT JOIN (SELECT dst, COUNT(*) AS c FROM edges GROUP BY dst) i ON i.dst = v.id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(SUM(od) AS BIGINT) AS n_edges,
       CAST(MAX(od) AS BIGINT) AS max_out_degree,
       CAST(MAX(idg) AS BIGINT) AS max_in_degree,
       ROUND(AVG(od), 6) AS avg_out_degree,
       CAST(SUM(CASE WHEN od = 0 AND idg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_isolated
FROM degs"""
    )

    sym_sql = (
        NATION_GRAPH_SQL.strip()
        + """
, sym AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges)
"""
    )
    tri_sql = (
        sym_sql
        + """, o AS (SELECT src, dst FROM sym WHERE src < dst)
SELECT CAST(COUNT(*) AS BIGINT) AS triangles
FROM o e1 JOIN o e2 ON e1.dst = e2.src
JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst"""
    )
    tri_pv_sql = (
        sym_sql
        + """, o AS (SELECT src, dst FROM sym WHERE src < dst)
, tris AS (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM o e1 JOIN o e2 ON e1.dst = e2.src
    JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst
), corners AS (
    SELECT a AS id FROM tris UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris
)
SELECT CAST(v.id AS BIGINT) AS id, CAST(COALESCE(t.c, 0) AS BIGINT) AS triangles
FROM vertices v
LEFT JOIN (SELECT id, COUNT(*) AS c FROM corners GROUP BY id) t ON t.id = v.id"""
    )
    clustering_sql = (
        sym_sql
        + """, deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree FROM sym GROUP BY src)
, o AS (SELECT src, dst FROM sym WHERE src < dst)
, tris AS (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM o e1 JOIN o e2 ON e1.dst = e2.src
    JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst
), corners AS (
    SELECT a AS id FROM tris UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris
), tcnt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS t FROM corners GROUP BY id)
SELECT CAST(v.id AS BIGINT) AS id,
       CAST(COALESCE(deg.degree, 0) AS BIGINT) AS degree,
       CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS triangles,
       ROUND(CASE WHEN COALESCE(deg.degree, 0) >= 2
                  THEN 2.0 * COALESCE(tcnt.t, 0)
                       / (deg.degree * (deg.degree - 1))
                  ELSE 0.0 END, 6) AS clustering_coefficient
FROM vertices v
LEFT JOIN deg ON deg.id = v.id
LEFT JOIN tcnt ON tcnt.id = v.id"""
    )

    # Harmonic centrality oracle: all four pivots' BFS distances in ONE
    # (pivot, vertex) relation, 16 materialized one-hop extensions (the
    # kernel converges in ≤6 supersteps on this graph; extra rounds are
    # fixpoint no-ops), then the 1/d sum per vertex.
    hc_parts = [
        TRADE_GRAPH_SQL.strip()
        + """
, hp0 AS MATERIALIZED (
    SELECT CAST(pid AS BIGINT) AS pid, CAST(pid AS BIGINT) AS id, 0 AS d
    FROM (VALUES (1), (2), (3), (4)) AS p(pid)
)"""
    ]
    for t in range(16):
        hc_parts.append(
            f""", hp{t + 1} AS MATERIALIZED (
    SELECT pid, id, MIN(d) AS d FROM (
        SELECT pid, id, d FROM hp{t}
        UNION ALL
        SELECT dt.pid, e.dst AS id, dt.d + 1 AS d
        FROM hp{t} dt JOIN edges e ON e.src = dt.id
    ) u GROUP BY pid, id
)"""
        )
    hc_chain = "".join(hc_parts)
    harmonic_sql = (
        hc_chain
        + """
SELECT CAST(v.id AS BIGINT) AS id,
       ROUND(COALESCE(SUM(CASE WHEN dd.d > 0 THEN 1.0 / dd.d END), 0.0), 6)
         AS harmonic
FROM vertices v LEFT JOIN hp16 dd ON dd.id = v.id
GROUP BY v.id"""
    )
    # closeness shares the pivot-BFS chain: reached count / distance sum
    closeness_sql = (
        hc_chain
        + """
SELECT CAST(v.id AS BIGINT) AS id,
       ROUND(COALESCE(
           CAST(COUNT(CASE WHEN dd.d > 0 THEN 1 END) AS DOUBLE)
           / NULLIF(SUM(CASE WHEN dd.d > 0 THEN CAST(dd.d AS DOUBLE) END), 0),
           0.0), 6) AS closeness
FROM vertices v LEFT JOIN hp16 dd ON dd.id = v.id
GROUP BY v.id"""
    )

    # Core decomposition oracle: the same H-index fixpoint as the kernel,
    # unrolled 16 iterations (the nation graph converges in far fewer;
    # the sequence is stationary once converged, so extra rounds are
    # no-ops and both engines land on the identical fixpoint).
    # every c{t} is referenced twice by level t+1 — without MATERIALIZED
    # the CTE chain re-evaluates exponentially (2^16 base-table scans,
    # the SQL edition of the kernel's lineage-blowup problem)
    cn_parts = [
        sym_sql.replace("sym AS (", "sym AS MATERIALIZED (")
        + """, cdeg AS (SELECT src AS id, CAST(COUNT(*) AS INT) AS d FROM sym GROUP BY src)
, c0 AS MATERIALIZED (
    SELECT v.id, COALESCE(cdeg.d, 0) AS c
    FROM vertices v LEFT JOIN cdeg ON cdeg.id = v.id
)"""
    ]
    for t in range(16):
        cn_parts.append(
            f""", r{t} AS (
    SELECT e.src AS id, c.c AS cn,
           ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY c.c DESC) AS rn
    FROM sym e JOIN c{t} c ON c.id = e.dst
), h{t} AS (
    SELECT id, CAST(SUM(CASE WHEN cn >= rn THEN 1 ELSE 0 END) AS INT) AS h
    FROM r{t} GROUP BY id
), c{t + 1} AS MATERIALIZED (
    SELECT c{t}.id, COALESCE(h{t}.h, c{t}.c) AS c
    FROM c{t} LEFT JOIN h{t} ON h{t}.id = c{t}.id
)"""
        )
    cn_parts.append(
        """
SELECT CAST(id AS BIGINT) AS id, CAST(c AS BIGINT) AS core FROM c16"""
    )
    core_numbers_sql = "".join(cn_parts)

    avg_nbr_deg_sql = (
        TRADE_GRAPH_DIRECTED_SQL.strip()
        + """
, deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS nd FROM edges GROUP BY src)
, per AS (
    SELECT e.src AS id, ROUND(AVG(COALESCE(d.nd, 0)), 6) AS avg_nd
    FROM edges e LEFT JOIN deg d ON d.n = e.dst
    GROUP BY e.src
)
SELECT CAST(v.id AS BIGINT) AS id, per.avg_nd AS avg_neighbor_degree
FROM vertices v LEFT JOIN per ON per.id = v.id"""
    )

    # Triangle closing runs on the events-chain graph (sparse; guaranteed
    # non-adjacent 2-hop pairs) — the nation graph is so dense the result
    # was empty, making the oracle pass vacuous.
    tri_close_sql = (
        EVENTS_CHAIN_SQL.strip()
        + """
, ded AS (SELECT DISTINCT src, dst FROM edges)
, sym AS (SELECT src, dst FROM ded UNION SELECT dst AS src, src AS dst FROM ded)
, pairs AS (
    SELECT a.src AS id, b.dst AS candidate, CAST(COUNT(*) AS BIGINT) AS common_neighbors
    FROM sym a JOIN sym b ON a.dst = b.src
    WHERE a.src <> b.dst
      AND NOT EXISTS (SELECT 1 FROM sym s WHERE s.src = a.src AND s.dst = b.dst)
    GROUP BY a.src, b.dst
)
SELECT CAST(id AS BIGINT) AS id, CAST(candidate AS BIGINT) AS candidate,
       common_neighbors,
       CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY common_neighbors DESC, candidate ASC) AS BIGINT) AS rnk
FROM pairs QUALIFY rnk <= 5"""
    )

    symw_sql = (
        TRADE_GRAPH_DIRECTED_SQL.strip()
        + """
, agg AS (SELECT src, dst, SUM(weight) AS w FROM edges GROUP BY src, dst)
SELECT CAST(COALESCE(a.src, b.dst) AS BIGINT) AS src,
       CAST(COALESCE(a.dst, b.src) AS BIGINT) AS dst,
       ROUND(COALESCE(a.w, 0) + COALESCE(b.w, 0), 2) AS weight
FROM agg a FULL JOIN agg b ON a.src = b.dst AND a.dst = b.src"""
    )

    norm_sql = (
        TRADE_GRAPH_DIRECTED_SQL.strip()
        + """
SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
       ROUND(weight / SUM(weight) OVER (PARTITION BY src), 7) AS weight
FROM edges"""
    )

    # SCC: transitive closure by squaring (2^5 = 32 > |nation|), then
    # label = max mutually-reachable id.
    scc_parts = [
        NATION_GRAPH_SQL.strip(),
        ", r0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
    ]
    for t in range(5):
        scc_parts.append(
            f""", r{t + 1} AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM r{t}
        UNION ALL
        SELECT a.src, b.dst FROM r{t} a JOIN r{t} b ON a.dst = b.src
    ) t{t}
)"""
        )
    scc_parts.append(
        """SELECT CAST(v.id AS BIGINT) AS id,
       CAST(GREATEST(v.id, COALESCE(MAX(x.u), v.id)) AS BIGINT) AS scc
FROM vertices v
LEFT JOIN (
    SELECT f.src AS vid, f.dst AS u
    FROM r5 f JOIN r5 b ON b.src = f.dst AND b.dst = f.src
) x ON x.vid = v.id
GROUP BY v.id"""
    )
    scc_sql = "\n".join(scc_parts)

    # MIS: unrolled Luby rounds with md5(id) priorities (same hash both
    # engines, so the oracle reproduces the exact same set).
    mis_parts = [
        sym_sql,
        ", s0 AS MATERIALIZED (SELECT id, 0 AS st, md5(CAST(id AS VARCHAR)) AS pri FROM vertices)",
    ]
    for t in range(8):
        mis_parts.append(
            f""", in{t} AS MATERIALIZED (
    SELECT s.id FROM s{t} s
    WHERE s.st = 0 AND NOT EXISTS (
        SELECT 1 FROM sym e JOIN s{t} n ON n.id = e.src
        WHERE e.dst = s.id AND n.st = 0 AND n.pri < s.pri)
), s{t + 1} AS MATERIALIZED (
    SELECT s.id,
           CASE WHEN s.id IN (SELECT id FROM in{t}) THEN 1
                WHEN s.st = 0 AND EXISTS (
                    SELECT 1 FROM sym e JOIN in{t} i ON i.id = e.src
                    WHERE e.dst = s.id) THEN 2
                ELSE s.st END AS st,
           s.pri
    FROM s{t} s
)"""
        )
    mis_parts.append(
        "SELECT CAST(id AS BIGINT) AS id, (st = 1) AS in_set FROM s8"
    )
    mis_sql = "\n".join(mis_parts)

    # Graph coloring: unrolled Jones–Plassmann waves with md5(id)
    # priorities on the symmetrized events chain — a vertex whose every
    # smaller-priority neighbor is colored takes the mex of those
    # neighbors' colors. 16 waves ≥ the measured 7–8 needed (longest
    # priority-decreasing path; sparse chain keeps it logarithmic).
    coloring_parts = [
        EVENTS_CHAIN_SQL.strip(),
        """, sym AS MATERIALIZED (
    SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges
), gc0 AS MATERIALIZED (
    SELECT id, md5(CAST(id AS VARCHAR)) AS pri,
           CAST(NULL AS BIGINT) AS color
    FROM vertices
)""",
    ]
    for t in range(16):
        coloring_parts.append(
            f""", rdy{t} AS MATERIALIZED (
    SELECT s.id, s.pri FROM gc{t} s
    WHERE s.color IS NULL AND NOT EXISTS (
        SELECT 1 FROM sym e JOIN gc{t} n ON n.id = e.src
        WHERE e.dst = s.id AND n.color IS NULL AND n.pri < s.pri)
), tk{t} AS MATERIALIZED (
    SELECT r.id, n.color AS c
    FROM rdy{t} r JOIN sym e ON e.dst = r.id
    JOIN gc{t} n ON n.id = e.src
    WHERE n.color IS NOT NULL AND n.pri < r.pri
    GROUP BY r.id, n.color
), cand{t} AS MATERIALIZED (
    SELECT id, UNNEST(range(0, COUNT(*) + 1)) AS k FROM tk{t} GROUP BY id
), free{t} AS MATERIALIZED (
    SELECT c.id, MIN(c.k) AS c FROM cand{t} c
    WHERE NOT EXISTS (
        SELECT 1 FROM tk{t} x WHERE x.id = c.id AND x.c = c.k)
    GROUP BY c.id
), mex{t} AS MATERIALIZED (
    SELECT r.id, COALESCE(f.c, 0) AS c
    FROM rdy{t} r LEFT JOIN free{t} f ON f.id = r.id
), gc{t + 1} AS MATERIALIZED (
    SELECT s.id, s.pri, COALESCE(s.color, m.c) AS color
    FROM gc{t} s LEFT JOIN mex{t} m ON m.id = s.id
)"""
        )
    coloring_parts.append(
        "SELECT CAST(id AS BIGINT) AS id, CAST(color AS BIGINT) AS color FROM gc16"
    )
    coloring_sql = "\n".join(coloring_parts)

    # Greedy max-weight matching: unrolled pick-mutual rounds on the
    # symmetrized weighted trade graph (same wsym construction as the
    # symmetrize_weighted oracle). Tie-break (weight DESC, dst ASC) is a
    # total order, so extra rounds past convergence are no-ops; measured
    # convergence is 2 rounds, 8 unrolled.
    mwm_parts = [
        TRADE_GRAPH_DIRECTED_SQL.strip(),
        """, agg AS (SELECT src, dst, SUM(weight) AS w FROM edges GROUP BY src, dst)
, wsym AS MATERIALIZED (
    SELECT CAST(COALESCE(a.src, b.dst) AS BIGINT) AS src,
           CAST(COALESCE(a.dst, b.src) AS BIGINT) AS dst,
           ROUND(COALESCE(a.w, 0) + COALESCE(b.w, 0), 2) AS weight
    FROM agg a FULL JOIN agg b ON a.src = b.dst AND a.dst = b.src
), mw0 AS MATERIALIZED (
    SELECT id, CAST(NULL AS BIGINT) AS m FROM vertices
)""",
    ]
    for t in range(8):
        mwm_parts.append(
            f""", live{t} AS MATERIALIZED (
    SELECT e.src, e.dst, e.weight FROM wsym e
    JOIN mw{t} a ON a.id = e.src AND a.m IS NULL
    JOIN mw{t} b ON b.id = e.dst AND b.m IS NULL
), pick{t} AS MATERIALIZED (
    SELECT src, dst FROM live{t}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY weight DESC, dst ASC) = 1
), mut{t} AS MATERIALIZED (
    SELECT p.src AS id, p.dst AS mm FROM pick{t} p
    JOIN pick{t} q ON q.src = p.dst AND q.dst = p.src
), mw{t + 1} AS MATERIALIZED (
    SELECT s.id, COALESCE(s.m, m.mm) AS m
    FROM mw{t} s LEFT JOIN mut{t} m ON m.id = s.id
)"""
        )
    mwm_parts.append(
        "SELECT CAST(id AS BIGINT) AS id, CAST(m AS BIGINT) AS matched_with FROM mw8"
    )
    mwm_sql = "\n".join(mwm_parts)

    # Bipartite matching: unrolled request→grant→accept cycles with
    # md5(id) grant/accept priorities on the customer→supplier relation.
    # Measured convergence 13 rounds at sf0.01; 32 unrolled (idempotent
    # past the fixed point).
    bip_parts = [
        TRADE_GRAPH_DIRECTED_SQL.strip(),
        """, be AS MATERIALIZED (
    SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM edges
), bp0 AS MATERIALIZED (
    SELECT id, CAST(NULL AS BIGINT) AS m FROM vertices
)""",
    ]
    for t in range(32):
        bip_parts.append(
            f""", req{t} AS MATERIALIZED (
    SELECT e.src, e.dst FROM be e
    JOIN bp{t} a ON a.id = e.src AND a.m IS NULL
    JOIN bp{t} b ON b.id = e.dst AND b.m IS NULL
), grant{t} AS MATERIALIZED (
    SELECT src, dst FROM req{t}
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY dst ORDER BY md5(CAST(src AS VARCHAR)) ASC) = 1
), acc{t} AS MATERIALIZED (
    SELECT src, dst FROM grant{t}
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY src ORDER BY md5(CAST(dst AS VARCHAR)) ASC) = 1
), bp{t + 1} AS MATERIALIZED (
    SELECT s.id, COALESCE(s.m, a.dst, b.src) AS m
    FROM bp{t} s
    LEFT JOIN acc{t} a ON a.src = s.id
    LEFT JOIN acc{t} b ON b.dst = s.id
)"""
        )
    bip_parts.append(
        "SELECT CAST(id AS BIGINT) AS id, CAST(m AS BIGINT) AS matched_with FROM bp32"
    )
    bip_sql = "\n".join(bip_parts)

    # Multilevel coarsening: two unrolled heavy-edge-matching levels with
    # a contraction between (same wsym base and per-round schedule as the
    # max_weight_matching oracle; 8 rounds per level, idempotent past the
    # measured 2-3-round fixpoint).
    def _mwm_rounds(prefix: str, edges_rel: str, verts_rel: str, rounds: int):
        parts = [
            f""", {prefix}mw0 AS MATERIALIZED (
    SELECT id, CAST(NULL AS BIGINT) AS m FROM {verts_rel}
)"""
        ]
        for t in range(rounds):
            parts.append(
                f""", {prefix}live{t} AS MATERIALIZED (
    SELECT e.src, e.dst, e.weight FROM {edges_rel} e
    JOIN {prefix}mw{t} a ON a.id = e.src AND a.m IS NULL
    JOIN {prefix}mw{t} b ON b.id = e.dst AND b.m IS NULL
), {prefix}pick{t} AS MATERIALIZED (
    SELECT src, dst FROM {prefix}live{t}
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY src ORDER BY weight DESC, dst ASC) = 1
), {prefix}mut{t} AS MATERIALIZED (
    SELECT p.src AS id, p.dst AS mm FROM {prefix}pick{t} p
    JOIN {prefix}pick{t} q ON q.src = p.dst AND q.dst = p.src
), {prefix}mw{t + 1} AS MATERIALIZED (
    SELECT s.id, COALESCE(s.m, m.mm) AS m
    FROM {prefix}mw{t} s LEFT JOIN {prefix}mut{t} m ON m.id = s.id
)"""
            )
        return "".join(parts), f"{prefix}mw{rounds}"

    mlc_parts = [
        TRADE_GRAPH_DIRECTED_SQL.strip(),
        """, agg2 AS (SELECT src, dst, SUM(weight) AS w FROM edges GROUP BY src, dst)
, wsym AS MATERIALIZED (
    SELECT CAST(COALESCE(a.src, b.dst) AS BIGINT) AS src,
           CAST(COALESCE(a.dst, b.src) AS BIGINT) AS dst,
           ROUND(COALESCE(a.w, 0) + COALESCE(b.w, 0), 2) AS weight
    FROM agg2 a FULL JOIN agg2 b ON a.src = b.dst AND a.dst = b.src
), v0 AS MATERIALIZED (SELECT CAST(id AS BIGINT) AS id FROM vertices)""",
    ]
    l0, l0_final = _mwm_rounds("l0", "wsym", "v0", 8)
    mlc_parts.append(l0)
    mlc_parts.append(
        f""", map0 AS MATERIALIZED (
    SELECT id, CASE WHEN m IS NULL THEN id ELSE LEAST(id, m) END AS c
    FROM {l0_final}
), e1 AS MATERIALIZED (
    SELECT m1.c AS src, m2.c AS dst, ROUND(SUM(e.weight), 2) AS weight
    FROM wsym e JOIN map0 m1 ON m1.id = e.src JOIN map0 m2 ON m2.id = e.dst
    WHERE m1.c <> m2.c GROUP BY 1, 2
), v1 AS MATERIALIZED (SELECT DISTINCT c AS id FROM map0)"""
    )
    l1, l1_final = _mwm_rounds("l1", "e1", "v1", 8)
    mlc_parts.append(l1)
    mlc_parts.append(
        f""", map1 AS MATERIALIZED (
    SELECT id, CASE WHEN m IS NULL THEN id ELSE LEAST(id, m) END AS c
    FROM {l1_final}
)
SELECT CAST(m0.id AS BIGINT) AS id, CAST(m1.c AS BIGINT) AS cluster
FROM map0 m0 JOIN map1 m1 ON m1.id = m0.c"""
    )
    mlc_sql = "\n".join(mlc_parts)

    # Partition quality: 8-way portable-hash bucket stats on the directed
    # trade graph — per-partition vertex/edge counts + cut edges.
    partition_quality_sql = (
        TRADE_GRAPH_DIRECTED_SQL.strip()
        + """
, vb AS (
    SELECT CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 8 AS part_id
    FROM vertices
), v AS (
    SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM vb GROUP BY 1
), eb AS (
    SELECT CAST(('0x' || substr(md5(CAST(src AS VARCHAR)), 1, 15)) AS BIGINT)
           % 8 AS sp,
           CAST(('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 15)) AS BIGINT)
           % 8 AS dp
    FROM edges
), e AS (
    SELECT sp AS part_id, CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN sp <> dp THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cut_edges
    FROM eb GROUP BY 1
)
SELECT CAST(COALESCE(v.part_id, e.part_id) AS BIGINT) AS part_id,
       CAST(COALESCE(v.n_vertices, 0) AS BIGINT) AS n_vertices,
       CAST(COALESCE(e.n_edges, 0) AS BIGINT) AS n_edges,
       CAST(COALESCE(e.n_cut_edges, 0) AS BIGINT) AS n_cut_edges
FROM v FULL JOIN e ON v.part_id = e.part_id"""
    )

    # Borůvka MSF: unrolled phases on the canonicalized trade graph.
    # Each phase: per-component min outgoing edge under the (w, u, v)
    # total order, mutual-pair rooting, 8 pointer jumps (chain depth
    # halves per jump), relabel. Measured convergence: 4 phases at
    # sf0.01; 8 unrolled (empty selections past the fixpoint are no-ops).
    msf_parts = [
        TRADE_GRAPH_DIRECTED_SQL.strip(),
        """, ce AS MATERIALIZED (
    SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,
           MIN(weight) AS w
    FROM edges WHERE src <> dst GROUP BY 1, 2
), lab0 AS MATERIALIZED (
    SELECT CAST(id AS BIGINT) AS vid, CAST(id AS BIGINT) AS comp
    FROM vertices
)""",
    ]
    MSF_P, MSF_J = 8, 8
    for t in range(MSF_P):
        jumps = "".join(
            f""", par{t}_{j + 1} AS MATERIALIZED (
    SELECT p.comp, COALESCE(q.par, p.par) AS par
    FROM par{t}_0 p LEFT JOIN par{t}_{j} q ON q.comp = p.par
)"""
            if j == 0
            else f""", par{t}_{j + 1} AS MATERIALIZED (
    SELECT p.comp, COALESCE(q.par, p.par) AS par
    FROM par{t}_{j} p LEFT JOIN par{t}_{j} q ON q.comp = p.par
)"""
            for j in range(MSF_J)
        )
        msf_parts.append(
            f""", le{t} AS MATERIALIZED (
    SELECT e.u, e.v, e.w, a.comp AS cu, b.comp AS cv
    FROM ce e JOIN lab{t} a ON a.vid = e.u JOIN lab{t} b ON b.vid = e.v
    WHERE a.comp <> b.comp
), both{t} AS MATERIALIZED (
    SELECT cu AS comp, cv AS oc, u, v, w FROM le{t}
    UNION ALL
    SELECT cv AS comp, cu AS oc, u, v, w FROM le{t}
), sel{t} AS MATERIALIZED (
    SELECT comp, oc, u, v, w FROM both{t}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w, u, v) = 1
), pick{t} AS MATERIALIZED (
    SELECT DISTINCT u, v, w FROM sel{t}
), par{t}_0 AS MATERIALIZED (
    SELECT s.comp,
           CASE WHEN m.comp IS NOT NULL AND s.comp < s.oc
                THEN s.comp ELSE s.oc END AS par
    FROM sel{t} s LEFT JOIN sel{t} m ON m.comp = s.oc AND m.oc = s.comp
){jumps}, lab{t + 1} AS MATERIALIZED (
    SELECT l.vid, COALESCE(p.par, l.comp) AS comp
    FROM lab{t} l LEFT JOIN par{t}_{MSF_J} p ON p.comp = l.comp
)"""
        )
    msf_parts.append(
        "SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,\n"
        "       ROUND(w, 2) AS weight\nFROM ("
        + " UNION ALL ".join(f"SELECT * FROM pick{t}" for t in range(MSF_P))
        + ")"
    )
    msf_sql = "\n".join(msf_parts)

    # Generated-graph degrees: replay BOTH generators' hashed randomness
    # (md5 of "seed:tag:src:slot") and histogram the in-degrees.
    gen_degrees_sql = """
WITH ids AS (SELECT UNNEST(range(2000)) AS id),
uslots AS (SELECT UNNEST(range(4)) AS k),
ue AS (
    SELECT id AS src,
           CAST(('0x' || substr(md5('7:d:' || CAST(id AS VARCHAR) || ':'
               || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 2000 AS dst0
    FROM ids CROSS JOIN uslots
),
uedges AS (
    SELECT src,
           CASE WHEN dst0 = src THEN (dst0 + 1) % 2000 ELSE dst0 END AS dst
    FROM ue
),
udeg AS (
    SELECT i.id, CAST(COUNT(e.dst) AS BIGINT) AS in_degree
    FROM ids i LEFT JOIN uedges e ON e.dst = i.id GROUP BY i.id
),
uhist AS (
    SELECT 'uniform' AS generator, in_degree,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM udeg GROUP BY in_degree
),
wslots AS (SELECT UNNEST(range(1, 5)) AS off),
wl AS (
    SELECT id AS src, off, (id + off) % 2000 AS lat,
           CAST(('0x' || substr(md5('7:u:' || CAST(id AS VARCHAR) || ':'
               || CAST(off AS VARCHAR)), 1, 15)) AS BIGINT)
               / 1152921504606846976.0 AS u,
           CAST(('0x' || substr(md5('7:t:' || CAST(id AS VARCHAR) || ':'
               || CAST(off AS VARCHAR)), 1, 15)) AS BIGINT) % 2000 AS t
    FROM ids CROSS JOIN wslots
),
wr AS (SELECT src, CASE WHEN u < 0.2 THEN t ELSE lat END AS dst0 FROM wl),
wedges AS (
    SELECT src,
           CASE WHEN dst0 = src THEN (dst0 + 1) % 2000 ELSE dst0 END AS dst
    FROM wr
),
wdeg AS (
    SELECT i.id, CAST(COUNT(e.dst) AS BIGINT) AS in_degree
    FROM ids i LEFT JOIN wedges e ON e.dst = i.id GROUP BY i.id
),
whist AS (
    SELECT 'watts_strogatz' AS generator, in_degree,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM wdeg GROUP BY in_degree
)
SELECT * FROM uhist UNION ALL SELECT * FROM whist"""

    # Random walk with restart: PR unroll with teleport+dangling to source.
    rwr_parts = [
        TRADE_GRAPH_SQL.strip(),
        """, deg AS (
    SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg, SUM(weight) AS wsum
    FROM edges GROUP BY src
), r0 AS MATERIALIZED (
    SELECT id, CASE WHEN id = %d THEN 1.0 ELSE 0.0 END AS val FROM vertices
)"""
        % SSSP_SOURCE,
    ]
    for t in range(PR_ITERS):
        rwr_parts.append(
            f""", dang{t} AS MATERIALIZED (
    SELECT COALESCE(SUM(val), 0) AS dm FROM r{t}
    WHERE id NOT IN (SELECT src FROM deg)
), r{t + 1} AS MATERIALIZED (
    SELECT v.id,
           CASE WHEN v.id = {SSSP_SOURCE}
                THEN 0.15 + 0.85 * (SELECT dm FROM dang{t}) ELSE 0.0 END
           + 0.85 * COALESCE(m.s, 0) AS val
    FROM r{t} v
    LEFT JOIN (
        SELECT e.dst AS id, SUM(r.val * 1.0 / d.deg) AS s
        FROM edges e JOIN r{t} r ON r.id = e.src JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ) m ON m.id = v.id
)"""
        )
    rwr_parts.append(
        f"SELECT CAST(id AS BIGINT) AS id, ROUND(val, 6) AS rank FROM r{PR_ITERS}"
    )
    rwr_sql = "\n".join(rwr_parts)

    # batch PPR twin: the rwr chain with a source dimension — each seed
    # is an independent walk (teleport + its own dangling return)
    ppr_parts = [
        TRADE_GRAPH_SQL.strip(),
        """, deg AS (
    SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src
), srcs AS (SELECT UNNEST([1, 2, 3]) AS s),
p0 AS MATERIALIZED (
    SELECT v.id, srcs.s,
           CASE WHEN v.id = srcs.s THEN 1.0 ELSE 0.0 END AS val
    FROM vertices v CROSS JOIN srcs
)""",
    ]
    for t in range(PR_ITERS):
        ppr_parts.append(
            f""", pd{t} AS MATERIALIZED (
    SELECT s, COALESCE(SUM(val), 0) AS dm FROM p{t}
    WHERE id NOT IN (SELECT src FROM deg) GROUP BY s
), p{t + 1} AS MATERIALIZED (
    SELECT v.id, v.s,
           CASE WHEN v.id = v.s
                THEN 0.15 + 0.85 * COALESCE(dg.dm, 0) ELSE 0.0 END
           + 0.85 * COALESCE(m.acc, 0) AS val
    FROM p{t} v
    LEFT JOIN pd{t} dg ON dg.s = v.s
    LEFT JOIN (
        SELECT e.dst AS id, r.s, SUM(r.val * 1.0 / d.deg) AS acc
        FROM edges e JOIN p{t} r ON r.id = e.src JOIN deg d ON d.src = e.src
        GROUP BY e.dst, r.s
    ) m ON m.id = v.id AND m.s = v.s
)"""
        )
    ppr_parts.append(
        f"SELECT CAST(id AS BIGINT) AS id, CAST(s AS BIGINT) AS source,"
        f" ROUND(val, 6) AS rank FROM p{PR_ITERS}"
    )
    ppr_batch_sql = "\n".join(ppr_parts)

    coarsen_sql = (
        NATION_GRAPH_SQL.strip()
        + """
, mapping AS (SELECT CAST(n_nationkey AS BIGINT) AS id, CAST(n_regionkey AS BIGINT) AS cluster FROM nation)
SELECT ms.cluster AS src, md.cluster AS dst,
       CAST(COUNT(*) AS DOUBLE) AS weight
FROM edges e
JOIN mapping ms ON ms.id = e.src
JOIN mapping md ON md.id = e.dst
WHERE ms.cluster <> md.cluster
GROUP BY ms.cluster, md.cluster"""
    )

    # Bracha-Toueg: notified = reachability from 0 (closure by squaring);
    # granting = unrolled LFP (leaf base, any-tag-group-satisfied step).
    dl_parts = [
        NATION_GRAPH_SQL.strip(),
        """, wf AS MATERIALIZED (SELECT src, dst, dst % 2 AS tag FROM edges WHERE src < dst)
, c0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM wf)""",
    ]
    for t in range(5):
        dl_parts.append(
            f""", c{t + 1} AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM c{t}
        UNION ALL
        SELECT a.src, b.dst FROM c{t} a JOIN c{t} b ON a.dst = b.src
    ) u{t}
)"""
        )
    dl_parts.append(
        """, notified AS MATERIALIZED (
    SELECT id FROM vertices WHERE id = 0
    UNION
    SELECT dst AS id FROM c5 WHERE src = 0
), g0 AS MATERIALIZED (
    SELECT id FROM notified
    WHERE id <> 0 AND id NOT IN (SELECT src FROM wf)
)"""
    )
    for t in range(24):
        dl_parts.append(
            f""", g{t + 1} AS MATERIALIZED (
    SELECT id FROM g{t}
    UNION
    SELECT w.src AS id FROM wf w
    GROUP BY w.src, w.tag
    HAVING COUNT(*) = COUNT(CASE WHEN w.dst IN (SELECT id FROM g{t}) THEN 1 END)
)"""
        )
    dl_parts.append(
        """SELECT CAST(v.id AS BIGINT) AS id,
       (v.id IN (SELECT id FROM g24)
        OR (v.id = 0 AND v.id IN (SELECT id FROM notified)
            AND v.id NOT IN (SELECT src FROM wf))) AS is_free
FROM vertices v"""
    )
    deadlock_sql = "\n".join(dl_parts)

    # -------- pipeline (M7) oracles --------
    norm = (
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
        " '\\s+', ' ', 'g'))"
    )
    exact_dups_sql = f"""
WITH docs2 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id, ' ' || text || ' !! ' AS text
    FROM documents WHERE doc_id % 20 = 0
),
h AS (SELECT doc_id, md5({norm}) AS hash FROM docs2)
SELECT hash, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS keep_id
FROM h GROUP BY hash HAVING COUNT(*) > 1"""

    ngram_sql = f"""
WITH norm AS (SELECT doc_id, {norm} AS t FROM documents),
sh AS MATERIALIZED (
    SELECT DISTINCT doc_id, substring(t, CAST(i AS INT), 5) AS s FROM (
        SELECT doc_id, t,
               unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
        FROM norm) u
),
freq AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
shf AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh JOIN freq USING (s)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shf GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
    FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) >= 0.5"""

    # Shared shingle CTE for the portable sketch oracles (k=5 char-grams
    # over normalized text, distinct per doc — twin of dedup.shingle_df).
    shingle_cte = f"""
WITH nrm AS (SELECT doc_id, {norm} AS t FROM documents),
sh AS MATERIALIZED (
    SELECT DISTINCT doc_id, substring(t, CAST(i AS INT), 5) AS s FROM (
        SELECT doc_id, t,
               unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
        FROM nrm) u
)"""

    # MinHash-LSH replay: identical md5-derived signatures (portable mode
    # of functions/dedup.py::minhash_signatures), identical band buckets
    # (raw comma-joined strings), bucket cap, and match-fraction estimate.
    minhash_est_cte = (
        shingle_cte
        + """,
seeds AS (SELECT unnest(range(64)) AS seed),
sig AS MATERIALIZED (
    SELECT doc_id, seed,
           MIN(CAST(('0x' || substr(md5(seed || ':' || s), 1, 15)) AS BIGINT)) AS mh
    FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
),
bnd AS (
    SELECT doc_id, seed // 4 AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
    FROM sig GROUP BY doc_id, seed // 4
),
ok_buckets AS (
    SELECT band, bucket FROM bnd GROUP BY band, bucket HAVING COUNT(*) <= 200
),
bf AS (SELECT bnd.* FROM bnd JOIN ok_buckets USING (band, bucket)),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bf a JOIN bf b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS (
    SELECT c.id_a, c.id_b,
           ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 64.0, 6)
             AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
    GROUP BY c.id_a, c.id_b
)"""
    )
    minhash_lsh_sql = (
        minhash_est_cte
        + """
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, est_jaccard
FROM est WHERE est_jaccard >= 0.5"""
    )

    # fuzzy decontamination: the same md5 signature/band replay, but the
    # candidate join runs BETWEEN the (augmented) corpus and the
    # benchmark relations — never within either
    fuzzy_decon_sql = f"""
WITH bench AS (
    SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 41 = 0
),
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT bench_id + 10000000 AS doc_id, ' ' || text || ' !! ' AS text
    FROM bench
),
nc AS (SELECT doc_id, {norm} AS t FROM corpus),
shc AS MATERIALIZED (
    SELECT DISTINCT doc_id, substring(t, CAST(i AS INT), 5) AS s FROM (
        SELECT doc_id, t,
               unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
        FROM nc) u
),
nb AS (SELECT bench_id, {norm} AS t FROM bench),
shb AS MATERIALIZED (
    SELECT DISTINCT bench_id, substring(t, CAST(i AS INT), 5) AS s FROM (
        SELECT bench_id, t,
               unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
        FROM nb) u
),
seeds AS (SELECT unnest(range(64)) AS seed),
sigc AS MATERIALIZED (
    SELECT doc_id, seed,
           MIN(CAST(('0x' || substr(md5(seed || ':' || s), 1, 15)) AS BIGINT)) AS mh
    FROM shc CROSS JOIN seeds GROUP BY doc_id, seed
),
sigb AS MATERIALIZED (
    SELECT bench_id, seed,
           MIN(CAST(('0x' || substr(md5(seed || ':' || s), 1, 15)) AS BIGINT)) AS mh
    FROM shb CROSS JOIN seeds GROUP BY bench_id, seed
),
bndc AS (
    SELECT doc_id, seed // 4 AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
    FROM sigc GROUP BY doc_id, seed // 4
),
bndb AS (
    SELECT bench_id, seed // 4 AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
    FROM sigb GROUP BY bench_id, seed // 4
),
okc AS (SELECT band, bucket FROM bndc GROUP BY 1, 2 HAVING COUNT(*) <= 200),
okb AS (SELECT band, bucket FROM bndb GROUP BY 1, 2 HAVING COUNT(*) <= 200),
bfc AS (SELECT bndc.* FROM bndc JOIN okc USING (band, bucket)),
bfb AS (SELECT bndb.* FROM bndb JOIN okb USING (band, bucket)),
cand AS (
    SELECT DISTINCT c.doc_id, b.bench_id
    FROM bfc c JOIN bfb b USING (band, bucket)
),
fest AS (
    SELECT c.doc_id, c.bench_id,
           ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 64.0, 6)
             AS est_jaccard
    FROM cand c
    JOIN sigc sa ON sa.doc_id = c.doc_id
    JOIN sigb sb ON sb.bench_id = c.bench_id AND sb.seed = sa.seed
    GROUP BY c.doc_id, c.bench_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(bench_id AS BIGINT) AS bench_id, est_jaccard
FROM fest WHERE est_jaccard >= 0.5"""

    # Near-dup clusters: the minhash pair relation closed transitively
    # (repeated squaring — 6 rounds reach 2^6 = 64 hops, matching the
    # Spark side's wcc max_supersteps=64; both exceed any plausible
    # near-dup chain) — twin of functions/dedup.py::near_dup_clusters
    # (LSH pairs → WCC kernel).
    ndc_parts = [
        minhash_est_cte
        + """,
pe AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM est WHERE est_jaccard >= 0.5),
c0 AS MATERIALIZED (
    SELECT a, b FROM pe UNION SELECT b, a FROM pe
    UNION SELECT a, a FROM pe UNION SELECT b, b FROM pe
)"""
    ]
    for t in range(6):
        ndc_parts.append(
            f""", c{t + 1} AS MATERIALIZED (
    SELECT DISTINCT a, b FROM (
        SELECT a, b FROM c{t}
        UNION ALL
        SELECT x.a, y.b FROM c{t} x JOIN c{t} y ON x.b = y.a
    ) u{t}
)"""
        )
    ndc_parts.append(
        """
SELECT CAST(a AS BIGINT) AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster,
       a = MIN(b) AS is_keeper
FROM c6 GROUP BY a"""
    )
    near_dup_clusters_sql = "".join(ndc_parts)

    # dedup_corpus: exact-dup removal (same planted copies as
    # exact_duplicates) then near-dup keeper selection over the exact
    # survivors — twin of functions/dedup.py::dedup_corpus. Reuses the
    # minhash/closure chain with its shingle base redirected at the
    # survivors CTE.
    ndc_chain_after_nrm = "".join(ndc_parts[:-1]).split("sh AS MATERIALIZED", 1)[1]
    dedup_corpus_sql = (
        f"""
WITH docs2 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id, ' ' || text || ' !! ' AS text
    FROM documents WHERE doc_id % 20 = 0
),
exh AS (SELECT doc_id, md5({norm}) AS h FROM docs2),
keepx AS (SELECT h, MIN(doc_id) AS keep FROM exh GROUP BY h),
exsurv AS MATERIALIZED (
    SELECT d2.doc_id, d2.text FROM docs2 d2
    JOIN exh ON exh.doc_id = d2.doc_id
    JOIN keepx ON keepx.h = exh.h
    WHERE d2.doc_id = keepx.keep
),
nrm AS (SELECT doc_id, {norm} AS t FROM exsurv),
sh AS MATERIALIZED"""
        + ndc_chain_after_nrm
        + """
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM exsurv
WHERE doc_id NOT IN (SELECT a FROM c6 GROUP BY a HAVING a <> MIN(b))"""
    )

    # incremental-dedup twin: exact tier = md5 equi-join; near tier =
    # the fuzzy_decontaminate replay with the new batch as the probing
    # side; status precedence exact > near > new, dup_of = min match
    incremental_dedup_sql = f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
newb AS (
    SELECT doc_id + 20000000 AS doc_id, upper(text) AS text
    FROM documents WHERE doc_id % 11 = 0
    UNION ALL
    SELECT doc_id + 30000000, text || ' extra appended reviewer tokens'
    FROM documents WHERE doc_id % 9 = 0 AND doc_id % 11 <> 0
    UNION ALL
    SELECT doc_id + 40000000,
           'zz ' || md5(CAST(doc_id AS VARCHAR)) || ' '
                 || md5(CAST(doc_id + 1 AS VARCHAR))
    FROM documents WHERE doc_id % 13 = 0
),
hn AS (SELECT doc_id, md5({norm}) AS h FROM newb),
hc AS (SELECT doc_id AS cid, md5({norm}) AS h FROM corpus),
ex AS (SELECT hn.doc_id, MIN(cid) AS exact_of
       FROM hn JOIN hc USING (h) GROUP BY 1),
nn AS (SELECT doc_id, {norm} AS t FROM newb),
shn AS MATERIALIZED (
    SELECT DISTINCT doc_id, substring(t, CAST(i AS INT), 5) AS s FROM (
        SELECT doc_id, t,
               unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
        FROM nn) u
),
ncc AS (SELECT doc_id AS cid, {norm} AS t FROM corpus),
shcc AS MATERIALIZED (
    SELECT DISTINCT cid, substring(t, CAST(i AS INT), 5) AS s FROM (
        SELECT cid, t,
               unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
        FROM ncc) u
),
seeds AS (SELECT unnest(range(64)) AS seed),
sign_ AS MATERIALIZED (
    SELECT doc_id, seed,
           MIN(CAST(('0x' || substr(md5(seed || ':' || s), 1, 15)) AS BIGINT)) AS mh
    FROM shn CROSS JOIN seeds GROUP BY doc_id, seed
),
sigcc AS MATERIALIZED (
    SELECT cid, seed,
           MIN(CAST(('0x' || substr(md5(seed || ':' || s), 1, 15)) AS BIGINT)) AS mh
    FROM shcc CROSS JOIN seeds GROUP BY cid, seed
),
bndn AS (
    SELECT doc_id, seed // 4 AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
    FROM sign_ GROUP BY doc_id, seed // 4
),
bndcc AS (
    SELECT cid, seed // 4 AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
    FROM sigcc GROUP BY cid, seed // 4
),
okn AS (SELECT band, bucket FROM bndn GROUP BY 1, 2 HAVING COUNT(*) <= 200),
okcc AS (SELECT band, bucket FROM bndcc GROUP BY 1, 2 HAVING COUNT(*) <= 200),
bfn AS (SELECT bndn.* FROM bndn JOIN okn USING (band, bucket)),
bfcc AS (SELECT bndcc.* FROM bndcc JOIN okcc USING (band, bucket)),
icand AS (
    SELECT DISTINCT n.doc_id, c.cid
    FROM bfn n JOIN bfcc c USING (band, bucket)
),
iest AS (
    SELECT ca.doc_id, ca.cid,
           ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 64.0, 6)
             AS est
    FROM icand ca
    JOIN sign_ sa ON sa.doc_id = ca.doc_id
    JOIN sigcc sb ON sb.cid = ca.cid AND sb.seed = sa.seed
    GROUP BY 1, 2
),
nr AS (SELECT doc_id, MIN(cid) AS near_of
       FROM iest WHERE est >= 0.5 GROUP BY 1)
SELECT CAST(n.doc_id AS BIGINT) AS doc_id,
       CASE WHEN ex.exact_of IS NOT NULL THEN 'exact_dup'
            WHEN nr.near_of IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS status,
       CAST(COALESCE(ex.exact_of, nr.near_of) AS BIGINT) AS dup_of
FROM newb n
LEFT JOIN ex ON ex.doc_id = n.doc_id
LEFT JOIN nr ON nr.doc_id = n.doc_id"""

    # quality-keeper twin: keeper = argmax(length(text), tie min id) in
    # both stages, replayed via the integer encoding sc*1e8 - id (ids
    # stay below 1e8, so score strictly dominates and smaller id wins
    # ties). The near-stage closure relation is reused; its (a, b)
    # pairs enumerate each member's full component.
    dedup_corpus_quality_sql = (
        f"""
WITH docs2 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id, ' ' || text || ' !! ' AS text
    FROM documents WHERE doc_id % 20 = 0
),
sc AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS s FROM docs2),
exh AS (SELECT doc_id, md5({norm}) AS h FROM docs2),
keepx AS (
    SELECT h, max_by(exh.doc_id, sc.s * 100000000 - exh.doc_id) AS keep
    FROM exh JOIN sc ON sc.doc_id = exh.doc_id GROUP BY h
),
exsurv AS MATERIALIZED (
    SELECT d2.doc_id, d2.text FROM docs2 d2
    JOIN exh ON exh.doc_id = d2.doc_id
    JOIN keepx ON keepx.h = exh.h
    WHERE d2.doc_id = keepx.keep
),
nrm AS (SELECT doc_id, {norm} AS t FROM exsurv),
sh AS MATERIALIZED"""
        + ndc_chain_after_nrm
        + """
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM exsurv
WHERE doc_id NOT IN (
    SELECT a FROM c6 JOIN sc ON sc.doc_id = c6.b
    GROUP BY a HAVING a <> max_by(b, sc.s * 100000000 - b))"""
    )

    funnel_sql = """
WITH s0 AS (
    SELECT user_id, MIN(ts) AS t0 FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s1 AS (
    SELECT e.user_id, MIN(e.ts) AS t1 FROM events e
    JOIN s0 ON s0.user_id = e.user_id
    WHERE e.event_type = 'click'
      AND e.ts >= s0.t0 AND e.ts <= s0.t0 + INTERVAL '1 hour'
    GROUP BY e.user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
    JOIN s1 ON s1.user_id = e.user_id
    WHERE e.event_type = 'purchase'
      AND e.ts >= s1.t1 AND e.ts <= s1.t1 + INTERVAL '1 hour'
    GROUP BY e.user_id
)
SELECT 'view' AS step, CAST(0 AS BIGINT) AS step_index,
       CAST((SELECT COUNT(*) FROM s0) AS BIGINT) AS users
UNION ALL
SELECT 'click', CAST(1 AS BIGINT), CAST((SELECT COUNT(*) FROM s1) AS BIGINT)
UNION ALL
SELECT 'purchase', CAST(2 AS BIGINT), CAST((SELECT COUNT(*) FROM s2) AS BIGINT)"""

    # SimHash replay: 60-bit md5-derived fingerprints; the Spark side's
    # 4-chunk pigeonhole blocking is lossless at max_hamming=3, so its
    # output equals this brute-force all-pairs formulation exactly.
    simhash_sql = (
        shingle_cte
        + """,
hx AS MATERIALIZED (
    SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hv FROM sh
),
bits AS (
    SELECT doc_id, bb.b AS b,
           SUM(CASE WHEN (hv >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
    FROM hx CROSS JOIN (SELECT unnest(range(60)) AS b) bb
    GROUP BY doc_id, bb.b
),
sim AS MATERIALIZED (
    SELECT doc_id,
           SUM(CASE WHEN cnt > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sv
    FROM bits GROUP BY doc_id
)
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.sv, b.sv)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sv, b.sv)) <= 3"""
    )

    # Shared CTE prefix for the embedding-LSH oracles: md5-parity
    # hyperplanes (portable mode of functions/similarity.py::
    # random_hyperplane_signatures), in-order left-fold projections
    # (list_reduce == Spark's F.aggregate fold), 4×4-bit banding.
    emb_sig_cte = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
planes AS MATERIALIZED (
    SELECT p,
           list_transform(range(0, 64),
               i -> CASE WHEN CAST(('0x' || substr(md5('42-' || p || '-' || i), 1, 1)) AS BIGINT) % 2 = 0
                         THEN 1.0 ELSE -1.0 END) AS hv
    FROM (SELECT unnest(range(16)) AS p)
),
proj AS (
    SELECT e.vec_id, pl.p,
           list_reduce(
               list_prepend(0.0,
                   list_transform(range(0, 64), i -> e.v[i + 1] * pl.hv[i + 1])),
               (a, b) -> a + b) AS pr
    FROM e CROSS JOIN planes pl
),
sig AS MATERIALIZED (
    SELECT vec_id,
           SUM(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS s
    FROM proj GROUP BY vec_id
),
banded AS (
    SELECT vec_id, bb.b AS band, (s >> (bb.b * 4)) & 15 AS bucket
    FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) bb
)"""

    # Near-dup pairs: band-join candidates + exact cosine at threshold.
    emb_lsh_sql = (
        emb_sig_cte
        + """,
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
FROM cand
JOIN e ea ON ea.vec_id = id_a
JOIN e eb ON eb.vec_id = id_b
WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35"""
    )

    # LSH top-k: per-query banded candidates + exact cosine + rank.
    lsh_topk_sql = (
        emb_sig_cte
        + """,
qb AS (SELECT vec_id AS query_id, band, bucket FROM banded WHERE vec_id <= 5),
cand AS (
    SELECT DISTINCT qb.query_id, c.vec_id
    FROM banded c JOIN qb ON c.band = qb.band AND c.bucket = qb.bucket
    WHERE c.vec_id <> qb.query_id
),
scored AS (
    SELECT cand.query_id, cand.vec_id,
           ROUND(list_cosine_similarity(eq.v, ec.v), 6) AS cos_sim
    FROM cand
    JOIN e eq ON eq.vec_id = cand.query_id
    JOIN e ec ON ec.vec_id = cand.vec_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       cos_sim,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rnk
FROM scored QUALIFY rnk <= 10"""
    )

    stop_list = ", ".join(f"'{w}'" for w in [
        "the", "of", "and", "a", "to", "in", "is", "it", "that", "for",
        "on", "was", "with", "as", "be", "at", "by", "this", "are", "or",
    ])
    ws_tokens = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(string_split_regex(trim(text), '\\s+')) END"
    )
    quality_sql = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST({ws_tokens} AS BIGINT) AS n_tokens,
       ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
             / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS alpha_ratio,
       ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))
             / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS digit_ratio,
       ROUND(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g'))
             / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
       ROUND(length(regexp_replace(text, '[^A-Z]', '', 'g'))
             / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS upper_ratio,
       ROUND(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> x IN ({stop_list})))
             / CAST(greatest({ws_tokens}, 1) AS DOUBLE), 6) AS stopword_ratio,
       ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
             / CAST(greatest({ws_tokens}, 1) AS DOUBLE), 6) AS mean_word_len
FROM documents"""

    quality_filter_sql = f"""
WITH q AS ({{q}}),
r AS (
  SELECT doc_id,
         CAST((CASE WHEN n_tokens >= 5 THEN 0 ELSE 1 END)
            + (CASE WHEN n_tokens <= 100000 THEN 0 ELSE 1 END)
            + (CASE WHEN alpha_ratio >= 0.6 THEN 0 ELSE 1 END)
            + (CASE WHEN digit_ratio <= 0.3 THEN 0 ELSE 1 END)
            + (CASE WHEN stopword_ratio >= 0.05 THEN 0 ELSE 1 END) AS BIGINT)
           AS n_fail
  FROM q)
SELECT doc_id, n_fail, n_fail = 0 AS passed FROM r""".format(q=quality_sql)

    token_counts_sql = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST({ws_tokens} AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^\\sa-zA-Z0-9]')) AS BIGINT) AS bpe_tokens
FROM documents"""

    token_histogram_sql = f"""
SELECT CAST(FLOOR(({ws_tokens}) / 50) * 50 AS BIGINT) AS bucket_start,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1"""

    # max_tokens=64, overlap=16 → stride 48; sequence/range bounds agree
    # across engines for every n (both emit starts 0, 48, 96, … < n, and
    # the single start 0 for empty docs whose chunk is then filtered).
    chunk_documents_sql = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(len(toks), 1), 48)) AS st
  FROM t
),
c AS (
  SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
         list_slice(toks, st + 1, st + 64) AS ct
  FROM s
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, chunk_idx,
       CAST(len(ct) AS BIGINT) AS n_chunk_tokens,
       array_to_string(ct, ' ') AS chunk_text
FROM c WHERE length(array_to_string(ct, ' ')) > 0"""

    lang_sql = """
WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pd FROM documents),
scores AS (
    SELECT doc_id, l.lang,
           CAST((length(pd) - length(replace(pd, l.m1, ''))) / length(l.m1)
              + (length(pd) - length(replace(pd, l.m2, ''))) / length(l.m2)
              + (length(pd) - length(replace(pd, l.m3, ''))) / length(l.m3)
            AS BIGINT) AS hits
    FROM p CROSS JOIN (VALUES
        ('en', ' the ', ' and ', ' of '),
        ('de', ' der ', ' und ', ' die '),
        ('fr', ' le ', ' les ', ' des '),
        ('es', ' el ', ' los ', ' que '),
        ('it', ' il ', ' che ', ' di ')) AS l(lang, m1, m2, m3)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred,
       hits AS marker_hits
FROM scores
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) = 1"""

    fingerprint_sql = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, md5({norm}) AS fingerprint
FROM documents"""

    # md5-derived 60-bit bucket in [0, 10000) — the DuckDB twin of
    # giraph_spark.functions.sampling._bucket (portable_hash60 % 10000)
    def _bucket_sql(seed: int = 42) -> str:
        return (
            f"CAST(('0x' || substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)),"
            " 1, 15)) AS BIGINT) % 10000"
        )

    corpus_stats_sql = f"""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({ws_tokens}) AS BIGINT) AS total_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY 1, 2"""

    repetition_sql = f"""
WITH tok AS (
  SELECT doc_id, string_split({norm}, ' ') AS t FROM documents
), base AS (
  SELECT doc_id, t, len(t) AS n,
         list_transform(generate_series(1, greatest(len(t) - 1, 1)),
                        i -> array_to_string(t[i:i+1], ' ')) AS g2
  FROM tok
), ratios AS (
  SELECT doc_id, n,
         ROUND(1 - len(list_distinct(t)) / CAST(n AS DOUBLE), 6) AS word_rep_ratio,
         ROUND(1 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE), 6) AS dup_2gram_ratio
  FROM base
), words AS (
  SELECT doc_id, unnest(t) AS w FROM base
), cnt AS (
  SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY 1, 2
), top AS (
  SELECT doc_id, MAX(c) AS topc FROM cnt GROUP BY 1
)
SELECT CAST(r.doc_id AS BIGINT) AS doc_id, word_rep_ratio, dup_2gram_ratio,
       ROUND(topc / CAST(n AS DOUBLE), 6) AS top_word_ratio
FROM ratios r JOIN top ON r.doc_id = top.doc_id"""

    scrub_sql = """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com see https://site' || CAST(doc_id AS VARCHAR)
                   || '.example/path ref 1234567890'
              ELSE text END AS text
  FROM documents
), s0 AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n1,
         regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM aug
), s1 AS (
  SELECT doc_id, n1,
         len(regexp_extract_all(t1, 'https?://[^\\s]+')) AS n2,
         regexp_replace(t1, 'https?://[^\\s]+', '<URL>', 'g') AS t2
  FROM s0
), s2 AS (
  SELECT doc_id, n1, n2,
         len(regexp_extract_all(t2, '[0-9][0-9 .-]{7,}[0-9]')) AS n3,
         regexp_replace(t2, '[0-9][0-9 .-]{7,}[0-9]', '<NUM>', 'g') AS scrubbed
  FROM s1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, scrubbed,
       CAST(n1 + n2 + n3 AS BIGINT) AS n_redactions
FROM s2"""

    # composed disposition: quality gate (same rules/rounding as
    # quality_filter) over the augmented corpus, exact dedup among
    # passers (min-id keeper), id-hash split for keepers
    clean_corpus_sql = f"""
WITH docs2 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id, ' ' || text || ' !! ' AS text
    FROM documents WHERE doc_id % 20 = 0
),
q AS ({quality_sql.replace("FROM documents", "FROM docs2")}),
r AS (
  SELECT doc_id,
         (CASE WHEN n_tokens >= 5 THEN 0 ELSE 1 END)
       + (CASE WHEN n_tokens <= 100000 THEN 0 ELSE 1 END)
       + (CASE WHEN alpha_ratio >= 0.6 THEN 0 ELSE 1 END)
       + (CASE WHEN digit_ratio <= 0.3 THEN 0 ELSE 1 END)
       + (CASE WHEN stopword_ratio >= 0.05 THEN 0 ELSE 1 END) AS n_fail
  FROM q),
pass AS (SELECT doc_id FROM r WHERE n_fail = 0),
h AS (
  SELECT d.doc_id, md5({norm}) AS hh
  FROM docs2 d JOIN pass p ON p.doc_id = d.doc_id
),
keep AS (SELECT hh, MIN(doc_id) AS keep_id FROM h GROUP BY hh),
disp AS (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         CASE WHEN p.doc_id IS NULL THEN 'removed_quality'
              WHEN d.doc_id <> k.keep_id THEN 'removed_duplicate'
              ELSE 'kept' END AS status
  FROM docs2 d
  LEFT JOIN pass p ON p.doc_id = d.doc_id
  LEFT JOIN h ON h.doc_id = d.doc_id
  LEFT JOIN keep k ON k.hh = h.hh
)
SELECT doc_id, status,
       CASE WHEN status = 'kept'
            THEN CASE WHEN {_bucket_sql()} < 1000 THEN 'val' ELSE 'train' END
       END AS split
FROM disp"""

    # clean_corpus over compressed shards: the corrupt codec class
    # (doc_id % 5 = 4 — both original and +10M perturbed ids, 10M ≡ 0
    # mod 5) decodes to NULL and lands as removed_undecodable; the
    # quality/dedup/split pipeline runs over the DECODED subset only,
    # so a passer whose only lower-id twin is corrupt is kept
    clean_corpus_compressed_sql = f"""
WITH docs2 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id, ' ' || text || ' !! ' AS text
    FROM documents WHERE doc_id % 20 = 0
),
dec AS (SELECT doc_id, text FROM docs2 WHERE doc_id % 5 <> 4),
q AS ({quality_sql.replace("FROM documents", "FROM dec")}),
r AS (
  SELECT doc_id,
         (CASE WHEN n_tokens >= 5 THEN 0 ELSE 1 END)
       + (CASE WHEN n_tokens <= 100000 THEN 0 ELSE 1 END)
       + (CASE WHEN alpha_ratio >= 0.6 THEN 0 ELSE 1 END)
       + (CASE WHEN digit_ratio <= 0.3 THEN 0 ELSE 1 END)
       + (CASE WHEN stopword_ratio >= 0.05 THEN 0 ELSE 1 END) AS n_fail
  FROM q),
pass AS (SELECT doc_id FROM r WHERE n_fail = 0),
h AS (
  SELECT d.doc_id, md5({norm}) AS hh
  FROM dec d JOIN pass p ON p.doc_id = d.doc_id
),
keep AS (SELECT hh, MIN(doc_id) AS keep_id FROM h GROUP BY hh),
disp AS (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         CASE WHEN p.doc_id IS NULL THEN 'removed_quality'
              WHEN d.doc_id <> k.keep_id THEN 'removed_duplicate'
              ELSE 'kept' END AS status
  FROM dec d
  LEFT JOIN pass p ON p.doc_id = d.doc_id
  LEFT JOIN h ON h.doc_id = d.doc_id
  LEFT JOIN keep k ON k.hh = h.hh
)
SELECT doc_id, status,
       CASE WHEN status = 'kept'
            THEN CASE WHEN {_bucket_sql()} < 1000 THEN 'val' ELSE 'train' END
       END AS split
FROM disp
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'removed_undecodable' AS status,
       CAST(NULL AS VARCHAR) AS split
FROM docs2 WHERE doc_id % 5 = 4"""

    train_val_split_sql = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN {_bucket_sql()} < 1000 THEN 'val' ELSE 'train' END AS split
FROM documents"""

    # unsharded rank twin of the sharded two-phase top-n: equality of
    # the two IS the exactness proof for the pigeonhole pre-filter
    cap_per_domain_sql = f"""
WITH b AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         'd' || CAST(CAST(doc_id AS BIGINT) % 37 AS VARCHAR) AS domain,
         {_bucket_sql()} AS bk
  FROM documents
), r AS (
  SELECT doc_id, domain,
         ROW_NUMBER() OVER (PARTITION BY domain ORDER BY bk, doc_id) AS rnk
  FROM b
)
SELECT doc_id, domain, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 5"""

    stratified_sample_sql = f"""
WITH b AS (
  SELECT doc_id, source AS stratum, {_bucket_sql()} AS bk FROM documents
), r AS (
  SELECT doc_id, stratum,
         ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY bk, doc_id) AS rn,
         CEIL(COUNT(*) OVER (PARTITION BY stratum) * 0.2) AS q
  FROM b
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, stratum FROM r WHERE rn <= q"""

    decontaminate_sql = f"""
WITH tok AS (
  SELECT doc_id, string_split({norm}, ' ') AS t FROM documents
), g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(t) - 7, 1)),
      i -> array_to_string(t[i:i+7], ' ')))) AS gram
  FROM tok
), bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 41 = 0
), hits AS (
  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM g JOIN bg USING (gram) GROUP BY g.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id"""

    duplicate_ngrams_sql = f"""
WITH docs2 AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000000 AS doc_id, ' ' || text || ' !! ' AS text
    FROM documents WHERE doc_id % 20 = 0
),
tok AS (
  SELECT doc_id, string_split({norm}, ' ') AS t FROM docs2
), g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(t) - 7, 1)),
      i -> array_to_string(t[i:i+7], ' ')))) AS gram
  FROM tok
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
FROM g GROUP BY gram HAVING COUNT(*) >= 2"""

    mixture_repeats_sql = f"""
WITH w AS (
  SELECT doc_id, source AS stratum,
         CASE source WHEN 'src0' THEN 3.2 WHEN 'src1' THEN 0.5 ELSE 1.0 END AS wt,
         {_bucket_sql()} AS bk
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, stratum,
       CAST(FLOOR(wt) + (CASE WHEN bk < CAST(FLOOR((wt - FLOOR(wt)) * 10000) AS BIGINT)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_repeats
FROM w"""

    expand_repeats_sql = f"""
WITH w AS (
  SELECT doc_id, source AS stratum,
         CASE source WHEN 'src0' THEN 3.2 WHEN 'src1' THEN 0.5 ELSE 1.0 END AS wt,
         {_bucket_sql()} AS bk
  FROM documents
),
r AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, stratum,
         CAST(FLOOR(wt) + (CASE WHEN bk < CAST(FLOOR((wt - FLOOR(wt)) * 10000) AS BIGINT)
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_repeats
  FROM w
)
SELECT doc_id, stratum, CAST(u.e AS BIGINT) AS epoch
FROM r, unnest(generate_series(1, r.n_repeats)) AS u(e)
WHERE r.n_repeats > 0"""

    cosine_topk_sql = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id <= 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
    SELECT q.query_id, c.vec_id,
           ROUND(list_cosine_similarity(qv, cv), 6) AS cos_sim
    FROM q CROSS JOIN c WHERE c.vec_id <> q.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       cos_sim,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rnk
FROM scored QUALIFY rnk <= 10"""

    ann_recall_sql = f"""
WITH ex AS (SELECT query_id, vec_id FROM ({cosine_topk_sql})),
     ap AS (SELECT query_id, vec_id FROM ({lsh_topk_sql})),
     hits AS (
       SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
       FROM ex JOIN ap USING (query_id, vec_id) GROUP BY 1
     ),
     base AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY 1)
SELECT CAST(b.query_id AS BIGINT) AS query_id,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       ROUND(COALESCE(h.n_hit, 0) / CAST(b.n_exact AS DOUBLE), 6) AS recall_at_k
FROM base b LEFT JOIN hits h ON b.query_id = h.query_id"""

    ivf_topk_sql = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv FROM c ORDER BY vec_id LIMIT 16),
inv AS (
    SELECT vec_id, v, cell FROM (
        SELECT c.vec_id, c.v, cents.cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                   ORDER BY list_cosine_similarity(c.v, cents.cv) DESC, cents.cell ASC) AS r
        FROM c CROSS JOIN cents) t
    WHERE r = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id <= 5),
probes AS (
    SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, cents.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(q.qv, cents.cv) DESC, cents.cell ASC) AS r
        FROM q CROSS JOIN cents) t
    WHERE r <= 4
),
scored AS (
    SELECT p.query_id, i.vec_id,
           ROUND(list_cosine_similarity(p.qv, i.v), 6) AS cos_sim
    FROM inv i JOIN probes p USING (cell)
    WHERE p.query_id <> i.vec_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       cos_sim,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rnk
FROM scored QUALIFY rnk <= 10"""

    emb_exact_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 1000)
SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.35"""

    quantize_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (
  SELECT vec_id, v,
         127.0 / list_max(list_transform(v, x -> abs(x))) AS s
  FROM e),
codes AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS dim,
         floor(unnest(v) * s + 0.5) AS qval
  FROM m),
scales AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(-1 AS BIGINT) AS dim,
         ROUND(s, 6) AS qval
  FROM m)
SELECT * FROM codes UNION ALL SELECT * FROM scales"""

    sessionize_sql = """
WITH x AS (
    SELECT user_id, event_id, ts,
           CASE WHEN lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w IS NULL
                  OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                     - lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w > 1800
                THEN 1 ELSE 0 END AS brk
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
y AS (
    SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM x
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
       CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM y GROUP BY user_id, session_seq"""

    event_counts_sql = """
SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
       event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2"""

    event_rollup_sql = """
WITH d AS (
  SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour, value
  FROM events
)
SELECT CAST(FLOOR(epoch(day)) AS BIGINT) AS day_epoch,
       CAST(FLOOR(epoch(hour)) AS BIGINT) AS hour_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM d GROUP BY ROLLUP(day, hour)"""

    asof_sql = """
WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, event_id AS view_event_id, ts FROM events WHERE event_type = 'view')
SELECT CAST(p.event_id AS BIGINT) AS event_id,
       CAST(p.user_id AS BIGINT) AS user_id,
       CAST(v.view_event_id AS BIGINT) AS asof_view_event_id
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts"""

    range_count_sql = """
WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
SELECT CAST(p.event_id AS BIGINT) AS event_id,
       CAST(p.user_id AS BIGINT) AS user_id,
       CAST(COUNT(v.ts) AS BIGINT) AS n_views_1h
FROM p LEFT JOIN v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 1 HOUR
GROUP BY p.event_id, p.user_id"""

    # closed-form twin of the REAL default (sniffing) header decode:
    # container cycles id % 5 over BMP/PNG/GIF/JPEG/WAV, every header
    # field a pure id function — the oracle checks all five zero-dep
    # parsers without decoding a byte (n_bytes excluded: the PNG's
    # zlib-compressed size is not closed-form)
    multimodal_sql = """
WITH g AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents)
SELECT id AS media_id,
       CASE WHEN id % 5 = 4 THEN 'audio' ELSE 'image' END AS modality,
       CASE CAST(id % 5 AS INT)
            WHEN 0 THEN 1 + id % 8
            WHEN 1 THEN 1 + id % 7
            WHEN 2 THEN 1 + id % 9
            WHEN 3 THEN 1 + id % 10
            ELSE NULL END AS width,
       CASE CAST(id % 5 AS INT)
            WHEN 0 THEN 1 + id % 5
            WHEN 1 THEN 1 + id % 4
            WHEN 2 THEN 1 + id % 6
            WHEN 3 THEN 1 + id % 3
            ELSE NULL END AS height,
       CASE CAST(id % 5 AS INT)
            WHEN 2 THEN 1 + id % 7
            WHEN 4 THEN NULL
            ELSE 1 END AS n_frames,
       CASE WHEN id % 5 = 4 THEN ROUND((4 + id % 16) / 1000.0, 3)
            ELSE NULL END AS duration_s
FROM g"""

    # DSIR twin: identical normalized unigram+bigram features, the same
    # md5-derived bucket hash, identical add-α smoothed log ratios;
    # length-normalized weight ROUND(,6) absorbs summation-order ulps
    dsir_sql = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         string_split({norm}, ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, source, gram FROM (
    SELECT doc_id, source, unnest(list_concat(
      t,
      list_transform(range(1, greatest(len(t), 1)),
                     i -> t[i] || ' ' || t[i + 1])
    )) AS gram
    FROM d)
  WHERE gram <> ''
),
feats AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 4096 AS bucket,
         CAST(COUNT(*) AS DOUBLE) AS c
  FROM grams GROUP BY 1, 2, 3
),
raw_lm AS (SELECT bucket, SUM(c) AS r FROM feats GROUP BY 1),
tgt_lm AS (SELECT bucket, SUM(c) AS t FROM feats
           WHERE source = 'src18' GROUP BY 1),
tot AS (SELECT (SELECT SUM(r) FROM raw_lm) AS R_,
               (SELECT SUM(t) FROM tgt_lm) AS T_),
ratios AS (
  SELECT rl.bucket,
         ln((COALESCE(tl.t, 0) + 1.0) / ((SELECT T_ FROM tot) + 4096.0))
       - ln((rl.r + 1.0) / ((SELECT R_ FROM tot) + 4096.0)) AS lr
  FROM raw_lm rl LEFT JOIN tgt_lm tl ON rl.bucket = tl.bucket
),
per_doc AS (
  SELECT f.doc_id,
         CAST(SUM(f.c) AS BIGINT) AS n_grams,
         ROUND(SUM(f.c * r.lr) / SUM(f.c), 6) AS log_importance
  FROM feats f JOIN ratios r ON f.bucket = r.bucket
  GROUP BY 1
)
SELECT d2.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       p.log_importance,
       COALESCE(p.log_importance >= -0.65, FALSE) AS selected
FROM (SELECT DISTINCT doc_id FROM d) d2
LEFT JOIN per_doc p ON p.doc_id = d2.doc_id"""

    # decode_coverage twin: the fixture's container choice, the
    # undecodable-text rows, and the truncated PNGs are all pure id
    # arithmetic, so every (modality, format) count is closed-form —
    # the oracle never touches a byte
    decode_coverage_sql = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
c AS (
  SELECT
    COUNT(*) FILTER (id % 5 = 0) AS bmp,
    COUNT(*) FILTER (id % 5 = 1) AS png,
    COUNT(*) FILTER (id % 5 = 2) AS gif,
    COUNT(*) FILTER (id % 5 = 3) AS jpg,
    COUNT(*) FILTER (id % 5 = 4) AS wav,
    COUNT(*) FILTER (id % 7 = 0) AS unk,
    COUNT(*) FILTER (id % 11 = 0) AS tr
  FROM d
)
SELECT modality, format,
       CAST(n_media AS BIGINT) AS n_media,
       CAST(n_meta_decoded AS BIGINT) AS n_meta_decoded,
       CAST(n_content_decoded AS BIGINT) AS n_content_decoded,
       CAST(n_media - n_meta_decoded AS BIGINT) AS n_meta_null,
       CAST(n_media - n_content_decoded AS BIGINT) AS n_content_null
FROM (
  SELECT 'image' AS modality, 'bmp' AS format,
         bmp AS n_media, bmp AS n_meta_decoded, bmp AS n_content_decoded
  FROM c
  UNION ALL SELECT 'image', 'png', png + tr, png + tr, png FROM c
  UNION ALL SELECT 'image', 'gif', gif, gif, gif FROM c
  UNION ALL SELECT 'image', 'jpeg', jpg, jpg, jpg FROM c
  UNION ALL SELECT 'audio', 'wav', wav, wav, wav FROM c
  UNION ALL SELECT 'image', 'unknown', unk, 0, 0 FROM c
)"""

    # clean_corpus_dsir twin: Gopher gate (raw text, min_words=20,
    # min_required_words=1) -> DSIR LMs built from the gate's survivors
    # vs the src18 target -> Gumbel noise from the seed-1000045 md5
    # bucket -> histogram-calibrated threshold (50 bins on [-4, 6),
    # keep <= 25% of scored) -> seed-42 split. Mirrors dsir_sql /
    # gopher_rules_sql / threshold_metrics piece for piece.

    decompress_text_sql = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN CAST(doc_id AS BIGINT) % 5 = 4 THEN NULL ELSE text END
         AS text,
       CASE CAST(doc_id AS BIGINT) % 5
            WHEN 0 THEN 'gzip' WHEN 1 THEN 'zlib' WHEN 2 THEN 'plain'
            WHEN 3 THEN 'deflate' ELSE 'unknown' END AS codec
FROM documents"""
    clean_corpus_dsir_sql = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, source FROM documents
),
gw AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '') AS ws,
    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS ls,
    len(string_split(text, '#')) - 1 AS n_hash,
    len(string_split(text, '...')) - 1 AS n_ell
  FROM d
),
gg AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    ROUND(list_reduce(list_prepend(0.0,
        list_transform(ws, w -> length(w)::DOUBLE)), (a, x) -> a + x)
      / GREATEST(len(ws), 1), 6) AS mean_word_len,
    ROUND((n_hash + n_ell) / GREATEST(len(ws), 1)::DOUBLE, 6)
      AS symbol_ratio,
    ROUND(len(list_filter(ls,
        l -> regexp_matches(trim(l), '^([*•‣▪-])')))
      / GREATEST(len(ls), 1)::DOUBLE, 6) AS bullet_ratio,
    ROUND(len(list_filter(ls, l -> regexp_matches(trim(l), '\\.\\.\\.$')))
      / GREATEST(len(ls), 1)::DOUBLE, 6) AS ellipsis_ratio,
    ROUND(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
      / GREATEST(len(ws), 1)::DOUBLE, 6) AS alpha_word_ratio,
    CAST(len(list_filter(
        ['the','be','to','of','and','that','have','with'],
        req -> list_contains(list_transform(ws, w -> lower(w)), req)))
      AS BIGINT) AS n_required
  FROM gw
),
pass AS (
  SELECT doc_id FROM gg
  WHERE n_words >= 20 AND n_words <= 100000
    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
    AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
    AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
    AND n_required >= 1
),
toks AS (
  SELECT doc_id, source, string_split({norm}, ' ') AS t FROM d
),
grams AS (
  SELECT doc_id, source, gram FROM (
    SELECT doc_id, source, unnest(list_concat(
      t,
      list_transform(range(1, greatest(len(t), 1)),
                     i -> t[i] || ' ' || t[i + 1])
    )) AS gram
    FROM toks)
  WHERE gram <> ''
),
feats AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 4096 AS bucket,
         CAST(COUNT(*) AS DOUBLE) AS c
  FROM grams GROUP BY 1, 2, 3
),
raw_lm AS (
  SELECT bucket, SUM(c) AS r FROM feats f
  JOIN pass p USING (doc_id) GROUP BY 1
),
tgt_lm AS (SELECT bucket, SUM(c) AS t FROM feats
           WHERE source = 'src18' GROUP BY 1),
tot AS (SELECT (SELECT SUM(r) FROM raw_lm) AS R_,
               (SELECT SUM(t) FROM tgt_lm) AS T_),
ratios AS (
  SELECT rl.bucket,
         ln((COALESCE(tl.t, 0) + 1.0) / ((SELECT T_ FROM tot) + 4096.0))
       - ln((rl.r + 1.0) / ((SELECT R_ FROM tot) + 4096.0)) AS lr
  FROM raw_lm rl LEFT JOIN tgt_lm tl ON rl.bucket = tl.bucket
),
per_doc AS (
  SELECT f.doc_id,
         ROUND(SUM(f.c * r.lr) / SUM(f.c), 6) AS log_importance
  FROM feats f
  JOIN pass p ON p.doc_id = f.doc_id
  JOIN ratios r ON f.bucket = r.bucket
  GROUP BY 1
),
noised AS (
  SELECT doc_id, log_importance,
         ROUND(log_importance - ln(-ln(
           (CAST(('0x' || substr(md5('1000045:' || CAST(doc_id AS VARCHAR)),
                  1, 15)) AS BIGINT) % 10000 + 0.5) / 10000.0)), 6)
           AS sampling_score
  FROM per_doc
),
hist AS (
  SELECT LEAST(49, GREATEST(0,
           CAST(FLOOR((sampling_score - (-4.0)) / 0.2) AS INT))) AS b,
         COUNT(*) AS n
  FROM noised WHERE sampling_score IS NOT NULL GROUP BY 1
),
axis AS (SELECT CAST(UNNEST(range(50)) AS INT) AS b),
cum AS (
  SELECT a.b,
         SUM(COALESCE(h.n, 0)) OVER (ORDER BY a.b DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS np,
         SUM(COALESCE(h.n, 0)) OVER () AS total
  FROM axis a LEFT JOIN hist h ON h.b = a.b
),
thr AS (
  SELECT COALESCE(
           MIN(CASE WHEN np <= FLOOR(0.25 * total)
                    THEN ROUND(-4.0 + b * 0.2, 6) END),
           MAX(ROUND(-4.0 + b * 0.2, 6))) AS t
  FROM cum
),
disp AS (
  SELECT d.doc_id,
         CASE WHEN p.doc_id IS NULL THEN 'removed_gopher'
              WHEN nz.sampling_score IS NULL
                OR nz.sampling_score < (SELECT t FROM thr)
                THEN 'removed_dsir'
              ELSE 'kept' END AS status,
         nz.log_importance, nz.sampling_score
  FROM d
  LEFT JOIN pass p ON p.doc_id = d.doc_id
  LEFT JOIN noised nz ON nz.doc_id = d.doc_id
)
SELECT doc_id, status, log_importance, sampling_score,
       CASE WHEN status = 'kept'
            THEN CASE WHEN {_bucket_sql()} < 1000 THEN 'val' ELSE 'train' END
       END AS split
FROM disp"""

    # Gopher battery twin: identical word/line derivations, every ratio
    # ROUND(,6); NULL-failing rule semantics via CASE ... ELSE 1
    gopher_rules_sql = """
WITH src AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         replace(text, ' a ', chr(10)) AS text
  FROM documents
),
f AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '') AS ws,
    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS ls,
    len(string_split(text, '#')) - 1 AS n_hash,
    len(string_split(text, '...')) - 1 AS n_ell
  FROM src
),
g AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    GREATEST(len(ws), 1)::DOUBLE AS wd,
    GREATEST(len(ls), 1)::DOUBLE AS ld,
    ROUND(list_reduce(list_prepend(0.0,
        list_transform(ws, w -> length(w)::DOUBLE)), (a, x) -> a + x)
      / GREATEST(len(ws), 1), 6) AS mean_word_len,
    ROUND((n_hash + n_ell) / GREATEST(len(ws), 1)::DOUBLE, 6)
      AS symbol_ratio,
    ROUND(len(list_filter(ls,
        l -> regexp_matches(trim(l), '^([*•‣▪-])')))
      / GREATEST(len(ls), 1)::DOUBLE, 6) AS bullet_ratio,
    ROUND(len(list_filter(ls, l -> regexp_matches(trim(l), '\\.\\.\\.$')))
      / GREATEST(len(ls), 1)::DOUBLE, 6) AS ellipsis_ratio,
    ROUND(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
      / GREATEST(len(ws), 1)::DOUBLE, 6) AS alpha_word_ratio,
    CAST(len(list_filter(
        ['the','be','to','of','and','that','have','with'],
        req -> list_contains(list_transform(ws, w -> lower(w)), req)))
      AS BIGINT) AS n_required
  FROM f
),
r AS (
  SELECT *,
    CAST((CASE WHEN n_words >= 20 THEN 0 ELSE 1 END)
       + (CASE WHEN n_words <= 100000 THEN 0 ELSE 1 END)
       + (CASE WHEN mean_word_len >= 3.0 THEN 0 ELSE 1 END)
       + (CASE WHEN mean_word_len <= 10.0 THEN 0 ELSE 1 END)
       + (CASE WHEN symbol_ratio <= 0.1 THEN 0 ELSE 1 END)
       + (CASE WHEN bullet_ratio <= 0.9 THEN 0 ELSE 1 END)
       + (CASE WHEN ellipsis_ratio <= 0.3 THEN 0 ELSE 1 END)
       + (CASE WHEN alpha_word_ratio >= 0.8 THEN 0 ELSE 1 END)
       + (CASE WHEN n_required >= 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
  FROM g
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
       ellipsis_ratio, alpha_word_ratio, n_required, n_fail,
       n_fail = 0 AS passed
FROM r"""

    # line-level boilerplate scrub twin: same derived lines, same
    # >=3-distinct-docs flag, string_agg(ORDER BY pos) reassembly;
    # string_agg skips NULLs so the CASE drops flagged lines, and
    # COALESCE('') matches Spark's array_join on an empty survivor set
    strip_boilerplate_sql = """
WITH src AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         replace(text, ' a ', chr(10)) AS text
  FROM documents
),
lines AS (
  SELECT doc_id,
         generate_subscripts(ls, 1) AS pos,
         unnest(ls) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src)
),
norm AS (SELECT doc_id, pos, line, trim(line) AS t FROM lines),
bp AS (
  SELECT t FROM (
    SELECT DISTINCT doc_id, t FROM norm WHERE length(t) >= 1
  ) GROUP BY t HAVING COUNT(*) >= 3
),
tagged AS (
  SELECT n.doc_id, n.pos, n.line,
         (b.t IS NOT NULL) AS is_bp
  FROM norm n LEFT JOIN bp b ON n.t = b.t
)
SELECT doc_id,
       COALESCE(
         string_agg(CASE WHEN NOT is_bp THEN line END, chr(10) ORDER BY pos),
         '') AS cleaned,
       CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed_lines
FROM tagged GROUP BY doc_id"""

    # closed-form twin of the real BMP content decode: geometry, byte
    # size (4-byte row padding!), and solid-color channel stats are all
    # pure functions of the id — the oracle checks the decoder without
    # decoding anything
    bmp_pixel_stats_sql = """
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         CAST(1 + CAST(doc_id AS BIGINT) % 8 AS BIGINT) AS w,
         CAST(1 + CAST(doc_id AS BIGINT) % 5 AS BIGINT) AS h,
         CAST(CAST(doc_id AS BIGINT) % 256 AS BIGINT) AS b,
         CAST(CAST(doc_id AS BIGINT) * 7 % 256 AS BIGINT) AS gg,
         CAST(CAST(doc_id AS BIGINT) * 13 % 256 AS BIGINT) AS r
  FROM documents
)
SELECT media_id, 'image' AS modality,
       w AS width, h AS height,
       CAST(r AS DOUBLE) AS mean_r,
       CAST(gg AS DOUBLE) AS mean_g,
       CAST(b AS DOUBLE) AS mean_b,
       LEAST(b, gg, r) AS min_px,
       GREATEST(b, gg, r) AS max_px,
       CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS n_bytes
FROM g"""

    # PNG twin: solid color -> stats are pure id functions; the cycling
    # scanline filters only exercise the decoder, never the values


    gif_frame_stats_sql = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
f AS (
  SELECT id, UNNEST([0, 2, 4]) AS j FROM d
)
SELECT id AS media_id, 'image' AS modality,
       CAST(j AS BIGINT) AS frame_index,
       CAST(2 + id % 6 AS BIGINT) AS width,
       CAST(2 + id % 4 AS BIGINT) AS height,
       CAST((id * 5 + 37 * j) % 256 AS DOUBLE) AS mean_r,
       CAST((id * 11 + 13 * j) % 256 AS DOUBLE) AS mean_g,
       CAST((id * 3 + 7 * j) % 256 AS DOUBLE) AS mean_b,
       LEAST((id * 5 + 37 * j) % 256, (id * 11 + 13 * j) % 256,
             (id * 3 + 7 * j) % 256) AS min_px,
       GREATEST((id * 5 + 37 * j) % 256, (id * 11 + 13 * j) % 256,
                (id * 3 + 7 * j) % 256) AS max_px
FROM f WHERE j < 1 + id % 7"""
    mp4_metadata_sql = """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       'video' AS modality,
       CAST(16 * (1 + CAST(doc_id AS BIGINT) % 8) AS BIGINT) AS width,
       CAST(16 * (1 + CAST(doc_id AS BIGINT) % 5) AS BIGINT) AS height,
       CAST(1 + CAST(doc_id AS BIGINT) % 24 AS BIGINT) AS n_frames,
       (1 + CAST(doc_id AS BIGINT) % 20) / 2.0 AS duration_s
FROM documents"""

    # mp4_frame_plan fixture closed form (mp4_sampled_media_from_docs):
    # n = 1 + id % 29 samples, first n1 = (n+1)//2 at dt_a ticks, rest
    # at dt_a + 40; size_j = 200 + (id·13 + 7j) % 100; media timescale
    # 1200 + (id % 4)·600. Sampled at every_n=4 / max_frames=8 → j in
    # {0,4,…,28} below n (n ≤ 29 ⇒ never more than 8 frames)
    mp4_frame_plan_sql = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
p AS (
  SELECT id,
         1 + id % 29 AS n,
         CAST(FLOOR((2 + id % 29) / 2) AS BIGINT) AS n1,
         100 + (id % 7) * 10 AS dt_a,
         1200 + (id % 4) * 600 AS ts
  FROM d
),
f AS (SELECT p.*, UNNEST([0, 4, 8, 12, 16, 20, 24, 28]) AS j FROM p)
SELECT id AS media_id,
       CAST(j AS BIGINT) AS frame_index,
       CAST(CASE WHEN j < n1 THEN j * dt_a
            ELSE n1 * dt_a + (j - n1) * (dt_a + 40) END AS BIGINT)
         AS t_ticks,
       CAST(ts AS BIGINT) AS timescale,
       CAST(CASE WHEN j < n1 THEN j * dt_a
            ELSE n1 * dt_a + (j - n1) * (dt_a + 40) END AS DOUBLE)
         / CAST(ts AS DOUBLE) AS t_seconds,
       CAST(200 + (id * 13 + 7 * j) % 100 AS BIGINT) AS size_bytes
FROM f WHERE j < n"""
    png_pixel_stats_sql = """
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         CAST(1 + CAST(doc_id AS BIGINT) % 7 AS BIGINT) AS w,
         CAST(1 + CAST(doc_id AS BIGINT) % 4 AS BIGINT) AS h,
         CAST(CAST(doc_id AS BIGINT) * 13 % 256 AS BIGINT) AS r,
         CAST(CAST(doc_id AS BIGINT) * 7 % 256 AS BIGINT) AS gg,
         CAST(CAST(doc_id AS BIGINT) % 256 AS BIGINT) AS b
  FROM documents
)
SELECT media_id, 'image' AS modality,
       w AS width, h AS height,
       CAST(r AS DOUBLE) AS mean_r,
       CAST(gg AS DOUBLE) AS mean_g,
       CAST(b AS DOUBLE) AS mean_b,
       LEAST(r, gg, b) AS min_px,
       GREATEST(r, gg, b) AS max_px
FROM g"""

    # JPEG twin: the constant-block exact DCT round-trip means the
    # decoded image is solid gray = id % 256 — stats are pure id
    # functions through a full entropy-decode + IDCT on the Spark side
    jpeg_pixel_stats_sql = """
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         CAST(3 + CAST(doc_id AS BIGINT) % 12 AS BIGINT) AS w,
         CAST(2 + CAST(doc_id AS BIGINT) % 9 AS BIGINT) AS h,
         CAST(CAST(doc_id AS BIGINT) % 256 AS BIGINT) AS v
  FROM documents
)
SELECT media_id, 'image' AS modality,
       w AS width, h AS height,
       CAST(v AS DOUBLE) AS mean_r,
       CAST(v AS DOUBLE) AS mean_g,
       CAST(v AS DOUBLE) AS mean_b,
       v AS min_px,
       v AS max_px
FROM g"""

    # GIF twin: solid single-entry palette means the LZW-decoded frame
    # is uniformly that color — stats are pure id functions through a
    # real LZW decompression + palette resolution on the Spark side
    gif_pixel_stats_sql = """
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         CAST(2 + CAST(doc_id AS BIGINT) % 7 AS BIGINT) AS w,
         CAST(2 + CAST(doc_id AS BIGINT) % 5 AS BIGINT) AS h,
         CAST(CAST(doc_id AS BIGINT) * 5 % 256 AS BIGINT) AS r,
         CAST(CAST(doc_id AS BIGINT) * 11 % 256 AS BIGINT) AS gg,
         CAST(CAST(doc_id AS BIGINT) * 3 % 256 AS BIGINT) AS b
  FROM documents
)
SELECT media_id, 'image' AS modality,
       w AS width, h AS height,
       CAST(r AS DOUBLE) AS mean_r,
       CAST(gg AS DOUBLE) AS mean_g,
       CAST(b AS DOUBLE) AS mean_b,
       LEAST(r, gg, b) AS min_px,
       GREATEST(r, gg, b) AS max_px
FROM g"""

    # audio twin: constant-amplitude PCM means rms == peak ==
    # |byte-128|/128, an exact power-of-two-denominator double on both
    # engines; n_bytes = 44-byte RIFF/fmt/data framing + n samples
    wav_audio_stats_sql = """
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         CAST(4 + CAST(doc_id AS BIGINT) % 16 AS BIGINT) AS n,
         CAST(CAST(doc_id AS BIGINT) % 256 AS BIGINT) AS c
  FROM documents
)
SELECT media_id, 'audio' AS modality,
       CAST(1000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       n AS n_samples,
       ROUND(n / 1000.0, 3) AS duration_s,
       ABS(c - 128) / 128.0 AS rms,
       ABS(c - 128) / 128.0 AS peak,
       CAST(44 + n AS BIGINT) AS n_bytes
FROM g"""

    # frame plan over the REAL multi-frame GIF fixture: n_frames is the
    # parsed image-descriptor count = 1 + id % 12 by construction
    frame_plan_sql = """
WITH f AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         (range(0, CAST(1 + CAST(doc_id AS BIGINT) % 12 AS BIGINT), 3))[1:8]
           AS idxs
  FROM documents
)
SELECT media_id, CAST(unnest(idxs) AS BIGINT) AS frame_index FROM f"""

    # same flattened-outer-product construction; products of identical
    # float32 inputs are identical doubles on both engines, summation
    # order differences vanish under ROUND 6
    embedding_covariance_sql = """
WITH f AS (
  SELECT len(embedding) AS d,
         unnest(flatten(list_transform(embedding,
             x -> list_transform(embedding,
                  y -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))))) AS v,
         generate_subscripts(flatten(list_transform(embedding,
             x -> list_transform(embedding,
                  y -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)))), 1) AS p
  FROM embeddings
),
cells AS (
  SELECT CAST((p - 1) // d AS BIGINT) AS i,
         CAST((p - 1) % d AS BIGINT) AS j,
         SUM(v) / COUNT(*) AS m2
  FROM f GROUP BY 1, 2
),
means AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
mu AS (SELECT i, SUM(x) / COUNT(*) AS m FROM means GROUP BY 1)
SELECT c.i, c.j, ROUND(c.m2 - mi.m * mj.m, 6) + 0.0 AS cov
FROM cells c JOIN mu mi ON mi.i = c.i JOIN mu mj ON mj.i = c.j"""

    vector_sum_sql = """
WITH u AS (
  SELECT CAST(vec_id % 4 AS BIGINT) AS cluster,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings)
SELECT cluster, dim, ROUND(SUM(x), 6) AS val FROM u GROUP BY 1, 2"""

    # Sparse twin: only positive entries exist in the maps, so the oracle
    # sums the same filtered universe; absent keys are implicit zeros.
    sparse_vector_sum_sql = """
WITH u AS (
  SELECT CAST(vec_id % 4 AS BIGINT) AS cluster,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings)
SELECT cluster, dim, ROUND(SUM(x), 6) AS val FROM u WHERE x > 0 GROUP BY 1, 2"""

    identity_sql = (
        NATION_GRAPH_SQL.strip() + "\nSELECT id FROM vertices"
    )

    mutations_sql = (
        NATION_GRAPH_SQL.strip()
        + """,
e1 AS (SELECT src, dst FROM edges WHERE src <> 0),
e2 AS (SELECT src, dst FROM e1 WHERE src NOT IN (1, 2) AND dst NOT IN (1, 2)),
final_e AS (SELECT * FROM e2
            UNION ALL SELECT * FROM (VALUES (100, 3), (3, 200)) t(src, dst)),
final_v AS (SELECT id FROM vertices WHERE id NOT IN (1, 2)
            UNION SELECT * FROM (VALUES (100), (101), (200), (300)) t(id))
SELECT 'v' AS kind, CAST(id AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b FROM final_v
UNION ALL
SELECT 'e' AS kind, CAST(src AS BIGINT) AS a, CAST(dst AS BIGINT) AS b FROM final_e"""
    )

    # LPA: unrolled synchronous rounds; per round the winning label is the
    # (max count, min label) neighbor majority — QUALIFY row_number over
    # (c DESC, lbl ASC) = Spark's max(struct(c, -label)) tie order.
    lpa_parts = [
        TRADE_GRAPH_SQL.strip(),
        ", l0 AS MATERIALIZED (SELECT id, id AS val FROM vertices)",
    ]
    for t in range(LPA_ROUNDS):
        lpa_parts.append(
            f""", l{t + 1} AS MATERIALIZED (
    SELECT v.id, COALESCE(m.lbl, v.val) AS val
    FROM l{t} v LEFT JOIN (
        SELECT dst AS id, lbl FROM (
            SELECT e.dst, s.val AS lbl, COUNT(*) AS c
            FROM edges e JOIN l{t} s ON s.id = e.src
            GROUP BY 1, 2
        ) QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY c DESC, lbl ASC) = 1
    ) m ON m.id = v.id
)"""
        )
    lpa_chain = "\n".join(lpa_parts)

    # weighted twin: votes are ROUND(SUM(weight), 4) — the rounding makes
    # the argmax stable under summation order on both engines
    lpaw_parts = [
        TRADE_GRAPH_SQL.strip(),
        ", w0 AS MATERIALIZED (SELECT id, id AS val FROM vertices)",
    ]
    for t in range(LPA_ROUNDS):
        lpaw_parts.append(
            f""", w{t + 1} AS MATERIALIZED (
    SELECT v.id, COALESCE(m.lbl, v.val) AS val
    FROM w{t} v LEFT JOIN (
        SELECT dst AS id, lbl FROM (
            SELECT e.dst, s.val AS lbl, ROUND(SUM(e.weight), 4) AS c
            FROM edges e JOIN w{t} s ON s.id = e.src
            GROUP BY 1, 2
        ) QUALIFY ROW_NUMBER() OVER (PARTITION BY dst ORDER BY c DESC, lbl ASC) = 1
    ) m ON m.id = v.id
)"""
        )
    lpaw_parts.append(
        f"\nSELECT CAST(id AS BIGINT) AS id, CAST(val AS BIGINT) AS community"
        f" FROM w{LPA_ROUNDS}"
    )
    lpa_weighted_sql = "\n".join(lpaw_parts)
    lpa_sql = (
        lpa_chain
        + f"\nSELECT CAST(id AS BIGINT) AS id, CAST(val AS BIGINT) AS community"
        f" FROM l{LPA_ROUNDS}"
    )
    # modularity of the LPA assignment over the same symmetric edge rows:
    # Q = intra/2m - sum_c (deg_c/2m)^2 (2m = directed edge-row count)
    modularity_sql = (
        lpa_chain
        + f""", lab AS (SELECT id, val AS c FROM l{LPA_ROUNDS}),
tagged AS (
    SELECT cs.c AS cs, ct.c AS ct
    FROM edges e
    LEFT JOIN lab cs ON cs.id = e.src
    LEFT JOIN lab ct ON ct.id = e.dst
),
tot AS (
    SELECT SUM(CASE WHEN cs IS NOT NULL AND ct IS NOT NULL
               THEN 1.0 ELSE 0.0 END) AS m2,
           SUM(CASE WHEN cs = ct THEN 1.0 ELSE 0.0 END) AS intra,
           SUM(CASE WHEN cs IS NULL OR ct IS NULL
               THEN 1 ELSE 0 END) AS dropped
    FROM tagged
),
degs AS (
    SELECT cs, CAST(COUNT(*) AS DOUBLE) AS dc FROM tagged
    WHERE cs IS NOT NULL AND ct IS NOT NULL GROUP BY 1
),
ex AS (
    SELECT SUM((dc / (SELECT m2 FROM tot)) * (dc / (SELECT m2 FROM tot))) AS e,
           CAST(COUNT(*) AS BIGINT) AS nc
    FROM degs
)
SELECT ROUND((SELECT intra FROM tot) / (SELECT m2 FROM tot)
             - (SELECT e FROM ex), 6) AS modularity,
       (SELECT nc FROM ex) AS n_communities,
       CAST((SELECT m2 FROM tot) AS BIGINT) AS n_edges,
       CAST((SELECT dropped FROM tot) AS BIGINT) AS n_dropped_edges"""
    )
    sparsify_sql = (
        TRADE_GRAPH_SQL.strip()
        + """
SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, weight
FROM (
    SELECT src, dst, weight,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY weight DESC, dst ASC) AS rn
    FROM edges
) WHERE rn <= 3"""
    )

    reciprocity_sql = (
        NATION_GRAPH_SQL.strip()
        + """,
re AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
rm AS (SELECT COUNT(*) AS nm FROM re a
       WHERE EXISTS (SELECT 1 FROM re b
                     WHERE b.src = a.dst AND b.dst = a.src)),
rt AS (SELECT COUNT(*) AS ne FROM re)
SELECT ROUND(CAST(nm AS DOUBLE) / ne, 6) AS reciprocity,
       CAST(ne AS BIGINT) AS n_edges,
       CAST(nm AS BIGINT) AS n_mutual
FROM rt, rm"""
    )

    # Newman 2003 categorical mixing over the symmetric trade graph,
    # categories = nation keys on both endpoint types
    nation_assort_sql = (
        TRADE_GRAPH_SQL.strip()
        + """,
attrs AS (
    SELECT CAST(c_custkey AS BIGINT) AS id,
           CAST(c_nationkey AS BIGINT) AS nation FROM customer
    UNION ALL
    SELECT CAST(s_suppkey + 1000000000 AS BIGINT) AS id,
           CAST(s_nationkey AS BIGINT) AS nation FROM supplier
),
tagged AS (
    SELECT ai.nation AS ci, aj.nation AS cj
    FROM edges e
    LEFT JOIN attrs ai ON ai.id = e.src
    LEFT JOIN attrs aj ON aj.id = e.dst
),
mix AS (
    SELECT ci, cj, CAST(COUNT(*) AS DOUBLE) AS n FROM tagged
    WHERE ci IS NOT NULL AND cj IS NOT NULL GROUP BY 1, 2
),
drp AS (SELECT CAST(SUM(CASE WHEN ci IS NULL OR cj IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS nd FROM tagged),
tot AS (SELECT SUM(n) AS m FROM mix),
ai AS (SELECT ci, SUM(n) AS a FROM mix GROUP BY 1),
bj AS (SELECT cj, SUM(n) AS b FROM mix GROUP BY 1),
ab AS (
    SELECT COALESCE(SUM((ai.a / (SELECT m FROM tot))
                        * (bj.b / (SELECT m FROM tot))), 0) AS sab
    FROM ai JOIN bj ON bj.cj = ai.ci
),
ncat AS (
    SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS nc
    FROM (SELECT ci AS c FROM ai UNION ALL SELECT cj AS c FROM bj)
),
eii AS (SELECT COALESCE(SUM(n / (SELECT m FROM tot)), 0) AS e FROM mix
        WHERE ci = cj)
SELECT ROUND(((SELECT e FROM eii) - (SELECT sab FROM ab))
             / (1.0 - (SELECT sab FROM ab)), 6) AS assortativity,
       (SELECT nc FROM ncat) AS n_categories,
       CAST((SELECT m FROM tot) AS BIGINT) AS n_edges,
       (SELECT nd FROM drp) AS n_dropped_edges"""
    )

    def _prof_one(col: str) -> str:
        return f"""
SELECT '{col}' AS "column",
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
       ROUND(MIN(TRY_CAST({col} AS DOUBLE)), 6) AS min_val,
       ROUND(MAX(TRY_CAST({col} AS DOUBLE)), 6) AS max_val,
       ROUND(AVG(TRY_CAST({col} AS DOUBLE)), 6) AS mean,
       ROUND(STDDEV_SAMP(TRY_CAST({col} AS DOUBLE)), 6) AS stddev
FROM events"""

    profile_columns_sql = " UNION ALL ".join(
        _prof_one(c) for c in ("value", "user_id", "event_id")
    )

    retention_sql = """
WITH fu AS (
  SELECT user_id AS u, date_trunc('week', MIN(ts)) AS cohort
  FROM events GROUP BY 1
),
act AS (
  SELECT DISTINCT e.user_id AS u, fu.cohort,
         CAST(date_diff('day', CAST(fu.cohort AS DATE),
                        CAST(date_trunc('week', e.ts) AS DATE)) // 7
              AS BIGINT) AS period_offset
  FROM events e JOIN fu ON fu.u = e.user_id
)
SELECT CAST(CAST(cohort AS DATE) AS VARCHAR) AS cohort, period_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM act GROUP BY 1, 2"""

    # out-degree of src vs in-degree of dst (the out–in directed variant;
    # identical on the symmetric trade graph where out = in)
    assortativity_sql = (
        TRADE_GRAPH_SQL.strip()
        + """,
odeg AS (SELECT src AS v, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY 1),
ideg AS (SELECT dst AS v, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY 1)
SELECT ROUND(CORR(ds.d, dt.d), 6) AS assortativity,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM edges e JOIN odeg ds ON ds.v = e.src JOIN ideg dt ON dt.v = e.dst"""
    )

    # k-means (8 cells, 2 Lloyd iterations, dim 64): seed = lowest-id
    # vectors; each round's assignment ranks ROUND(cosine, 6) with ties to
    # the lower cell, each centroid component is ROUND(AVG, 6) — the same
    # rounding the Spark side applies, so the unrolled replay is exact.
    def _km_assign(src_cents: str, out: str) -> str:
        return f""", {out} AS MATERIALIZED (
    SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6) DESC,
                            c.cell ASC) AS rn
        FROM e CROSS JOIN {src_cents} c)
    WHERE rn = 1
)"""

    def _km_recenter(src_assign: str, out: str) -> str:
        return f""", {out}_d AS (
    SELECT cell, p.i AS pos, ROUND(AVG(v[p.i + 1]), 6) AS m
    FROM {src_assign} CROSS JOIN (SELECT unnest(range(64)) AS i) p
    GROUP BY 1, 2
), {out} AS MATERIALIZED (
    SELECT cell, list(m ORDER BY pos) AS cv FROM {out}_d GROUP BY cell
)"""

    kmeans_sql = (
        """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS MATERIALIZED (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT 8)"""
        + _km_assign("c0", "a1")
        + _km_recenter("a1", "c1")
        + _km_assign("c1", "a2")
        + _km_recenter("a2", "c2")
        + _km_assign("c2", "a3")
        + """
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cell AS BIGINT) AS cell FROM a3"""
    )

    semdedup_sql = (
        """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS MATERIALIZED (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT 16)"""
        + _km_assign("c0", "asg")
        + """,
dup AS (
    SELECT b.vec_id, MIN(a.vec_id) AS dup_of
    FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.35
    GROUP BY 1
)
SELECT CAST(s.vec_id AS BIGINT) AS vec_id, CAST(s.cell AS BIGINT) AS cell,
       d.dup_of IS NULL AS kept, CAST(d.dup_of AS BIGINT) AS dup_of
FROM asg s LEFT JOIN dup d ON s.vec_id = d.vec_id"""
    )

    # two-level quantizer twin: coarse argmin over the 4 ranked lowest-id
    # seeds, sub argmin over each coarse group's 4 ranked lowest-id
    # members — both probes and the dedup identical to the flat replay,
    # every similarity ROUND(·,6)-stabilized
    semdedup_two_level_sql = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cr AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
),
ca AS MATERIALIZED (
  SELECT vec_id, v, cell AS coarse FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6) DESC,
                        c.cell ASC) AS rn
    FROM e CROSS JOIN cr c)
  WHERE rn = 1
),
sc AS MATERIALIZED (
  SELECT coarse, rk - 1 AS sub, v AS cv FROM (
    SELECT coarse, v,
           ROW_NUMBER() OVER (PARTITION BY coarse ORDER BY vec_id) AS rk
    FROM ca)
  WHERE rk <= 4
),
asg AS MATERIALIZED (
  SELECT vec_id, v, coarse * 4 + sub AS cell FROM (
    SELECT a.vec_id, a.v, a.coarse, s.sub,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY ROUND(list_cosine_similarity(a.v, s.cv), 6) DESC,
                        s.sub ASC) AS rn
    FROM ca a JOIN sc s ON s.coarse = a.coarse)
  WHERE rn = 1
),
dup AS (
    SELECT b.vec_id, MIN(a.vec_id) AS dup_of
    FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.35
    GROUP BY 1
)
SELECT CAST(s.vec_id AS BIGINT) AS vec_id, CAST(s.cell AS BIGINT) AS cell,
       d.dup_of IS NULL AS kept, CAST(d.dup_of AS BIGINT) AS dup_of
FROM asg s LEFT JOIN dup d ON s.vec_id = d.vec_id"""

    # exact-substring scrub: delete tokens covered by any 8-gram present in
    # >= 2 distinct docs (planted copies guarantee shared spans); slices are
    # inclusive in DuckDB (t[i:i+7] = 8 tokens = Spark slice(_t, i, 8))
    scrub_dup_ngrams_sql = f"""
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, ' ' || text || ' !! ' AS text
  FROM documents WHERE doc_id % 20 = 0
),
tok AS (SELECT doc_id, string_split({norm}, ' ') AS t FROM docs2),
occ AS (
  SELECT doc_id, i AS start, array_to_string(t[i:i+7], ' ') AS gram
  FROM (SELECT doc_id, t,
               unnest(CASE WHEN len(t) >= 8 THEN range(1, len(t) - 6)
                           ELSE [] END) AS i
        FROM tok)
),
dup AS (SELECT gram FROM occ GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT o.doc_id, o.start + p.i AS pos
  FROM occ o JOIN dup USING (gram)
  CROSS JOIN (SELECT unnest(range(8)) AS i) p
),
tokpos AS (
  SELECT doc_id, i + 1 AS pos, t[i + 1] AS w
  FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM tok)
  WHERE t[i + 1] <> ''
),
kept AS (
  SELECT k.doc_id, k.pos, k.w FROM tokpos k
  WHERE NOT EXISTS (SELECT 1 FROM cov c
                    WHERE c.doc_id = k.doc_id AND c.pos = k.pos)
),
clean AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(c.clean_text, '') AS clean_text,
       CAST(COALESCE(c.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(list_filter(d.t, x -> x <> '')) - COALESCE(c.n_kept, 0)
            AS BIGINT) AS n_removed
FROM tok d LEFT JOIN clean c USING (doc_id)"""

    # Brandes betweenness, unrolled: forward = per-pivot BFS levels with
    # path counts (σ sums over dist-(d) predecessors), backward = reverse
    # level sweep accumulating δ = σ_v · Σ_w (1+δ_w)/σ_w over dist-(d+1)
    # successors. Levels beyond the true depth are empty no-ops.
    piv_list = ", ".join(str(p) for p in BETWEENNESS_PIVOTS)
    bet_parts = [
        TRADE_GRAPH_SQL.strip(),
        f""", ba0 AS MATERIALIZED (
    SELECT CAST(p AS BIGINT) AS pv, CAST(p AS BIGINT) AS id,
           0 AS dist, 1.0 AS sigma
    FROM (SELECT unnest([{piv_list}]) AS p)
), bf0 AS MATERIALIZED (SELECT * FROM ba0)""",
    ]
    for d in range(BETWEENNESS_K):
        bet_parts.append(
            f""", bf{d + 1} AS MATERIALIZED (
    SELECT f.pv, e.dst AS id, {d + 1} AS dist, SUM(f.sigma) AS sigma
    FROM bf{d} f JOIN edges e ON e.src = f.id
    WHERE NOT EXISTS (SELECT 1 FROM ba{d} a
                      WHERE a.pv = f.pv AND a.id = e.dst)
    GROUP BY 1, 2
), ba{d + 1} AS MATERIALIZED (
    SELECT * FROM ba{d} UNION ALL SELECT * FROM bf{d + 1}
)"""
        )
    bet_parts.append(
        f", bd{BETWEENNESS_K} AS MATERIALIZED ("
        f"SELECT pv, id, dist, sigma, 0.0 AS delta FROM ba{BETWEENNESS_K})"
    )
    for d in range(BETWEENNESS_K - 1, -1, -1):
        bet_parts.append(
            f""", bd{d} AS MATERIALIZED (
    SELECT t.pv, t.id, t.dist, t.sigma,
           CASE WHEN t.dist = {d} THEN t.sigma * COALESCE(c.s, 0)
                ELSE t.delta END AS delta
    FROM bd{d + 1} t
    LEFT JOIN (SELECT w.pv, e.src AS id,
                      SUM((1 + w.delta) / w.sigma) AS s
               FROM bd{d + 1} w JOIN edges e ON e.dst = w.id
               WHERE w.dist = {d + 1}
               GROUP BY 1, 2) c
      ON c.pv = t.pv AND c.id = t.id
)"""
        )
    bet_parts.append(
        """
SELECT CAST(v.id AS BIGINT) AS id,
       ROUND(COALESCE(SUM(CASE WHEN d.dist > 0 THEN d.delta END), 0), 6)
           AS betweenness
FROM vertices v LEFT JOIN bd0 d ON d.id = v.id
GROUP BY v.id"""
    )
    betweenness_sql = "\n".join(bet_parts)

    tfidf_sql = f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> ''
  GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(tf.tf * ln((SELECT nd FROM n) / dfreq.dfc), 6) AS score
  FROM tf JOIN dfreq USING (term)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, CAST(tf AS BIGINT) AS tf,
       score,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS BIGINT) AS rnk
FROM scored QUALIFY rnk <= 3"""

    ws_tok = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(string_split_regex(trim(text), '\\s+')) END"
    )
    pack_sequences_sql = f"""
WITH t AS (
  SELECT doc_id, source AS stratum, CAST({ws_tok} AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, stratum, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY stratum ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, stratum, n_tokens,
       CAST(FLOOR(start / 256) AS BIGINT) AS seq_id,
       CAST(start % 256 AS BIGINT) AS offset
FROM c"""

    # eigenvector centrality: unrolled max-normalized power iteration with
    # the same per-round ROUND(.,6) the Spark side applies
    ev_parts = [
        TRADE_GRAPH_SQL.strip(),
        ", ev0 AS MATERIALIZED (SELECT id, 1.0 AS x FROM vertices)",
    ]
    for t in range(EV_ITERS):
        ev_parts.append(
            f""", evr{t} AS MATERIALIZED (
    SELECT v.id, COALESCE(m.s, 0) AS raw
    FROM ev{t} v LEFT JOIN (
        SELECT e.dst AS id, SUM(s.x) AS s
        FROM edges e JOIN ev{t} s ON s.id = e.src GROUP BY 1
    ) m ON m.id = v.id
), ev{t + 1} AS MATERIALIZED (
    SELECT id,
           ROUND(COALESCE(raw / NULLIF((SELECT MAX(raw) FROM evr{t}), 0), 0),
                 6) AS x
    FROM evr{t}
)"""
        )
    ev_parts.append(
        f"SELECT CAST(id AS BIGINT) AS id, x AS eigenvector FROM ev{EV_ITERS}"
    )
    eigenvector_sql = "\n".join(ev_parts)

    # layered neighbor sampling: per-hop md5-hash-ranked fanout cap,
    # replayed with the portable_hash60 twin
    def _ns_hop(h: int, fanout: int, frontier: str, out: str) -> str:
        hsh = (
            f"CAST(('0x' || substr(md5('42-{h}-' || CAST(e.src AS VARCHAR)"
            f" || '-' || CAST(e.dst AS VARCHAR)), 1, 15)) AS BIGINT)"
        )
        return f""", {out} AS MATERIALIZED (
    SELECT {h} AS hop, src, dst FROM (
        SELECT e.src, e.dst,
               ROW_NUMBER() OVER (PARTITION BY e.src
                                  ORDER BY {hsh}, e.dst) AS rn
        FROM {frontier} f JOIN edges e ON e.src = f.f
    ) WHERE rn <= {fanout}
)"""

    neighbor_sample_sql = (
        TRADE_GRAPH_SQL.strip()
        + ", nf0 AS (SELECT DISTINCT id AS f FROM vertices WHERE id IN (1, 2, 3))"
        + _ns_hop(0, 5, "nf0", "ns0")
        + ", nf1 AS (SELECT DISTINCT dst AS f FROM ns0)"
        + _ns_hop(1, 5, "nf1", "ns1")
        + """
SELECT CAST(hop AS BIGINT) AS hop, CAST(src AS BIGINT) AS src,
       CAST(dst AS BIGINT) AS dst
FROM (SELECT * FROM ns0 UNION ALL SELECT * FROM ns1)"""
    )

    # k-truss: unrolled edge peeling — per round, enumerate oriented
    # triangles (a<b<c), 3-role support union, drop edges below k-2;
    # rounds beyond the fixpoint are no-ops; final support computed ON
    # the stable edge set (as the Spark loop reports it)
    KT_K, KT_ROUNDS = 6, 10
    kt_parts = [
        COPURCHASE_GRAPH_SQL.strip(),
        ", kt0 AS MATERIALIZED (SELECT src AS s, dst AS d FROM edges)",
    ]
    for r in range(KT_ROUNDS + 1):
        kt_parts.append(
            f""", ktr{r} AS (
    SELECT e1.s AS a, e1.d AS b, e2.d AS c
    FROM kt{r} e1 JOIN kt{r} e2 ON e1.d = e2.s
    JOIN kt{r} e3 ON e3.s = e1.s AND e3.d = e2.d
), ksp{r} AS MATERIALIZED (
    SELECT s, d, COUNT(*) AS c FROM (
        SELECT a AS s, b AS d FROM ktr{r}
        UNION ALL SELECT b AS s, c AS d FROM ktr{r}
        UNION ALL SELECT a AS s, c AS d FROM ktr{r}
    ) GROUP BY 1, 2
)"""
        )
        if r < KT_ROUNDS:
            kt_parts.append(
                f""", kt{r + 1} AS MATERIALIZED (
    SELECT t.s, t.d FROM kt{r} t
    LEFT JOIN ksp{r} p ON p.s = t.s AND p.d = t.d
    WHERE COALESCE(p.c, 0) >= {KT_K - 2}
)"""
            )
    kt_parts.append(
        f"""
SELECT CAST(t.s AS BIGINT) AS src, CAST(t.d AS BIGINT) AS dst,
       CAST(COALESCE(p.c, 0) AS BIGINT) AS support
FROM kt{KT_ROUNDS} t
LEFT JOIN ksp{KT_ROUNDS} p ON p.s = t.s AND p.d = t.d"""
    )
    k_truss_sql = "\n".join(kt_parts)

    # deterministic random walks: per-step min-hash next hop (QUALIFY
    # rn=1 = Spark's min_by over (hash, dst))
    RW_LEN = 4
    rw_parts = [
        TRADE_GRAPH_SQL.strip(),
        ", rw0 AS MATERIALIZED (SELECT id AS walk, id AS at"
        " FROM vertices WHERE id IN (1, 2, 3))",
    ]
    for t in range(1, RW_LEN + 1):
        hsh = (
            f"CAST(('0x' || substr(md5('42-' || CAST(c.walk AS VARCHAR)"
            f" || '-{t}-' || CAST(e.src AS VARCHAR) || '-'"
            f" || CAST(e.dst AS VARCHAR)), 1, 15)) AS BIGINT)"
        )
        rw_parts.append(
            f""", rw{t} AS MATERIALIZED (
    SELECT walk, at FROM (
        SELECT c.walk, e.dst AS at,
               ROW_NUMBER() OVER (PARTITION BY c.walk
                                  ORDER BY {hsh}, e.dst) AS rn
        FROM rw{t - 1} c JOIN edges e ON e.src = c.at
    ) WHERE rn = 1
)"""
        )
    rw_union = "\nUNION ALL\n".join(
        f"SELECT walk, {t} AS step, at FROM rw{t}" for t in range(RW_LEN + 1)
    )
    random_walks_sql = (
        "\n".join(rw_parts)
        + f"""
SELECT CAST(walk AS BIGINT) AS walk_id, CAST(step AS BIGINT) AS step,
       CAST(at AS BIGINT) AS id
FROM ({rw_union})"""
    )

    # HITS: unrolled alternating max-normalized rounds (authority from
    # hub mass along edges, hub from authority mass against them), same
    # per-round ROUND(.,6) as the Spark loop
    hits_parts = [
        TRADE_GRAPH_DIRECTED_SQL.strip(),
        ", hs0 AS MATERIALIZED (SELECT id, 1.0 AS h, 1.0 AS a FROM vertices)",
    ]
    for t in range(EV_ITERS):
        hits_parts.append(
            f""", aup{t} AS (
    SELECT v.id, v.h, COALESCE(m.s, 0) AS ra
    FROM hs{t} v LEFT JOIN (
        SELECT e.dst AS id, SUM(x.h) AS s
        FROM edges e JOIN hs{t} x ON x.id = e.src GROUP BY 1
    ) m ON m.id = v.id
), anorm{t} AS MATERIALIZED (
    SELECT id, h,
           ROUND(COALESCE(ra / NULLIF((SELECT MAX(ra) FROM aup{t}), 0), 0),
                 6) AS a
    FROM aup{t}
), hup{t} AS (
    SELECT v.id, v.a, COALESCE(m.s, 0) AS rh
    FROM anorm{t} v LEFT JOIN (
        SELECT e.src AS id, SUM(x.a) AS s
        FROM edges e JOIN anorm{t} x ON x.id = e.dst GROUP BY 1
    ) m ON m.id = v.id
), hs{t + 1} AS MATERIALIZED (
    SELECT id,
           ROUND(COALESCE(rh / NULLIF((SELECT MAX(rh) FROM hup{t}), 0), 0),
                 6) AS h,
           a
    FROM hup{t}
)"""
        )
    hits_parts.append(
        f"SELECT CAST(id AS BIGINT) AS id, h AS hub, a AS authority"
        f" FROM hs{EV_ITERS}"
    )
    hits_sql = "\n".join(hits_parts)

    diameter_sql = (
        hc_chain
        + """
SELECT CAST(MAX(d) AS BIGINT) AS diameter_lb, CAST(4 AS BIGINT) AS n_pivots
FROM hp16"""
    )

    ego_subgraph_sql = (
        COPURCHASE_GRAPH_SQL.strip()
        + """,
esym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
eg0 AS (SELECT DISTINCT id AS v FROM vertices WHERE id IN (1, 2)),
eg1 AS (SELECT DISTINCT e.dst AS v FROM esym e JOIN eg0 ON e.src = eg0.v),
ball AS (SELECT v FROM eg0 UNION SELECT v FROM eg1)
SELECT CAST(e.src AS BIGINT) AS src, CAST(e.dst AS BIGINT) AS dst
FROM esym e JOIN ball a ON a.v = e.src JOIN ball b ON b.v = e.dst"""
    )

    jaccard_lp_sql = (
        COPURCHASE_GRAPH_SQL.strip()
        + """,
jsym AS MATERIALIZED (
    SELECT src AS s, dst AS d FROM edges
    UNION SELECT dst AS s, src AS d FROM edges
),
jdeg AS (SELECT s AS v, COUNT(*) AS dg FROM jsym GROUP BY 1),
jp AS (
    SELECT a.s AS id, b.d AS candidate, COUNT(*) AS cn
    FROM jsym a JOIN jsym b ON a.d = b.s AND a.s <> b.d
    GROUP BY 1, 2
),
jnp AS (
    SELECT p.id, p.candidate, p.cn,
           ROUND(p.cn / CAST(da.dg + dc.dg - p.cn AS DOUBLE), 6) AS jac
    FROM jp p
    JOIN jdeg da ON da.v = p.id
    JOIN jdeg dc ON dc.v = p.candidate
    WHERE NOT EXISTS (SELECT 1 FROM jsym e
                      WHERE e.s = p.id AND e.d = p.candidate)
)
SELECT CAST(id AS BIGINT) AS id, CAST(candidate AS BIGINT) AS candidate,
       CAST(cn AS BIGINT) AS common_neighbors, jac AS jaccard,
       CAST(ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY jac DESC, cn DESC, candidate ASC)
            AS BIGINT) AS rnk
FROM jnp QUALIFY rnk <= 5"""
    )

    # Adamic–Adar twin: same wedge relation with the midpoint degree
    # joined in; weight sum ROUND(,6) before ranking on both engines
    adamic_adar_sql = (
        COPURCHASE_GRAPH_SQL.strip()
        + """,
jsym AS MATERIALIZED (
    SELECT src AS s, dst AS d FROM edges
    UNION SELECT dst AS s, src AS d FROM edges
),
jdeg AS (SELECT s AS v, COUNT(*) AS dg FROM jsym GROUP BY 1),
jp AS (
    SELECT a.s AS id, b.d AS candidate,
           COUNT(*) AS cn,
           ROUND(SUM(1.0 / ln(dm.dg)), 6) AS aa
    FROM jsym a
    JOIN jsym b ON a.d = b.s AND a.s <> b.d
    JOIN jdeg dm ON dm.v = a.d
    GROUP BY 1, 2
),
jnp AS (
    SELECT p.id, p.candidate, p.cn, p.aa FROM jp p
    WHERE NOT EXISTS (SELECT 1 FROM jsym e
                      WHERE e.s = p.id AND e.d = p.candidate)
)
SELECT CAST(id AS BIGINT) AS id, CAST(candidate AS BIGINT) AS candidate,
       CAST(cn AS BIGINT) AS common_neighbors, aa AS adamic_adar,
       CAST(ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY aa DESC, cn DESC, candidate ASC)
            AS BIGINT) AS rnk
FROM jnp QUALIFY rnk <= 5"""
    )

    # SSSP + predecessor tree: the relax recurrence with an argmin
    # (dist ASC, sender ASC) — both engines compute the identical double
    # sums (same operands, min is exact), so pred ties resolve identically
    sp_parts = [
        TRADE_GRAPH_SQL.strip(),
        f""", sp0 AS MATERIALIZED (
    SELECT id, CASE WHEN id = {SSSP_SOURCE} THEN 0.0
                    ELSE 'infinity'::DOUBLE END AS val,
           CAST(NULL AS BIGINT) AS pred
    FROM vertices
)""",
    ]
    for t in range(UNROLL_K):
        sp_parts.append(
            f""", spm{t} AS (
    SELECT id, nv, src FROM (
        SELECT e.dst AS id, s.val + e.weight AS nv, e.src,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY s.val + e.weight ASC, e.src ASC)
                   AS rn
        FROM edges e JOIN sp{t} s ON s.id = e.src
        WHERE s.val < 'infinity'::DOUBLE
    ) WHERE rn = 1
), sp{t + 1} AS MATERIALIZED (
    SELECT v.id,
           CASE WHEN m.nv < v.val THEN m.nv ELSE v.val END AS val,
           CASE WHEN m.nv < v.val THEN m.src ELSE v.pred END AS pred
    FROM sp{t} v LEFT JOIN spm{t} m ON m.id = v.id
)"""
        )
    sp_parts.append(
        f"""
SELECT CAST(id AS BIGINT) AS id, ROUND(val, 2) AS distance,
       CAST(pred AS BIGINT) AS pred
FROM sp{UNROLL_K} WHERE val < 'infinity'::DOUBLE"""
    )
    sssp_paths_sql = "\n".join(sp_parts)

    # -------- crawl-curation (r9) oracles --------
    # url_curation: the fixture derives CONTENT from eff (dup pairs
    # fold %10==9 onto the even neighbor) and NOISE from doc_id, so
    # the canonical form is reconstructible from the same arithmetic —
    # no URL parsing in the oracle, which is exactly the point: the
    # Spark side must parse/normalize its way back to this closed form.
    _uc_host = "'h' || (eff % 7) || '.site' || (eff % 13) || '.example'"
    url_curation_sql = f"""
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS eff
  FROM documents
), built AS (
  SELECT doc_id,
    CASE WHEN doc_id % 29 = 0 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
    ELSE
      (CASE WHEN eff % 4 = 0 THEN 'HTTPS' ELSE 'http' END) || '://'
      || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
      || (CASE WHEN doc_id % 2 = 0 THEN upper({_uc_host})
               ELSE {_uc_host} END)
      || (CASE WHEN eff % 11 = 0 THEN ':8080'
               WHEN doc_id % 5 = 0 AND eff % 4 = 0 THEN ':443'
               WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)
      || (CASE WHEN eff % 17 = 0 THEN '' ELSE '/p/' || (eff % 10) END)
      || (CASE WHEN eff % 3 = 0 THEN
                 (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x' ELSE '' END)
               WHEN eff % 3 = 1 THEN
                 (CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=' || (eff % 4)
                       ELSE '?b=' || (eff % 4) || '&a=1&utm_medium=m' END)
               ELSE '?b=' || (eff % 4)
                    || (CASE WHEN doc_id % 6 = 1 THEN '&gclid=g' ELSE '' END)
          END)
      || (CASE WHEN doc_id % 8 = 0 THEN '#sec2' ELSE '' END)
    END AS url,
    CASE WHEN doc_id % 29 = 0 THEN NULL ELSE
      (CASE WHEN eff % 4 = 0 THEN 'https' ELSE 'http' END)
      || '://' || {_uc_host}
      || (CASE WHEN eff % 11 = 0 THEN ':8080' ELSE '' END)
      || (CASE WHEN eff % 17 = 0 THEN '/' ELSE '/p/' || (eff % 10) END)
      || (CASE WHEN eff % 3 = 0 THEN ''
               WHEN eff % 3 = 1 THEN '?a=1&b=' || (eff % 4)
               ELSE '?b=' || (eff % 4) END)
    END AS norm_url,
    CASE WHEN doc_id % 29 = 0 THEN NULL
         ELSE 'site' || (eff % 13) || '.example' END AS dom
  FROM u
), keep AS (
  SELECT norm_url, MIN(doc_id) AS kid FROM built
  WHERE norm_url IS NOT NULL GROUP BY 1
), ded AS (
  SELECT b.doc_id, b.url, b.norm_url, b.dom
  FROM built b JOIN keep k ON b.norm_url = k.norm_url AND b.doc_id = k.kid
  UNION ALL
  SELECT doc_id, url, norm_url, dom FROM built WHERE norm_url IS NULL
), bl AS (
  SELECT * FROM ded
  WHERE dom IS NULL OR dom NOT IN ('site4.example', 'site7.example')
), capd AS (
  SELECT doc_id, url, norm_url,
         ROW_NUMBER() OVER (
           PARTITION BY dom ORDER BY {_bucket_sql()}, doc_id) AS rnk
  FROM bl WHERE dom IS NOT NULL
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, url, norm_url
FROM capd WHERE rnk <= 12
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS doc_id, url, norm_url
FROM bl WHERE dom IS NULL"""

    # wet_ingest: the oracle never sees a WARC byte — it states what
    # the gate must say about the ORIGINAL text; the Spark side gets
    # there only if serialize → gzip → parse → decode is byte-exact
    wet_ingest_sql = f"""
WITH q AS ({quality_sql}),
r AS (
  SELECT doc_id,
         CAST((CASE WHEN n_tokens >= 5 THEN 0 ELSE 1 END)
            + (CASE WHEN n_tokens <= 100000 THEN 0 ELSE 1 END)
            + (CASE WHEN alpha_ratio >= 0.6 THEN 0 ELSE 1 END)
            + (CASE WHEN digit_ratio <= 0.3 THEN 0 ELSE 1 END)
            + (CASE WHEN stopword_ratio >= 0.05 THEN 0 ELSE 1 END)
           AS BIGINT) AS n_fail
  FROM q)
SELECT 'https://' || d.source || '.example/d/' || CAST(d.doc_id AS VARCHAR)
         AS url,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       r.n_fail,
       r.n_fail = 0 AS passed
FROM documents d JOIN r ON r.doc_id = d.doc_id
WHERE d.text IS NOT NULL"""

    # data_card: every section replayed; fractional metrics are the
    # card's fixed six-decimal canonical form → printf('%.6f', …)
    _dc_group = "source || '/' || lang"
    data_card_sql = f"""
WITH corpus AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({ws_tokens}) AS BIGINT) AS total_tokens,
         CAST(SUM(length(text)) AS BIGINT) AS total_chars
  FROM documents GROUP BY 1, 2
), q AS ({quality_sql}),
r AS (
  SELECT doc_id, n_tokens,
         (CASE WHEN n_tokens >= 5 THEN 0 ELSE 1 END)
       + (CASE WHEN n_tokens <= 100000 THEN 0 ELSE 1 END)
       + (CASE WHEN alpha_ratio >= 0.6 THEN 0 ELSE 1 END)
       + (CASE WHEN digit_ratio <= 0.3 THEN 0 ELSE 1 END)
       + (CASE WHEN stopword_ratio >= 0.05 THEN 0 ELSE 1 END) AS n_fail
  FROM q),
gate AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN n_fail = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass_gate,
         printf('%.6f', ROUND(AVG(CASE WHEN n_fail = 0 THEN 1.0
                                       ELSE 0.0 END), 6)) AS gate_pass_rate
  FROM r),
prof AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN n_tokens IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(COUNT(DISTINCT n_tokens) AS BIGINT) AS n_distinct,
         printf('%.6f', ROUND(MIN(CAST(n_tokens AS DOUBLE)), 6)) AS min_val,
         printf('%.6f', ROUND(MAX(CAST(n_tokens AS DOUBLE)), 6)) AS max_val,
         printf('%.6f', ROUND(AVG(CAST(n_tokens AS DOUBLE)), 6)) AS mean,
         printf('%.6f', ROUND(STDDEV_SAMP(CAST(n_tokens AS DOUBLE)), 6))
           AS stddev
  FROM r),
dup AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS dup_groups,
         CAST(COALESCE(SUM(n_docs - 1), 0) AS BIGINT) AS dup_docs_removable
  FROM (SELECT md5({norm}) AS h, COUNT(*) AS n_docs
        FROM documents GROUP BY 1 HAVING COUNT(*) > 1)
),
emb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
         CAST(MIN(len(embedding)) AS BIGINT) AS dim_min,
         CAST(MAX(len(embedding)) AS BIGINT) AS dim_max,
         CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null
  FROM embeddings)
SELECT 'corpus' AS section, 'n_docs' AS metric, {_dc_group} AS "group",
       CAST(n_docs AS VARCHAR) AS value FROM corpus
UNION ALL SELECT 'corpus', 'total_tokens', {_dc_group},
       CAST(total_tokens AS VARCHAR) FROM corpus
UNION ALL SELECT 'corpus', 'total_chars', {_dc_group},
       CAST(total_chars AS VARCHAR) FROM corpus
UNION ALL SELECT 'quality', 'n_docs', '', CAST(n_docs AS VARCHAR) FROM gate
UNION ALL SELECT 'quality', 'n_pass_gate', '',
       CAST(n_pass_gate AS VARCHAR) FROM gate
UNION ALL SELECT 'quality', 'gate_pass_rate', '', gate_pass_rate FROM gate
UNION ALL SELECT 'quality', 'n_rows', '', CAST(n_rows AS VARCHAR) FROM prof
UNION ALL SELECT 'quality', 'n_null', '', CAST(n_null AS VARCHAR) FROM prof
UNION ALL SELECT 'quality', 'n_distinct', '',
       CAST(n_distinct AS VARCHAR) FROM prof
UNION ALL SELECT 'quality', 'min_val', '', min_val FROM prof
UNION ALL SELECT 'quality', 'max_val', '', max_val FROM prof
UNION ALL SELECT 'quality', 'mean', '', mean FROM prof
UNION ALL SELECT 'quality', 'stddev', '', stddev FROM prof
UNION ALL SELECT 'dedup', 'dup_groups', '',
       CAST(dup_groups AS VARCHAR) FROM dup
UNION ALL SELECT 'dedup', 'dup_docs_removable', '',
       CAST(dup_docs_removable AS VARCHAR) FROM dup
UNION ALL SELECT 'embeddings', 'n_vectors', '',
       CAST(n_vectors AS VARCHAR) FROM emb
UNION ALL SELECT 'embeddings', 'dim_min', '', CAST(dim_min AS VARCHAR) FROM emb
UNION ALL SELECT 'embeddings', 'dim_max', '', CAST(dim_max AS VARCHAR) FROM emb
UNION ALL SELECT 'embeddings', 'n_null', '', CAST(n_null AS VARCHAR) FROM emb"""

    # bpe_merges: the standard unrolled-loop oracle applied to BPE —
    # per round: pair counts over the evolving symbol arrays, the
    # (count DESC, a, b) argmax, and the left-to-right non-overlapping
    # merge (fold semantics: fired(i) = match(i) AND NOT fired(i-1) ⇔
    # odd rank within each island of consecutive match positions)
    def _bpe_oracle(k: int) -> str:
        parts = [
            f"""WITH wf AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split({norm}, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1
), s0 AS MATERIALIZED (
  SELECT word, freq,
         list_append(
           list_transform(range(1, length(word)),
                          i -> substr(word, CAST(i AS INTEGER), 1)),
           substr(word, length(word), 1) || '▁') AS syms
  FROM wf
)"""
        ]
        for t in range(1, k + 1):
            parts.append(
                f""", p{t} AS (
  SELECT p.a AS a, p.b AS b, SUM(freq) AS cnt FROM (
    SELECT freq,
           unnest(list_transform(range(1, len(syms)),
             i -> struct_pack(a := syms[i], b := syms[i + 1]))) AS p
    FROM s{t - 1}
  ) GROUP BY 1, 2
), m{t} AS MATERIALIZED (
  SELECT a, b FROM p{t} ORDER BY cnt DESC, a, b LIMIT 1
), mp{t} AS (
  SELECT word, i,
         ROW_NUMBER() OVER (
           PARTITION BY word, i - r ORDER BY i) AS rn
  FROM (
    SELECT word, i, ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS r
    FROM (
      SELECT s.word AS word,
             unnest(list_filter(range(1, len(s.syms)),
               i -> s.syms[i] = m.a AND s.syms[i + 1] = m.b)) AS i
      FROM s{t - 1} s CROSS JOIN m{t} m
    )
  )
), sel{t} AS (
  SELECT word, list(i) AS sel FROM mp{t} WHERE rn % 2 = 1 GROUP BY 1
), s{t} AS MATERIALIZED (
  SELECT s.word, s.freq,
    list_filter(
      list_transform(range(1, len(s.syms) + 1), i ->
        CASE WHEN list_contains(COALESCE(q.sel, []), i)
               THEN s.syms[i] || s.syms[i + 1]
             WHEN list_contains(COALESCE(q.sel, []), i - 1) THEN NULL
             ELSE s.syms[i] END),
      x -> x IS NOT NULL) AS syms
  FROM s{t - 1} s LEFT JOIN sel{t} q USING (word)
)"""
            )
        parts.append(
            "\n"
            + "\nUNION ALL\n".join(
                f"SELECT CAST({t - 1} AS BIGINT) AS rank, a, b FROM m{t}"
                for t in range(1, k + 1)
            )
        )
        return "\n".join(parts)

    bpe_merges_sql = _bpe_oracle(8)

    # ------------------------------------- r10 crawl/curation oracles --

    # the planted-PII suffix (one kind per residue class) — must stay
    # textually in lockstep with _pii_fixture
    _pii_plant = (
        "CASE WHEN doc_id % 4 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@mail' || CAST(doc_id % 5 AS VARCHAR) || '.example now'\n"
        "     WHEN doc_id % 4 = 1 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' up'\n"
        "     WHEN doc_id % 4 = 2 THEN ' call +1 (415) 555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')\n"
        "     ELSE ' ref ' || lpad(CAST(doc_id % 1000000000 AS VARCHAR), 9, '0')"
        " || '9 done' END"
    )
    from giraph_spark.functions.pii import PII_TIERS as _TIERS

    # redact_pii: the same RE2∩Java pattern text, chained — each tier's
    # count taken on the text AFTER the earlier tiers ran (the scrub's
    # no-double-billing contract). DuckDB '...' literals pass
    # backslashes through to RE2 untouched; only quotes double.
    _pii_parts = [
        f"WITH base AS (\n  SELECT doc_id, coalesce(text, '') || {_pii_plant} AS t0\n  FROM documents\n)"
    ]
    for _i, (_kind, _pat, _token) in enumerate(_TIERS):
        _p = _pat.replace("'", "''")
        _src = "base" if _i == 0 else f"s{_i - 1}"
        _pii_parts.append(
            f", s{_i} AS (\n  SELECT *,"
            f" CAST(len(regexp_extract_all(t{_i}, '{_p}')) AS BIGINT)"
            f" AS n_redacted_{_kind},\n"
            f"         regexp_replace(t{_i}, '{_p}', '{_token}', 'g') AS t{_i + 1}\n"
            f"  FROM {_src}\n)"
        )
    _pii_parts.append(
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, t{len(_TIERS)} AS text, "
        + ", ".join(f"n_redacted_{k}" for k, _, _ in _TIERS)
        + f"\nFROM s{len(_TIERS) - 1}"
    )
    redact_pii_sql = "\n".join(_pii_parts)

    # pii_features: independent per-kind counts on the RAW planted
    # text, n_pii their sum
    _feat_counts = ",\n       ".join(
        "CAST(len(regexp_extract_all(t, '{}')) AS BIGINT) AS n_{}".format(
            pat.replace("'", "''"), kind
        )
        for kind, pat, _ in _TIERS
    )
    _feat_sum = " + ".join(f"n_{k}" for k, _, _ in _TIERS)
    pii_features_sql = f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') || {_pii_plant} AS t FROM documents
), c AS (
  SELECT doc_id,
       {_feat_counts}
  FROM base
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_email, n_ipv4, n_phone,
       n_id_number, CAST({_feat_sum} AS BIGINT) AS n_pii
FROM c"""

    # pii_rate: per-kind counts on the RAW planted text, aggregated by
    # source (pii_features semantics inside pii_rate)
    _rate_counts = ",\n         ".join(
        "CAST(len(regexp_extract_all(t, '{}')) AS BIGINT) AS c_{}".format(
            pat.replace("'", "''"), kind
        )
        for kind, pat, _ in _TIERS
    )
    _rate_sum = " + ".join(f"c_{k}" for k, _, _ in _TIERS)
    pii_rate_sql = f"""
WITH base AS (
  SELECT doc_id, source, coalesce(text, '') || {_pii_plant} AS t
  FROM documents
), c AS (
  SELECT source,
         {_rate_counts},
         CASE WHEN {_rate_sum} > 0 THEN 1 ELSE 0 END AS has_pii
  FROM base
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(has_pii) AS BIGINT) AS docs_with_pii,
       ROUND(CAST(SUM(has_pii) AS DOUBLE) / COUNT(*), 6) AS pii_doc_rate,
       CAST(SUM(c_email) AS BIGINT) AS n_email,
       CAST(SUM(c_ipv4) AS BIGINT) AS n_ipv4,
       CAST(SUM(c_phone) AS BIGINT) AS n_phone,
       CAST(SUM(c_id_number) AS BIGINT) AS n_id_number
FROM c GROUP BY source"""

    # data_card's r10 sections: pii (pii_rate on the RAW corpus text,
    # n_docs dropped — datacard.py's _tall of pii_rate(...).drop) and
    # paragraphs (duplicate_paragraph_stats), appended to the section
    # union with the card's printf('%.6f') canonical form
    _dc_counts = ",\n         ".join(
        "CAST(len(regexp_extract_all(coalesce(text, ''), '{}')) AS BIGINT)"
        " AS c_{}".format(pat.replace("'", "''"), kind)
        for kind, pat, _ in _TIERS
    )
    _dc_sum = " + ".join(f"c_{k}" for k, _, _ in _TIERS)
    data_card_sql = (
        data_card_sql.replace("WITH corpus AS (", """WITH piid AS (
  SELECT """ + _dc_counts + f""",
         CASE WHEN {_dc_sum} > 0 THEN 1 ELSE 0 END AS has_pii
  FROM documents
), piia AS (
  SELECT CAST(SUM(has_pii) AS BIGINT) AS docs_with_pii,
         printf('%.6f', ROUND(AVG(CAST(has_pii AS DOUBLE)), 6))
           AS pii_doc_rate,
         CAST(SUM(c_email) AS BIGINT) AS n_email,
         CAST(SUM(c_ipv4) AS BIGINT) AS n_ipv4,
         CAST(SUM(c_phone) AS BIGINT) AS n_phone,
         CAST(SUM(c_id_number) AS BIGINT) AS n_id_number
  FROM piid
), dparts AS (
  SELECT doc_id,
         regexp_split_to_array(coalesce(text, ''),
                               '\\r?\\n[ \\t]*(\\r?\\n)+') AS ps
  FROM documents
), dparas AS (
  SELECT md5(lower(regexp_replace(trim(paragraph), '\\s+', ' ', 'g'))) AS h
  FROM (SELECT doc_id, unnest(ps) AS paragraph FROM dparts)
  WHERE trim(paragraph) <> ''
), dpara AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
         CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
         CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_duplicate,
         printf('%.6f', ROUND(CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE)
                              / COUNT(*), 6)) AS duplicate_fraction
  FROM dparas
), corpus AS (""")
        + """
UNION ALL SELECT 'pii', 'docs_with_pii', '',
       CAST(docs_with_pii AS VARCHAR) FROM piia
UNION ALL SELECT 'pii', 'pii_doc_rate', '', pii_doc_rate FROM piia
UNION ALL SELECT 'pii', 'n_email', '', CAST(n_email AS VARCHAR) FROM piia
UNION ALL SELECT 'pii', 'n_ipv4', '', CAST(n_ipv4 AS VARCHAR) FROM piia
UNION ALL SELECT 'pii', 'n_phone', '', CAST(n_phone AS VARCHAR) FROM piia
UNION ALL SELECT 'pii', 'n_id_number', '',
       CAST(n_id_number AS VARCHAR) FROM piia
UNION ALL SELECT 'paragraphs', 'n_paragraphs', '',
       CAST(n_paragraphs AS VARCHAR) FROM dpara
UNION ALL SELECT 'paragraphs', 'n_distinct', '',
       CAST(n_distinct AS VARCHAR) FROM dpara
UNION ALL SELECT 'paragraphs', 'n_duplicate', '',
       CAST(n_duplicate AS VARCHAR) FROM dpara
UNION ALL SELECT 'paragraphs', 'duplicate_fraction', '',
       duplicate_fraction FROM dpara"""
    )

    # dedup_paragraphs: the banner/footer fixture, then the full CCNet
    # disposition replayed as a window (split with ordinality,
    # normalize-hash, first-occurrence, ordered reassembly) — the
    # in-repo parity test's oracle over the driver fixture
    _para_fix = (
        "'shared banner ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || chr(10)"
        " || coalesce(text, 'empty body') || chr(10) || chr(10)"
        " || 'standard footer ' || CAST(doc_id % 3 AS VARCHAR)"
    )
    dedup_paragraphs_sql = (
        f"WITH fix AS (\n  SELECT doc_id, {_para_fix} AS text FROM documents\n)"
        r""", parts AS (
  SELECT doc_id,
         regexp_split_to_array(coalesce(text, ''),
                               '\r?\n[ \t]*(\r?\n)+') AS ps
  FROM fix
), paras AS (
  SELECT doc_id,
         generate_subscripts(ps, 1) - 1 AS para_idx,
         unnest(ps) AS paragraph
  FROM parts
), nonempty AS (
  SELECT doc_id, para_idx, paragraph,
         md5(lower(regexp_replace(trim(paragraph), '\s+', ' ', 'g'))) AS h
  FROM paras WHERE trim(paragraph) <> ''
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY h ORDER BY doc_id, para_idx) AS rn
  FROM nonempty
), orig AS (
  SELECT doc_id, count(*) AS n_paragraphs FROM nonempty GROUP BY doc_id
)
SELECT CAST(r.doc_id AS BIGINT) AS doc_id,
       string_agg(r.paragraph, chr(10) || chr(10)
                  ORDER BY r.para_idx) AS text,
       CAST(any_value(o.n_paragraphs) AS BIGINT) AS n_paragraphs,
       CAST(count(*) AS BIGINT) AS n_kept
FROM ranked r JOIN orig o USING (doc_id)
WHERE r.rn = 1
GROUP BY r.doc_id"""
    )

    # cap_per_host_psl: the registered domain is CLOSED-FORM from the
    # fixture arithmetic (co.uk / com.au take three labels, www strips)
    # and the cap's portable-hash rank replays via _bucket_sql — the
    # url_curation capd pattern keyed on the PSL domain
    cap_per_host_psl_sql = f"""
WITH u AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN 'alpha' || CAST(doc_id % 6 AS VARCHAR) || '.co.uk'
         WHEN doc_id % 4 = 1 THEN 'beta' || CAST(doc_id % 6 AS VARCHAR) || '.com'
         WHEN doc_id % 4 = 2 THEN 'gamma' || CAST(doc_id % 6 AS VARCHAR) || '.com.au'
         ELSE 'delta' || CAST(doc_id % 6 AS VARCHAR) || '.io' END AS dom,
    CASE WHEN doc_id % 5 = 0 THEN 'www.'
         ELSE 'sub' || CAST(doc_id % 3 AS VARCHAR) || '.' END AS pre
  FROM documents
), built AS (
  SELECT doc_id, 'https://' || pre || dom || '/p/' || CAST(doc_id AS VARCHAR) AS url, dom
  FROM u
), ranked AS (
  SELECT doc_id, url,
         ROW_NUMBER() OVER (PARTITION BY dom ORDER BY {_bucket_sql()}, doc_id) AS rnk
  FROM built
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, url FROM ranked WHERE rnk <= 8"""

    # robots_verdict: the RFC battery value-pinned — expected verdict
    # stated closed-form per (host policy class, path class): class 0
    # is the * group (prefix deny, longer allow, wildcard+anchor deny),
    # class 1 is the exact-agent group shadowing a deny-all * group,
    # class 2 has no robots.txt
    robots_verdict_sql = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'https://h' || CAST(doc_id % 10 AS VARCHAR) || '.example' ||
       CASE WHEN doc_id % 5 = 0 THEN '/private/x'
            WHEN doc_id % 5 = 1 THEN '/private/okay'
            WHEN doc_id % 5 = 2 THEN '/p/' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 5 = 3 THEN '/tmp/' || CAST(doc_id AS VARCHAR) || '.pdf'
            ELSE '/' END AS url,
       CASE WHEN (doc_id % 10) % 3 = 2 THEN TRUE
            WHEN (doc_id % 10) % 3 = 0 THEN (doc_id % 5) NOT IN (0, 3)
            ELSE (doc_id % 5) <> 2 END AS robots_allowed
FROM documents"""

    # crawl_delays: class 0's * group sets 5; class 1's exact group
    # sets 'fast' (dropped) then 7 (last valid wins) and shadows *'s
    # 99; class 2 has no robots → no row
    crawl_delays_sql = """
WITH hn AS (
  SELECT DISTINCT doc_id % 10 AS h FROM documents
  WHERE (doc_id % 10) % 3 <> 2
)
SELECT 'h' || CAST(h AS VARCHAR) || '.example' AS host,
       CAST(CASE WHEN h % 3 = 0 THEN 5.0 ELSE 7.0 END AS DOUBLE) AS crawl_delay
FROM hn"""

    # crawl_rounds: the fixture web is four 31-node binary-tree sites
    # (page /t/i links /t/(2i+1), /t/(2i+2)), so BFS discovery depth
    # is closed-form — node i fetches at round floor(log2(i+1)),
    # stated as an integer CASE (no float log). Host c0's robots
    # disallows /t/7: node 7 is gated and its children 15/16 are
    # never discovered (their only parent is 7).
    crawl_rounds_sql = """
WITH nodes AS (
  SELECT j.j, i.i
  FROM (SELECT unnest(range(4)) AS j) j,
       (SELECT unnest(range(31)) AS i) i
)
SELECT 'https://c' || CAST(j AS VARCHAR) || '.example/t/' ||
       CAST(i AS VARCHAR) AS url,
       CAST(CASE WHEN i = 0 THEN 0
                 WHEN i <= 2 THEN 1
                 WHEN i <= 6 THEN 2
                 WHEN i <= 14 THEN 3
                 ELSE 4 END AS INT) AS crawl_round
FROM nodes
WHERE NOT (j = 0 AND i IN (7, 15, 16))"""

    # schedule_frontier: the per-host wave map is pure arithmetic —
    # n URLs at delay d put position p into wave floor(p*d/window) —
    # replayed over a generated position grid per host; the xxhash64
    # per-host ORDER is marginalized out by the aggregate (the key
    # pins which waves exist and how many URLs each holds)
    schedule_frontier_sql = """
WITH per_host AS (
  SELECT 'w' || CAST(doc_id % 10 AS VARCHAR) || '.example' AS host,
         CAST(CASE WHEN doc_id % 10 < 5
                   THEN (doc_id % 10 + 1) * 2.5
                   ELSE 1.0 END AS DOUBLE) AS crawl_delay,
         COUNT(*) AS n
  FROM documents GROUP BY 1, 2
), pos AS (
  SELECT host, crawl_delay, unnest(range(n)) AS p FROM per_host
)
SELECT host, crawl_delay,
       CAST(FLOOR(p * crawl_delay / 30.0) AS BIGINT) AS fetch_wave,
       CAST(COUNT(*) AS BIGINT) AS n_urls
FROM pos GROUP BY 1, 2, 3"""

    # warc_members: the oracle never sees a WARC byte — the range
    # fetch must hand back exactly the documents' text bytes (md5 +
    # byte length over the same UTF-8 encoding), one record per
    # member (record_index 0), every selected capture fetched
    warc_members_sql = """
SELECT 'https://' || source || '.example/d/' ||
       CAST(doc_id AS VARCHAR) AS url,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       CAST(0 AS BIGINT) AS record_index,
       TRUE AS fetched
FROM documents
WHERE text IS NOT NULL AND doc_id % 3 = 0"""

    # idna_hosts: the fixture's unicode hosts are FIXED strings, so
    # their punycode forms are literals per doc_id class; the PSL
    # column exercises a U-label exact rule, a U-label wildcard rule,
    # and the default rule, all decided after encoding
    idna_hosts_sql = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE doc_id % 5
         WHEN 0 THEN 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example'
         WHEN 1 THEN 'xn--bcher-kva.example'
         WHEN 2 THEN 'xn--80arbjktj.xn--p1ai'
         WHEN 3 THEN 'shop.foo.xn--80adxhks'
         ELSE 'xn--bung-zra.example' END AS host_ascii,
       CASE doc_id % 5
         WHEN 0 THEN 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example'
         WHEN 1 THEN 'xn--bcher-kva.example'
         WHEN 2 THEN 'xn--80arbjktj.xn--p1ai'
         -- '*.москва' makes foo.xn--80adxhks the public suffix, so
         -- the registered domain keeps one more label
         WHEN 3 THEN 'shop.foo.xn--80adxhks'
         ELSE 'xn--bung-zra.example' END AS psl_domain
FROM documents"""

    # surt_keys: every branch of the SURT form restated per doc_id
    # class — reversal+lowercase+port-strip, www strip, IP unreversed,
    # IDN punycode — with the canonical query on even ids
    surt_keys_sql = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE doc_id % 4
         WHEN 0 THEN 'com,example,alpha' || CAST(doc_id % 5 AS VARCHAR)
                     || ',sub' || CAST(doc_id % 3 AS VARCHAR)
         WHEN 1 THEN 'org,beta' || CAST(doc_id % 5 AS VARCHAR)
         WHEN 2 THEN '10.0.' || CAST(doc_id % 9 AS VARCHAR) || '.'
                     || CAST(doc_id % 7 AS VARCHAR)
         ELSE 'example,xn--bcher-kva' END
       || ')/p/' || CAST(doc_id AS VARCHAR)
       || CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=2' ELSE '' END AS surt
FROM documents"""

    # pack_sequence_spans: per-shard running sums in doc_id order +
    # floor chunk spans, replayed as a SQL window over the same
    # arithmetic
    pack_sequence_spans_sql = """
WITH toks AS (
  SELECT doc_id,
         CAST(doc_id % 4 AS INT) AS shard,
         CAST(doc_id % 700 * 7 % 3000 + 1 AS BIGINT) AS n_tokens
  FROM documents
), placed AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS off
  FROM toks
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, shard, n_tokens,
       CAST(off AS BIGINT) AS "offset",
       CAST(FLOOR(off / 2048) AS BIGINT) AS first_seq,
       CAST(FLOOR((off + n_tokens - 1) / 2048) AS BIGINT) AS last_seq,
       CAST(FLOOR((off + n_tokens - 1) / 2048)
            - FLOOR(off / 2048) + 1 AS BIGINT) AS n_seqs
FROM placed"""

    # url_features: every shape signal recomputed with SQL string
    # functions over the SAME constructed URL; wordlist hits are
    # closed-form CASEs ('ex' always via the host, 'p7' iff the id's
    # decimal form starts with 7, 'casino' never)
    url_features_sql = """
WITH u AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0
         THEN 'sub' || CAST(doc_id % 3 AS VARCHAR) || '.ex' ||
              CAST(doc_id % 5 AS VARCHAR) || '.example.com'
         ELSE 'ex' || CAST(doc_id % 5 AS VARCHAR) || '.org' END AS host,
    '/p' || CAST(doc_id AS VARCHAR) ||
      CASE WHEN doc_id % 3 = 0 THEN '/a%20b' ELSE '/x' END AS path,
    CASE WHEN doc_id % 4 = 0
         THEN '?a=1&b=' || CAST(doc_id AS VARCHAR) ELSE '' END AS query
  FROM documents
), built AS (
  SELECT doc_id, host, path, query,
         'https://' || host || path || query AS url
  FROM u
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(url) AS INT) AS url_len,
       CAST(length(host) AS INT) AS host_len,
       CAST(len(string_split(host, '.')) AS INT) AS n_labels,
       CAST(length(path) AS INT) AS path_len,
       CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS INT)
         AS path_depth,
       CAST(CASE WHEN query = '' THEN 0
                 ELSE len(string_split(substr(query, 2), '&')) END AS INT)
         AS n_params,
       ROUND(CAST(length(url) -
                  length(regexp_replace(url, '[0-9]', '', 'g')) AS DOUBLE)
             / length(url), 6) AS digit_ratio,
       CAST(length(url) - length(replace(url, '%', '')) AS INT)
         AS pct_encoded,
       ROUND(1.0 + CASE WHEN CAST(doc_id AS VARCHAR) LIKE '7%' THEN 0.25
                        ELSE 0.0 END, 6) AS wl_score
FROM built"""

    # image_dhash: the 9x8 fixture grid is closed-form, so every
    # gradient bit is too — the signed hash is assembled as two's
    # complement directly in BIGINT (bit 63 contributes -2^63), the
    # bands as plain 16-bit sums, and width/height are the fixture's
    image_dhash_grid = """
  SELECT d.doc_id, g.r, g.c,
         ((((g.c + 1) * m + g.r * 29 + p * 7) % 256
           + CASE WHEN d.doc_id % 5 = 1 AND g.c + 1 = 0 AND g.r = 0
                  THEN 128 ELSE 0 END) % 256)
         >
         (((g.c * m + g.r * 29 + p * 7) % 256
           + CASE WHEN d.doc_id % 5 = 1 AND g.c = 0 AND g.r = 0
                  THEN 128 ELSE 0 END) % 256) AS bit
  FROM (SELECT doc_id,
               doc_id - doc_id % 5 AS p,
               CASE WHEN doc_id % 5 <= 1 THEN 13
                    ELSE 13 + (doc_id % 5) * 6 END AS m
        FROM documents) d,
       (SELECT r.r, c.c
        FROM (SELECT unnest(range(8)) AS r) r,
             (SELECT unnest(range(8)) AS c) c) g
"""
    image_dhash_hashes = f"""
WITH bits AS ({image_dhash_grid}),
hashes AS (
  SELECT doc_id,
         SUM(CASE WHEN bit AND r * 8 + c < 63
                  THEN (CAST(1 AS BIGINT) << (r * 8 + c))
                  WHEN bit AND r * 8 + c = 63
                  THEN CAST(-9223372036854775808 AS BIGINT)
                  ELSE 0 END) AS dhash,
         SUM(CASE WHEN bit AND r * 8 + c < 16
                  THEN (1 << (r * 8 + c)) ELSE 0 END) AS b0,
         SUM(CASE WHEN bit AND r * 8 + c BETWEEN 16 AND 31
                  THEN (1 << (r * 8 + c - 16)) ELSE 0 END) AS b1,
         SUM(CASE WHEN bit AND r * 8 + c BETWEEN 32 AND 47
                  THEN (1 << (r * 8 + c - 32)) ELSE 0 END) AS b2,
         SUM(CASE WHEN bit AND r * 8 + c BETWEEN 48 AND 63
                  THEN (1 << (r * 8 + c - 48)) ELSE 0 END) AS b3
  FROM bits GROUP BY doc_id
)"""
    image_dhash_sql = f"""{image_dhash_hashes}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(9 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(dhash AS BIGINT) AS dhash,
       CAST(b0 AS INT) AS b0, CAST(b1 AS INT) AS b1,
       CAST(b2 AS INT) AS b2, CAST(b3 AS INT) AS b3
FROM hashes"""

    # image_near_dups: the full near-dup rule replayed — any-band
    # collision candidates, ordered pair, exact Hamming <= 6 via
    # two's-complement xor popcount
    image_near_dups_sql = f"""{image_dhash_hashes}
SELECT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(CAST(a.dhash AS BIGINT),
                          CAST(b.dhash AS BIGINT))) AS INT) AS hamming
FROM hashes a JOIN hashes b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(CAST(a.dhash AS BIGINT), CAST(b.dhash AS BIGINT))) <= 6"""

    # audio_afp: constant-amplitude frames make the contour bit the
    # INTEGER comparison a_{k+1}^2 > a_k^2 — no float energies in the
    # oracle at all; same two's-complement assembly as image_dhash
    audio_afp_hashes = """
WITH amps AS (
  SELECT d.doc_id, g.k,
         CASE WHEN d.doc_id % 5 = 1 AND g.k = 0 THEN 12
              ELSE (g.k * m + p * 3) % 25 - 12 END AS a
  FROM (SELECT doc_id,
               doc_id - doc_id % 5 AS p,
               CASE WHEN doc_id % 5 <= 1 THEN 7
                    ELSE 7 + (doc_id % 5) * 2 END AS m
        FROM documents) d,
       (SELECT unnest(range(65)) AS k) g
), bits AS (
  SELECT a0.doc_id, a0.k,
         (a1.a * a1.a) > (a0.a * a0.a) AS bit
  FROM amps a0 JOIN amps a1
    ON a0.doc_id = a1.doc_id AND a1.k = a0.k + 1
  WHERE a0.k < 64
), hashes AS (
  SELECT doc_id,
         SUM(CASE WHEN bit AND k < 63 THEN (CAST(1 AS BIGINT) << k)
                  WHEN bit AND k = 63
                  THEN CAST(-9223372036854775808 AS BIGINT)
                  ELSE 0 END) AS afp,
         SUM(CASE WHEN bit AND k < 16 THEN (1 << k) ELSE 0 END) AS b0,
         SUM(CASE WHEN bit AND k BETWEEN 16 AND 31
                  THEN (1 << (k - 16)) ELSE 0 END) AS b1,
         SUM(CASE WHEN bit AND k BETWEEN 32 AND 47
                  THEN (1 << (k - 32)) ELSE 0 END) AS b2,
         SUM(CASE WHEN bit AND k BETWEEN 48 AND 63
                  THEN (1 << (k - 48)) ELSE 0 END) AS b3
  FROM bits GROUP BY doc_id
)"""
    # End-to-end media dedup disposition: the fixture's id arithmetic
    # (class r = id % 12, variant v = (id // 12) % 4) makes the WHOLE
    # staged outcome closed-form: v 0/1 are byte-identical to the
    # class baseline (exact tier, keeper = r); v 2/3 are re-encodings
    # whose FIRST id (r + 24, r + 36) survives the exact tier and then
    # loses near-dedup to r, while LATER same-variant ids are byte
    # copies of that first one — exact losers whose keeper resolves
    # THROUGH the near stage to r.
    dedup_media_sql = """
WITH g AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         CAST(doc_id AS BIGINT) % 12 AS r,
         (CAST(doc_id AS BIGINT) // 12) % 4 AS v
  FROM documents
)
SELECT id AS media_id,
       CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CASE WHEN id = r THEN 'kept'
            WHEN v IN (0, 1) THEN 'exact_dup'
            WHEN v = 2 AND id = r + 24 THEN 'near_dup'
            WHEN v = 3 AND id = r + 36 THEN 'near_dup'
            ELSE 'exact_dup' END AS status,
       r AS keeper
FROM g"""

    # Frame-level video fingerprints: W(d,f) is the 16-bit band word;
    # the signed-64 two's-complement of W replicated over all four
    # bands is s*2^48 + w*(2^32 + 2^16 + 1) with s = w as signed int16
    # (bit 63 is w's bit 15 — overflow-free BIGINT arithmetic)
    frame_dhash_sql = """
WITH f AS (
  SELECT CAST(doc_id AS BIGINT) AS id, fr
  FROM documents, (VALUES (0), (2)) t(fr)
),
g AS (
  SELECT id, CAST(fr AS BIGINT) AS fr,
         (id * 37 + fr * 11) % 65536 AS w
  FROM f
)
SELECT id AS media_id,
       fr AS frame_index,
       CAST(72 AS INT) AS width,
       CAST(64 AS INT) AS height,
       CAST(
         (CASE WHEN w >= 32768 THEN w - 65536 ELSE w END)
           * 281474976710656
         + w * 4294967296 + w * 65536 + w
       AS BIGINT) AS dhash,
       CAST(w AS INT) AS b0,
       CAST(w AS INT) AS b1,
       CAST(w AS INT) AS b2,
       CAST(w AS INT) AS b3
FROM g"""

    audio_afp_sql = f"""{audio_afp_hashes}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(520 AS BIGINT) AS n_samples,
       CAST(afp AS BIGINT) AS afp,
       CAST(b0 AS INT) AS b0, CAST(b1 AS INT) AS b1,
       CAST(b2 AS INT) AS b2, CAST(b3 AS INT) AS b3
FROM hashes"""

    audio_near_dups_sql = f"""{audio_afp_hashes}
SELECT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(CAST(a.afp AS BIGINT),
                          CAST(b.afp AS BIGINT))) AS INT) AS hamming
FROM hashes a JOIN hashes b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(CAST(a.afp AS BIGINT), CAST(b.afp AS BIGINT))) <= 6"""

    # video_vfp: every fingerprint bit is the integer comparison of
    # two closed-form stsz sizes — same bits/bands/two's-complement
    # assembly as the audio tier
    video_vfp_hashes = """
WITH vsz AS (
  SELECT d.doc_id, g.k,
         CASE WHEN d.doc_id % 5 = 1 AND g.k = 0 THEN 9999
              ELSE (g.k * m + p * 11) % 199 + 50 END AS s
  FROM (SELECT doc_id,
               doc_id - doc_id % 5 AS p,
               CASE WHEN doc_id % 5 <= 1 THEN 13
                    ELSE 13 + (doc_id % 5) * 4 END AS m
        FROM documents) d,
       (SELECT unnest(range(65)) AS k) g
), bits AS (
  SELECT a0.doc_id, a0.k, a1.s > a0.s AS bit
  FROM vsz a0 JOIN vsz a1
    ON a0.doc_id = a1.doc_id AND a1.k = a0.k + 1
  WHERE a0.k < 64
), hashes AS (
  SELECT doc_id,
         SUM(CASE WHEN bit AND k < 63 THEN (CAST(1 AS BIGINT) << k)
                  WHEN bit AND k = 63
                  THEN CAST(-9223372036854775808 AS BIGINT)
                  ELSE 0 END) AS vfp,
         SUM(CASE WHEN bit AND k < 16 THEN (1 << k) ELSE 0 END) AS b0,
         SUM(CASE WHEN bit AND k BETWEEN 16 AND 31
                  THEN (1 << (k - 16)) ELSE 0 END) AS b1,
         SUM(CASE WHEN bit AND k BETWEEN 32 AND 47
                  THEN (1 << (k - 32)) ELSE 0 END) AS b2,
         SUM(CASE WHEN bit AND k BETWEEN 48 AND 63
                  THEN (1 << (k - 48)) ELSE 0 END) AS b3
  FROM bits GROUP BY doc_id
)"""
    video_vfp_sql = f"""{video_vfp_hashes}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(65 AS INT) AS n_frames,
       CAST(vfp AS BIGINT) AS vfp,
       CAST(b0 AS INT) AS b0, CAST(b1 AS INT) AS b1,
       CAST(b2 AS INT) AS b2, CAST(b3 AS INT) AS b3
FROM hashes"""

    video_near_dups_sql = f"""{video_vfp_hashes}
SELECT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(CAST(a.vfp AS BIGINT),
                          CAST(b.vfp AS BIGINT))) AS INT) AS hamming
FROM hashes a JOIN hashes b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(CAST(a.vfp AS BIGINT), CAST(b.vfp AS BIGINT))) <= 4"""

    # cdx_shards: the oracle never sees an index byte — it recomputes
    # the filtered shard groupBy from the same line-building arithmetic
    # (corrupt lines and 404 captures excluded exactly as the index
    # path excludes them)
    cdx_shards_sql = """
SELECT 'shards/w' || CAST(doc_id % 7 AS VARCHAR) || '.warc.gz' AS filename,
       CAST(COUNT(*) AS BIGINT) AS n_captures,
       CAST(SUM(doc_id % 50 + 100) AS BIGINT) AS bytes
FROM documents
WHERE doc_id % 29 <> 0 AND doc_id % 4 <> 0
GROUP BY 1"""

    # cdx_latest: the newest-capture window over the same line-building
    # arithmetic — ts is a fixed-format digit string, so string DESC is
    # chronological; url DESC is the (never-reached-at-this-sf but
    # engine-consistent) tie-break mirroring the max(struct) order
    cdx_latest_sql = """
WITH built AS (
  SELECT doc_id,
         'ex,g' || CAST(doc_id % 37 AS VARCHAR) || ')/p' AS urlkey,
         '202608' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
           || '093000' AS ts,
         'https://g' || CAST(doc_id AS VARCHAR) || '.example/p' AS url,
         CAST(doc_id % 50 + 100 AS BIGINT) AS length,
         CAST(doc_id * 1000 AS BIGINT) AS "offset",
         'shards/x' || CAST(doc_id % 5 AS VARCHAR) || '.warc.gz' AS filename
  FROM documents
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY urlkey ORDER BY ts DESC, url DESC) AS rn
  FROM built
)
SELECT urlkey, ts, url, length, "offset", filename
FROM ranked WHERE rn = 1"""

    # sitemap_locs: the emitted (kind, loc) rows closed-form — the
    # second url block pins whitespace trimming + &amp; entity decode
    sitemap_locs_sql = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, 'url' AS kind,
       'https://s' || CAST(doc_id % 9 AS VARCHAR) || '.example/p/'
         || CAST(doc_id AS VARCHAR) AS loc
FROM documents
UNION ALL
SELECT CAST(doc_id AS BIGINT), 'url',
       'https://t' || CAST(doc_id % 5 AS VARCHAR) || '.example/?a=1&b=2'
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT CAST(doc_id AS BIGINT), 'sitemap',
       'https://s' || CAST(doc_id % 9 AS VARCHAR) || '.example/sm/'
         || CAST(doc_id AS VARCHAR) || '.xml'
FROM documents WHERE doc_id % 7 = 0"""

    # shard_manifest: portable_hash60 shard assignment replayed (the
    # md5 boundary), membership pinned by sum/min/max of the ids read
    # back from the written files
    shard_manifest_sql = """
WITH s AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('5:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 8 AS shard
  FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM s GROUP BY 1"""

    # host_graph: the edge relation regenerated from the page-fixture
    # arithmetic (the oracle never parses HTML — extraction,
    # resolution, PSL domains, intra-domain and mailto drops are what
    # the Spark side must reproduce to agree)
    _host_edges = """
WITH e0 AS (
  SELECT 's' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk' AS src,
         'd' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS dst
  FROM documents
  UNION ALL
  SELECT 's' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk',
         'e' || CAST(doc_id % 3 AS VARCHAR) || '.org'
  FROM documents WHERE doc_id % 4 <> 0
), edges AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS weight FROM e0 GROUP BY 1, 2
), vertices AS MATERIALIZED (
  SELECT src AS id FROM edges UNION SELECT dst FROM edges
)"""
    host_graph_sql = (
        _host_edges + "\nSELECT src, dst, weight FROM edges"
    )

    # domain_authority: 8 unrolled weighted+dangling PageRank rounds
    # over the closed-form host edges — the _pagerank_oracle body with
    # the host graph CTE (string vertex ids)
    def _host_pr_oracle(iters: int) -> str:
        parts = [
            _host_edges.strip(),
            """, deg AS (
    SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg, SUM(weight) AS wsum
    FROM edges GROUP BY src
), nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices)
, r0 AS MATERIALIZED (SELECT id, (SELECT 1.0 / n FROM nv) AS val FROM vertices)""",
        ]
        for t in range(iters):
            parts.append(
                f""", dang{t} AS MATERIALIZED (
    SELECT COALESCE(SUM(val), 0) AS dm FROM r{t}
    WHERE id NOT IN (SELECT src FROM deg)
)"""
            )
            parts.append(
                f""", r{t + 1} AS MATERIALIZED (
    SELECT v.id,
           (SELECT 0.15 / n FROM nv)
           + 0.85 * (COALESCE(m.s, 0) + (SELECT dm FROM dang{t}) / (SELECT n FROM nv)) AS val
    FROM r{t} v
    LEFT JOIN (
        SELECT e.dst AS id, SUM(r.val * e.weight / d.wsum) AS s
        FROM edges e
        JOIN r{t} r ON r.id = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ) m ON m.id = v.id
)"""
            )
        # domain_authority's contract is the PROBABILITY (unlike the
        # pagerank keys, which scale by n in their own select)
        parts.append(
            f"SELECT id AS domain, ROUND(val, 6) AS authority FROM r{iters}"
        )
        return "\n".join(parts)

    domain_authority_sql = _host_pr_oracle(8)

    # new_frontier: the surviving canonical URL set closed-form from
    # the page-fixture arithmetic (residues derived FROM documents so
    # any sf keeps the oracle exact): the .com links, the .org links
    # (3 of 4 docs), the resolved-and-www-stripped self links (the
    # other 1 of 4), minus the two known URLs and the disallowed host
    new_frontier_sql = """
WITH cand AS (
  SELECT DISTINCT 'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.com/x' AS url
  FROM documents
  UNION
  SELECT DISTINCT 'https://e' || CAST(doc_id % 3 AS VARCHAR) || '.org/z'
  FROM documents WHERE doc_id % 4 <> 0
  UNION
  SELECT DISTINCT 'https://s' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk/local/y'
  FROM documents WHERE doc_id % 4 = 0
)
SELECT url FROM cand
WHERE url NOT IN ('https://d0.com/x', 'https://s1.co.uk/local/y')
  AND url NOT LIKE 'https://e1.org/%'"""

    # media_scrub: the scrub's byte accounting closed-form — JPEG rows
    # lose their spliced COM segment (2 marker + 2 length + n body =
    # n+4 bytes), PNG rows their whole tEXt chunk, WebP rows their
    # RIFF EXIF chunk, corrupt rows pass through with the error flag;
    # cleaned lengths are the fixtures' exact sizes (computed here
    # from the same encoders/builders)
    from giraph_spark.functions.media_codecs import (
        make_jpeg_baseline as _mjb,
        make_png as _mp,
    )

    _base_j, _base_p = _mjb(8, 8), _mp(2, 2)
    _body = b"Author\x00Nobody"
    _chunk_len = 8 + len(_body) + 4
    _webp_dirty, _webp_removed = _webp_fixture()
    media_scrub_sql = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(CASE WHEN doc_id % 31 = 0 THEN 0 ELSE 1 END AS BIGINT)
         AS n_stripped,
       CAST(CASE WHEN doc_id % 31 = 0 THEN 0
                 WHEN doc_id % 4 = 1 THEN {_chunk_len}
                 WHEN doc_id % 4 = 3 THEN {_webp_removed}
                 ELSE doc_id % 20 + 14 END AS BIGINT) AS stripped_bytes,
       CAST(CASE WHEN doc_id % 31 = 0 THEN 9
                 WHEN doc_id % 4 = 1 THEN {len(_base_p)}
                 WHEN doc_id % 4 = 3 THEN {len(_webp_dirty) - _webp_removed}
                 ELSE {len(_base_j)} END AS BIGINT) AS out_len,
       doc_id % 31 = 0 AS has_error
FROM documents"""

    return {
        "lpa_communities": lpa_sql,
        "lpa_weighted": lpa_weighted_sql,
        "sparsify_top_edges": sparsify_sql,
        "sssp_paths": sssp_paths_sql,
        "jaccard_link_prediction": jaccard_lp_sql,
        "adamic_adar": adamic_adar_sql,
        "ego_subgraph": ego_subgraph_sql,
        "hits": hits_sql,
        "diameter_estimate": diameter_sql,
        "random_walks": random_walks_sql,
        "k_truss": k_truss_sql,
        "neighbor_sample": neighbor_sample_sql,
        "community_modularity": modularity_sql,
        "degree_assortativity": assortativity_sql,
        "reciprocity": reciprocity_sql,
        "nation_assortativity": nation_assort_sql,
        "retention_cohorts": retention_sql,
        "profile_columns": profile_columns_sql,
        "betweenness_centrality": betweenness_sql,
        "eigenvector_centrality": eigenvector_sql,
        "tfidf_top_terms": tfidf_sql,
        "unigram_logprob": f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS term FROM documents
),
tt AS (SELECT doc_id, term FROM terms WHERE term <> ''),
lm AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS cnt FROM tt GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM tt),
scored AS (
  SELECT tt.doc_id, COUNT(*) AS n_tokens,
         ROUND(AVG(ln(lm.cnt / (SELECT t FROM tot))), 6) AS logprob
  FROM tt JOIN lm USING (term) GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       s.logprob
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id""",
        # bigram LM, add-1 smoothing, trained on the even-doc_id half
        # and scored over every document; positional self-join builds
        # the oracle's bigrams (the Spark side uses zip_with — the
        # cross-engine match proves the expression construction)
        "bigram_logprob": f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split({norm}, ' ')) AS term,
         generate_subscripts(string_split({norm}, ' '), 1) AS pos
  FROM documents
),
tt AS (SELECT doc_id, term, pos FROM toks WHERE term <> ''),
doc_bi AS (
  SELECT a.doc_id, a.term AS w1, b.term AS w2
  FROM tt a JOIN tt b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
lm_tt AS (SELECT * FROM tt WHERE doc_id % 2 = 0),
lm_bi AS (
  SELECT a.term AS w1, b.term AS w2, CAST(COUNT(*) AS DOUBLE) AS c2
  FROM lm_tt a JOIN lm_tt b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
lm_uni AS (
  SELECT term AS w1, CAST(COUNT(*) AS DOUBLE) AS c1 FROM lm_tt GROUP BY 1
),
vocab AS (
  SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS v FROM lm_tt
),
scored AS (
  SELECT d.doc_id, COUNT(*) AS n_bigrams,
         ROUND(AVG(ln(
           (COALESCE(b.c2, 0) + 1.0)
           / (COALESCE(u.c1, 0) + 1.0 * (SELECT v FROM vocab))
         )), 6) AS logprob
  FROM doc_bi d
  LEFT JOIN lm_bi b ON b.w1 = d.w1 AND b.w2 = d.w2
  LEFT JOIN lm_uni u ON u.w1 = d.w1
  GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       s.logprob + 0.0 AS logprob
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id""",
        # same LM + frozen-threshold CASE on the rounded score (the
        # bucket is a pure function of the already-oracle-checked
        # logprob column)
        "perplexity_buckets": f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS term FROM documents
),
tt AS (SELECT doc_id, term FROM terms WHERE term <> ''),
lm AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS cnt FROM tt GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM tt),
scored AS (
  SELECT tt.doc_id, COUNT(*) AS n_tokens,
         ROUND(AVG(ln(lm.cnt / (SELECT t FROM tot))), 6) AS logprob
  FROM tt JOIN lm USING (term) GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       s.logprob,
       CASE WHEN s.logprob IS NULL THEN NULL
            WHEN s.logprob < -3.404 THEN 'tail'
            WHEN s.logprob < -3.4 THEN 'middle'
            ELSE 'head' END AS bucket
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id""",
        "pack_sequences": pack_sequences_sql,
        "kmeans_clusters": kmeans_sql,
        "semdedup": semdedup_sql,
        "semdedup_two_level": semdedup_two_level_sql,
        "scrub_duplicate_ngrams": scrub_dup_ngrams_sql,
        "identity": identity_sql,
        "graph_mutations": mutations_sql,
        "degree_distribution": TRADE_GRAPH_DIRECTED_SQL.strip()
        + """,
deg AS (SELECT v.id, CAST(COUNT(e.src) AS BIGINT) AS degree
        FROM vertices v LEFT JOIN edges e ON v.id = e.src GROUP BY v.id)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vertices FROM deg GROUP BY 1""",
        "blocks_two_hop_indegree": NATION_GRAPH_SQL.strip()
        + """,
indeg AS (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS deg_in FROM edges GROUP BY 1),
two AS (SELECT e.dst AS id, SUM(i.deg_in) AS two_hop
        FROM edges e LEFT JOIN indeg i ON e.src = i.id GROUP BY 1)
SELECT v.id AS id, CAST(COALESCE(t.two_hop, 0) AS BIGINT) AS two_hop
FROM vertices v LEFT JOIN two t ON v.id = t.id""",
        "vector_sum_by_cluster": vector_sum_sql,
        "sparse_vector_sum_by_cluster": sparse_vector_sum_sql,
        "multimodal_metadata": multimodal_sql,
        "strip_boilerplate": strip_boilerplate_sql,
        "gopher_rules": gopher_rules_sql,
        "dsir_importance": dsir_sql,
        "clean_corpus_dsir": clean_corpus_dsir_sql,
        "decompress_text": decompress_text_sql,
        "gif_frame_stats": gif_frame_stats_sql,
        "decode_coverage": decode_coverage_sql,
        "bmp_pixel_stats": bmp_pixel_stats_sql,
        "png_pixel_stats": png_pixel_stats_sql,
        # the WebP fixture restates the PNG fixture's closed form —
        # same ids, same solid colors — through six VP8L bitstream
        # variants, so the oracle is the identical SQL
        "webp_pixel_stats": png_pixel_stats_sql,
        "mp4_metadata": mp4_metadata_sql,
        "mp4_frame_plan": mp4_frame_plan_sql,
        "jpeg_progressive_pixel_stats": jpeg_pixel_stats_sql,
        "png_interlaced_pixel_stats": png_pixel_stats_sql,
        "jpeg_pixel_stats": jpeg_pixel_stats_sql,
        "gif_pixel_stats": gif_pixel_stats_sql,
        "wav_audio_stats": wav_audio_stats_sql,
        "multimodal_frame_plan": frame_plan_sql,
        "exact_duplicates": exact_dups_sql,
        "clean_corpus": clean_corpus_sql,
        "clean_corpus_compressed": clean_corpus_compressed_sql,
        "ngram_jaccard_pairs": ngram_sql,
        "minhash_lsh_pairs": minhash_lsh_sql,
        "fuzzy_decontaminate": fuzzy_decon_sql,
        "near_dup_clusters": near_dup_clusters_sql,
        "dedup_corpus": dedup_corpus_sql,
        "dedup_corpus_quality": dedup_corpus_quality_sql,
        "incremental_dedup": incremental_dedup_sql,
        "funnel_counts": funnel_sql,
        "simhash_near_pairs": simhash_sql,
        "embedding_near_dup_lsh": emb_lsh_sql,
        "quality_features": quality_sql,
        "quality_filter": quality_filter_sql,
        "token_counts": token_counts_sql,
        "token_histogram": token_histogram_sql,
        "chunk_documents": chunk_documents_sql,
        "lang_id": lang_sql,
        "fingerprint": fingerprint_sql,
        "corpus_stats": corpus_stats_sql,
        "repetition_features": repetition_sql,
        "scrub_text": scrub_sql,
        "train_val_split": train_val_split_sql,
        "stratified_sample": stratified_sample_sql,
        "cap_per_domain": cap_per_domain_sql,
        "decontaminate": decontaminate_sql,
        "mixture_repeats": mixture_repeats_sql,
        "expand_repeats": expand_repeats_sql,
        "duplicate_ngrams": duplicate_ngrams_sql,
        "embedding_covariance": embedding_covariance_sql,
        "cosine_topk": cosine_topk_sql,
        "ivf_topk": ivf_topk_sql,
        "lsh_topk": lsh_topk_sql,
        "ann_recall": ann_recall_sql,
        "quantize_embeddings": quantize_sql,
        "embedding_near_dup_exact": emb_exact_sql,
        "sessionize": sessionize_sql,
        "event_counts_hourly": event_counts_sql,
        "asof_view_before_purchase": asof_sql,
        "views_before_purchase_1h": range_count_sql,
        "event_rollup": event_rollup_sql,
        "url_curation": url_curation_sql,
        "wet_ingest": wet_ingest_sql,
        "data_card": data_card_sql,
        "bpe_merges": bpe_merges_sql,
        "redact_pii": redact_pii_sql,
        "pii_features": pii_features_sql,
        "pii_rate": pii_rate_sql,
        "dedup_paragraphs": dedup_paragraphs_sql,
        "cap_per_host_psl": cap_per_host_psl_sql,
        "robots_verdict": robots_verdict_sql,
        "crawl_delays": crawl_delays_sql,
        "crawl_rounds": crawl_rounds_sql,
        "schedule_frontier": schedule_frontier_sql,
        "warc_members": warc_members_sql,
        "idna_hosts": idna_hosts_sql,
        "surt_keys": surt_keys_sql,
        "pack_sequence_spans": pack_sequence_spans_sql,
        "url_features": url_features_sql,
        "image_dhash": image_dhash_sql,
        "image_near_dups": image_near_dups_sql,
        "audio_afp": audio_afp_sql,
        "dedup_media": dedup_media_sql,
        "frame_dhash": frame_dhash_sql,
        "audio_near_dups": audio_near_dups_sql,
        "video_vfp": video_vfp_sql,
        "video_near_dups": video_near_dups_sql,
        "cdx_shards": cdx_shards_sql,
        "cdx_latest": cdx_latest_sql,
        "sitemap_locs": sitemap_locs_sql,
        "shard_manifest": shard_manifest_sql,
        "host_graph": host_graph_sql,
        "domain_authority": domain_authority_sql,
        "new_frontier": new_frontier_sql,
        "media_scrub": media_scrub_sql,
        "scc": scc_sql,
        "maximal_independent_set": mis_sql,
        "graph_coloring": coloring_sql,
        "max_weight_matching": mwm_sql,
        "bipartite_matching": bip_sql,
        "partition_quality": partition_quality_sql,
        "generated_graph_degrees": gen_degrees_sql,
        "min_spanning_forest": msf_sql,
        "multilevel_coarsen": mlc_sql,
        "threshold_metrics": f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS term FROM documents
),
tt AS (SELECT doc_id, term FROM terms WHERE term <> ''),
cnts AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS c FROM tt GROUP BY 1, 2
),
scored AS (
  SELECT doc_id,
         ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) + 0.0 AS score
  FROM cnts GROUP BY 1
),
lab AS (
  SELECT doc_id,
         ((CASE WHEN {ws_tokens} >= 5 THEN 0 ELSE 1 END)
        + (CASE WHEN {ws_tokens} <= 100000 THEN 0 ELSE 1 END)
        + (CASE WHEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                / CAST(greatest(length(text), 1) AS DOUBLE) >= 0.6
           THEN 0 ELSE 1 END)
        + (CASE WHEN length(regexp_replace(text, '[^0-9]', '', 'g'))
                / CAST(greatest(length(text), 1) AS DOUBLE) <= 0.3
           THEN 0 ELSE 1 END)
        + (CASE WHEN len(list_filter(
                  string_split_regex(trim(lower(text)), '\\s+'),
                  x -> x IN ({stop_list})))
                / CAST(greatest({ws_tokens}, 1) AS DOUBLE) >= 0.05
           THEN 0 ELSE 1 END)) = 0 AS passed
  FROM documents
),
j AS (
  SELECT s.score, l.passed FROM scored s JOIN lab l USING (doc_id)
  WHERE s.score IS NOT NULL
),
hist AS (
  SELECT LEAST(23, GREATEST(0, CAST(FLOOR((score - 0.0) / 0.25) AS INT)))
           AS b,
         COUNT(*) AS n,
         SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS pos
  FROM j GROUP BY 1
),
axis AS (SELECT CAST(UNNEST(range(24)) AS INT) AS b),
filled AS (
  SELECT a.b, COALESCE(h.n, 0) AS n, COALESCE(h.pos, 0) AS pos
  FROM axis a LEFT JOIN hist h ON h.b = a.b
),
cum AS (
  SELECT b,
         SUM(n) OVER (ORDER BY b DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS np,
         SUM(pos) OVER (ORDER BY b DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS tp,
         SUM(pos) OVER () AS allpos
  FROM filled
)
SELECT ROUND(0.0 + b * 0.25, 6) AS threshold,
       CAST(np AS BIGINT) AS n_pred_pos,
       CAST(tp AS BIGINT) AS tp,
       CAST(np - tp AS BIGINT) AS fp,
       CAST(allpos - tp AS BIGINT) AS fn,
       ROUND(tp / CAST(NULLIF(np, 0) AS DOUBLE), 6) AS "precision",
       ROUND(tp / CAST(NULLIF(allpos, 0) AS DOUBLE), 6) AS recall
FROM cum""",
        "rfm_features": """
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value
                        ELSE 0.0 END), 2) + 0.0 AS monetary,
         MIN(ts) AS _first, MAX(ts) AS _last
  FROM events GROUP BY user_id
), cm AS (SELECT MAX(ts) AS _cl FROM events)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(date_diff('day', CAST(_last AS DATE), CAST(_cl AS DATE))
            AS BIGINT) AS recency_days,
       frequency,
       monetary,
       CAST(FLOOR(epoch(_first)) AS BIGINT) AS first_ts,
       CAST(FLOOR(epoch(_last)) AS BIGINT) AS last_ts
FROM per_user, cm""",
        "word_entropy": f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS term FROM documents
),
tt AS (SELECT doc_id, term FROM terms WHERE term <> ''),
cnts AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS c FROM tt GROUP BY 1, 2
),
scored AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) + 0.0 AS entropy
  FROM cnts GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(s.n_distinct, 0) AS BIGINT) AS n_distinct,
       s.entropy
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id""",
        "random_walk_with_restart": rwr_sql,
        "ppr_batch": ppr_batch_sql,
        "coarsen_by_region": coarsen_sql,
        "bracha_toueg_deadlock": deadlock_sql,
        "pagerank": _pagerank_oracle(PR_ITERS, False, False),
        "pagerank_weighted": _pagerank_oracle(PR_ITERS, True, False),
        "pagerank_dangling": _pagerank_oracle(PR_ITERS, False, True),
        "sssp": sssp_sql,
        "bfs": bfs_sql,
        "bfs_chain": bfs_chain_sql,
        "wcc": wcc_sql,
        "wcc_star": wcc_sql,
        "k_core": k_core_sql,
        "s_core": s_core_sql,
        "max_propagation": maxp_sql,
        "min_propagation": minp_sql,
        "clean_symmetric": clean_sym_sql,
        "normalize_weights_global": normg_sql,
        "out_degrees": deg_sql.format(col="out_degree", key="src"),
        "in_degrees": deg_sql.format(col="in_degree", key="dst"),
        "graph_stats": stats_sql,
        "triangle_count": tri_sql,
        "triangles_per_vertex": tri_pv_sql,
        "clustering_coefficient": clustering_sql,
        "core_numbers": core_numbers_sql,
        "harmonic_centrality": harmonic_sql,
        "closeness_centrality": closeness_sql,
        "avg_neighbor_degree": avg_nbr_deg_sql,
        "triangle_closing_topk": tri_close_sql,
        "symmetrize_edges": sym_sql + "SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM sym",
        "remove_asym_edges": NATION_GRAPH_SQL.strip()
        + """
SELECT CAST(e.src AS BIGINT) AS src, CAST(e.dst AS BIGINT) AS dst
FROM edges e
WHERE EXISTS (SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src)""",
        "normalize_weights": norm_sql,
        "symmetrize_weighted": symw_sql,
        "symmetry_check": TRADE_GRAPH_DIRECTED_SQL.strip()
        + """,
fwd AS (SELECT DISTINCT src, dst FROM edges),
sym AS (SELECT src, dst FROM fwd UNION SELECT dst AS src, src AS dst FROM fwd),
a1 AS (SELECT COUNT(*) AS n FROM fwd f
       WHERE NOT EXISTS (SELECT 1 FROM fwd r WHERE r.src = f.dst AND r.dst = f.src)),
a2 AS (SELECT COUNT(*) AS n FROM sym s
       WHERE NOT EXISTS (SELECT 1 FROM sym r WHERE r.src = s.dst AND r.dst = s.src))
SELECT 'trade_directed' AS graph, CAST(n AS BIGINT) AS n_asym_edges, n = 0 AS symmetric FROM a1
UNION ALL
SELECT 'trade_symmetrized' AS graph, CAST(n AS BIGINT) AS n_asym_edges, n = 0 AS symmetric FROM a2""",
    }
