"""CLI runner — the ``bin/giraph`` / ``GiraphRunner`` analog
(``job/GiraphRunner.java:123``: parse computation class + I/O formats +
custom arguments, configure, run, report).

Usage::

    python -m giraph_spark ALGORITHM \\
        (--edges edge-list.tsv [--sep TAB] [--weighted] [--undirected]
         | --graph /path/saved_by_save_graph) \\
        [--vertices ids.txt] [--output /path/parquet] [--show N] \\
        [--param key=value ...] [--master local[*]] [--shuffle-partitions N]

Algorithms are looked up in :data:`ALGORITHMS`; ``--param`` pairs are
passed through as keyword arguments after int/float/bool literal
parsing (the ``-ca`` custom-argument surface of the reference). The run
always ends with ONE metrics JSON line on stdout: algorithm, rows,
wall-clock seconds, and per-superstep counters when the algorithm runs
the pregel kernel (``counters/GiraphStats.java`` analog).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .graph import Graph
from .pregel import PregelMetrics
from .session import spark_session


def _with_seed_vertices(fn):
    """CLI adapter for sampler algorithms whose second argument is a seed
    VERTEX DataFrame: accepts ``--param seeds=1,2,3`` (id list) and
    filters the graph's vertices into the expected relation."""

    def run(graph, seeds, **kw):
        # seeds arrive already typed from _parse_literal (ints stay ints,
        # anything else stays a string) — no int() coercion, so graphs
        # with string vertex ids work like the sources/pivots params do
        seed_df = graph.vertices.where(F.col(graph.id_col).isin(list(seeds)))
        return fn(graph, seed_df, **kw)

    return run


def _algorithms():
    from .algos.components import (
        alternating_star_components,
        core_numbers,
        k_core,
        s_core,
        label_propagation_communities,
        max_propagation,
        min_propagation,
        wcc,
    )
    from .algos.coloring import graph_coloring
    from .algos.independent_set import maximal_independent_set
    from .algos.matching import bipartite_matching, max_weight_matching
    from .algos.mst import minimum_spanning_forest
    from .algos.pagerank import (
        eigenvector_centrality,
        hits,
        pagerank,
        personalized_pagerank_batch,
        random_walk_with_restart,
    )
    from .algos.paths import (
        betweenness_centrality,
        bfs,
        closeness_centrality,
        harmonic_centrality,
        sssp,
        sssp_with_paths,
    )
    from .algos.sample import ego_subgraph, neighbor_sample, random_walks
    from .algos.scc import scc
    from .algos.stats import (
        avg_neighbor_degree,
        clustering_coefficient,
        degree_assortativity,
        diameter_estimate,
        graph_stats,
        reciprocity,
    )
    from .algos.triangles import (
        adamic_adar_link_prediction,
        jaccard_link_prediction,
        k_truss,
        triangle_closing_topk,
        triangle_count,
        triangles_per_vertex,
    )

    def _partition_quality_cli(graph, num_partitions=8, portable=False):
        from .partitioning import partition_quality

        return partition_quality(
            graph, int(num_partitions), portable=bool(portable)
        )

    return {
        "pagerank": pagerank,
        "random_walk_with_restart": random_walk_with_restart,
        "ppr_batch": personalized_pagerank_batch,
        "eigenvector_centrality": eigenvector_centrality,
        "hits": hits,
        "sssp": sssp,
        "sssp_paths": sssp_with_paths,
        "bfs": bfs,
        "harmonic_centrality": harmonic_centrality,
        "betweenness_centrality": betweenness_centrality,
        "closeness_centrality": closeness_centrality,
        "lpa_communities": label_propagation_communities,
        "wcc": wcc,
        "wcc_star": alternating_star_components,
        "k_core": k_core,
        "s_core": s_core,
        "k_truss": k_truss,
        "jaccard_link_prediction": jaccard_link_prediction,
        "adamic_adar": adamic_adar_link_prediction,
        "core_numbers": core_numbers,
        "scc": scc,
        "max_propagation": max_propagation,
        "min_propagation": min_propagation,
        "maximal_independent_set": maximal_independent_set,
        "graph_coloring": graph_coloring,
        "max_weight_matching": max_weight_matching,
        "bipartite_matching": bipartite_matching,
        "partition_quality": _partition_quality_cli,
        "min_spanning_forest": minimum_spanning_forest,
        "triangle_count": triangle_count,
        "triangles_per_vertex": triangles_per_vertex,
        "triangle_closing_topk": triangle_closing_topk,
        "clustering_coefficient": clustering_coefficient,
        "avg_neighbor_degree": avg_neighbor_degree,
        "graph_stats": graph_stats,
        "degree_assortativity": degree_assortativity,
        "diameter_estimate": diameter_estimate,
        "reciprocity": reciprocity,
        "neighbor_sample": _with_seed_vertices(neighbor_sample),
        "random_walks": _with_seed_vertices(random_walks),
        "ego_subgraph": _with_seed_vertices(ego_subgraph),
        "out_degrees": lambda g: g.out_degrees(),
        "in_degrees": lambda g: g.in_degrees(),
    }


#: name → callable(graph, **params) -> DataFrame
ALGORITHMS = _algorithms()

# algorithms that accept a metrics= kwarg (run the pregel kernel)
_KERNEL_ALGOS = {
    "pagerank",
    "sssp_paths",
    "random_walk_with_restart",
    "ppr_batch",
    "sssp",
    "bfs",
    "harmonic_centrality",
    "betweenness_centrality",
    "closeness_centrality",
    "lpa_communities",
    "wcc",
    "core_numbers",
    "max_propagation",
    "min_propagation",
}


def _parse_literal(s: str):
    for cast in (int, float):
        try:
            return cast(s)
        except ValueError:
            pass
    if s.lower() in ("true", "false"):
        return s.lower() == "true"
    return s


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m giraph_spark",
        description="Run a graph algorithm over an edge list or a saved graph "
        "(GiraphRunner analog).",
    )
    p.add_argument("algorithm", choices=sorted(ALGORITHMS))
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--edges", help="edge-list text file: src<sep>dst[<sep>weight]")
    src.add_argument("--graph", help="directory written by sources.writers.save_graph")
    p.add_argument("--vertices", help="optional vertex-id text file (one id per line)")
    p.add_argument("--sep", default="\t", help="edge-list separator (default TAB)")
    p.add_argument("--weighted", action="store_true", help="edge list has a 3rd weight column")
    p.add_argument(
        "--undirected", action="store_true",
        help="reverse-duplicate edges on load (ReverseEdgeDuplicator analog)",
    )
    p.add_argument("--output", help="write result DataFrame as parquet here")
    p.add_argument("--show", type=int, default=0, help="print first N result rows")
    p.add_argument(
        "--param", action="append", default=[], metavar="KEY=VALUE",
        help="algorithm kwarg (repeatable) — the reference's -ca custom args",
    )
    p.add_argument("--master", default="local[*]")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    return p


def load_graph_cli(spark: SparkSession, args) -> Graph:
    import re

    from .sources.readers import load_graph, read_edge_list

    if args.graph:
        return load_graph(spark, args.graph)
    edges = read_edge_list(
        spark,
        args.edges,
        # read_edge_list splits on a REGEX; the CLI takes a literal
        # separator, so escape it (an unescaped '|' would split every line
        # into single characters and silently build a garbage graph)
        sep=re.escape(args.sep),
        value_type="double" if args.weighted else None,
        reverse_duplicate=args.undirected,
    )
    if args.vertices:
        vertices = spark.read.text(args.vertices).select(
            F.col("value").cast("long").alias("id")
        )
    else:
        from .graph import vertices_from_edges

        vertices = vertices_from_edges(edges)
    return Graph(vertices, edges)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    params = {}
    for kv in args.param:
        if "=" not in kv:
            raise SystemExit(f"--param expects KEY=VALUE, got {kv!r}")
        k, v = kv.split("=", 1)
        if k in ("sources", "pivots", "seeds", "fanouts"):  # list-valued kwargs
            params[k] = [_parse_literal(x) for x in v.split(",")]
        else:
            params[k] = _parse_literal(v)

    spark = spark_session(
        f"giraph-spark:{args.algorithm}", args.master, args.shuffle_partitions
    )
    t0 = time.monotonic()
    graph = load_graph_cli(spark, args)
    metrics = PregelMetrics()
    if args.algorithm in _KERNEL_ALGOS:
        params.setdefault("metrics", metrics)
    result = ALGORITHMS[args.algorithm](graph, **params)
    # materialize exactly once: count and show must not re-run the whole
    # (possibly iterative) job
    if args.output:
        result.write.mode("overwrite").parquet(args.output)
        result = spark.read.parquet(args.output)
    else:
        result = result.localCheckpoint(eager=True)
    n_rows = result.count()
    if args.show:
        result.show(args.show, truncate=False)
    out = {
        "algorithm": args.algorithm,
        "rows": n_rows,
        "seconds": round(time.monotonic() - t0, 3),
        "supersteps": metrics.num_supersteps,
        "messages": metrics.total_messages,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
