#!/usr/bin/env python
"""Benchmark harness — mirrors the reference's GiraphBenchmark drivers
(``giraph-core/.../benchmark/PageRankBenchmark.java``,
``ShortestPathsBenchmark.java``, etc.: synthetic/derived graph, fixed
supersteps, wall-clock + message counters) on the driver's testdata.

``python bench.py [MODE]`` runs one mode of :data:`MODES` on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", ..., "cpus": ...}
The default mode times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and ends with a compact summary line.
An unknown argument or two mode flags exit with status 2 before any
Spark session starts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from typing import Callable, NamedTuple

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _timed(fn):
    """(wall seconds of ``fn()`` rounded to the millisecond, its result)"""
    t0 = time.monotonic()
    out = fn()
    return round(time.monotonic() - t0, 3), out


def _steal_probe_ms() -> float:
    """~60 ms single-thread pure-Python spin, timed. The shared box
    intermittently loses CPU to other tenants (r12's sustained-steal
    windows); a reading at a multiple of the nominal band flags a
    pass whose wall-clock should not be trusted as a record. Probe
    only — never alters the timed regions (VERDICT r12 task 1)."""
    t0 = time.monotonic()
    x = 0
    for i in range(2_000_000):
        x += i
    return round((time.monotonic() - t0) * 1000, 1)


def _steps(metrics) -> list[dict]:
    """Per-superstep rows of a ``PregelMetrics`` — mirrors the
    reference's ShortestPathsBenchmark per-superstep timing output."""
    return [
        {
            "s": s["superstep"],
            "msgs": s["messages"],
            "parts": s["partitions"],
            "sec": round(s["seconds"], 3),
        }
        for s in metrics.supersteps
    ]


def _kernel_pass(g, names, probes: dict | None = None) -> tuple[dict, dict]:
    """Time the kernel queries ``names`` on graph ``g``, each recording
    into its own ``PregelMetrics``: ({name: sec}, {name: metrics}). A
    ``probes`` dict gets one steal-probe reading before each query —
    between the timed regions, never inside one."""
    import giraph_spark as gs
    from giraph_spark.algos.components import wcc
    from giraph_spark.algos.pagerank import pagerank
    from giraph_spark.algos.paths import bfs, sssp

    queries = {
        "pagerank10": lambda m: pagerank(g, iterations=10, metrics=m)
        .agg(F.sum("rank"))
        .collect(),
        "pagerank10_weighted": lambda m: pagerank(
            g, iterations=10, weighted=True, metrics=m
        )
        .agg(F.sum("rank"))
        .collect(),
        "sssp": lambda m: sssp(g, source=1, max_supersteps=50, metrics=m)
        .where(F.col("distance") < float("inf"))
        .count(),
        "bfs": lambda m: bfs(g, source=1, max_supersteps=50, metrics=m)
        .where("level >= 0")
        .count(),
        "wcc": lambda m: wcc(g, max_supersteps=50, metrics=m)
        .select("component")
        .distinct()
        .count(),
    }
    timings: dict[str, float] = {}
    metrics: dict[str, gs.PregelMetrics] = {}
    for name in names:
        if probes is not None:
            probes[name] = _steal_probe_ms()
        metrics[name] = gs.PregelMetrics()
        timings[name], _ = _timed(lambda: queries[name](metrics[name]))
    return timings, metrics


def _scaled(k: int, measure: Callable[[int], dict], keys=None) -> dict:
    """Run ``measure(scale)`` at x1 and xk: {"scales": the per-scale
    records, "ratios_vs_1x": xk / x1 of each of ``keys`` (default every
    x1 key), None where x1 reads 0}. A per-loop dict entry (the extras
    loops) compares its seconds and reports both round counts."""
    scales = {f"x{s}": measure(s) for s in (1, k)}
    one, big = scales["x1"], scales[f"x{k}"]

    def ratio(a, b):
        if isinstance(a, dict):
            return {
                "sec": ratio(a["sec"], b["sec"]),
                "rounds_1x": a.get("rounds"),
                "rounds_Kx": b.get("rounds"),
            }
        return round(b / a, 2) if a else None

    return {
        "scales": scales,
        "ratios_vs_1x": {m: ratio(one[m], big[m]) for m in keys or one},
    }


def _salted(docs, n_docs: int, k: int):
    """``docs`` (doc_id, text) replicated k×, every WORD suffixed with
    its replica tag: the shingle structure (and thus the within-replica
    similarity relations) is exactly the original corpus's, while
    shingle sets are disjoint across replicas — near-dup candidates can
    only be intra-replica, so the expected candidate count is k × the
    1× count. k=1 runs the same path (tag q0) so the scales are
    strictly comparable."""
    rep = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("rep")
    return docs.select("doc_id", "text", rep).select(
        (F.col("doc_id") + F.col("rep") * F.lit(n_docs)).alias("doc_id"),
        F.regexp_replace(
            F.col("text"),
            F.lit(r"(\S+)"),
            F.concat(F.lit("$1q"), F.col("rep").cast("string")),
        ).alias("text"),
    )


def _extras_loops(g_dir, g_sym, g_bip, g_undir) -> dict[str, tuple]:
    """The five driver-side round loops of the graph-extras tier:
    {name: (sec, {"rows": n, **the loop's stats})}. The round counts
    are the regression signal (identical rounds ⇒ identical schedule;
    the unrolled SQL oracles pin the VALUES)."""
    from giraph_spark.algos.coloring import graph_coloring
    from giraph_spark.algos.independent_set import maximal_independent_set
    from giraph_spark.algos.matching import (
        bipartite_matching,
        max_weight_matching,
    )
    from giraph_spark.algos.mst import minimum_spanning_forest

    loops = {
        "min_spanning_forest": (minimum_spanning_forest, g_dir),
        "max_weight_matching": (max_weight_matching, g_sym),
        "bipartite_matching": (bipartite_matching, g_bip),
        "graph_coloring": (graph_coloring, g_undir),
        "maximal_independent_set": (maximal_independent_set, g_undir),
    }
    out = {}
    for name, (loop, g) in loops.items():
        stats: dict = {}
        sec, n = _timed(lambda: loop(g, stats=stats).count())
        out[name] = sec, {"rows": n, **stats}
    return out


def headline(spark) -> tuple[float, dict]:
    """The bench of record: the six kernel queries, the extras tier and
    the pipeline tier, each timed twice; per-query MIN of the two
    passes."""
    from giraph_spark.algos.pagerank import pagerank
    from giraph_spark.algos.triangles import triangle_count
    from giraph_spark.plans.fixtures import nation_graph, trade_graph

    g = trade_graph(spark, SF_DIR).persist()
    g.num_vertices(), g.num_edges()  # materialize outside the timers
    # JIT/codegen warmup so the first timed query isn't penalized
    pagerank(g, iterations=1).count()

    def measure_once(pass_probes: dict) -> dict:
        """ONE full pass over the three tiers (kernel, extras,
        pipeline). A single pass is never the number of record: the
        record is the per-query MIN of two back-to-back passes (the
        r10 extras re-measure protocol, made the default — VERDICT r10
        task 2: four consecutive rounds burned a task re-adjudicating
        single-run records against shared-box variance; counters are
        asserted identical between passes, so min is safe — both
        passes do bit-identical work).

        Per-query box-condition probes (r13): per-pass probes straddle
        a ~5 min pass, so a minute-scale steal burst that inflates ONE
        query is invisible to them (measured 2026-08-18: probes
        83/93/114 ms around a pass whose wcc took 46.9 s, 8× nominal).
        One ~60 ms reading before each kernel query and each tier
        attributes a single inflated query to box steal."""
        timings, ms = _kernel_pass(
            g,
            ("pagerank10", "pagerank10_weighted", "sssp", "bfs", "wcc"),
            pass_probes,
        )
        pass_probes["triangle_count"] = _steal_probe_ms()
        timings["triangle_count"], _ = _timed(
            lambda: triangle_count(nation_graph(spark, SF_DIR)).collect()
        )
        # per-query GiraphStats analog (supersteps run, messages sent)
        # — the reference benchmark drivers report the same counters
        # per job
        counters = {
            name: {"supersteps": m.num_supersteps, "messages": m.total_messages}
            for name, m in ms.items()
        }
        # per-superstep profile for the convergence-shaped query (the
        # tail behavior the adaptive gear-down targets)
        counters["sssp"]["steps"] = _steps(ms["sssp"])
        # the extras and pipeline tiers ride the record but stay OUT of
        # "value", so the headline total stays comparable to the frozen
        # 49.1 s baseline (their envelopes are frozen separately in
        # BASELINE.md). A tier failure degrades to an error field, never
        # takes the headline record down with it. The pipeline's per-
        # operator OUTPUT ROW COUNTS are its counters analog.
        pass_probes["extras"] = _steal_probe_ms()
        try:
            extras = _run_extras(spark, SF_DIR)
        except Exception as ex:  # pragma: no cover - records, not masks
            extras = {"queries": {}, "counters": {"error": f"{type(ex).__name__}: {ex}"}}
        pass_probes["pipeline"] = _steal_probe_ms()
        try:
            pipe = _run_pipeline(spark, SF_DIR)
        except Exception as ex:  # pragma: no cover - records, not masks
            pipe = {
                "queries": {},
                "rows": {"error": f"{type(ex).__name__}: {ex}"},
                "inputs": {},
            }
        return {
            "queries": timings,
            "counters": counters,
            "extras": extras,
            "pipeline": pipe,
        }

    # box-condition probes: one reading before each pass and one after
    # the last (the reading before a pass is its first per-query one),
    # plus the per-query readings of each pass, one dict per pass
    probes: list[float] = []
    pass_probe_log: list[dict[str, float]] = []
    runs = []
    for _ in range(2):
        pass_probe_log.append({})
        runs.append(measure_once(pass_probe_log[-1]))
        probes.append(pass_probe_log[-1]["pagerank10"])
    probes.append(_steal_probe_ms())

    def min_map(maps: list[dict]) -> dict:
        """Per-key min across passes — a key missing from a pass (an
        errored tier) falls back to the passes that measured it."""
        keys = sorted(set().union(*maps))
        return {k: min(m[k] for m in maps if k in m) for k in keys}

    def untimed(x):
        # the deterministic part of a pass's counters: per-superstep and
        # per-round wall seconds legitimately differ between passes
        if isinstance(x, dict):
            return {
                k: untimed(v) for k, v in x.items() if k not in ("sec", "seconds")
            }
        return [untimed(v) for v in x] if isinstance(x, list) else x

    def counters_of(r: dict) -> list:
        return untimed([r["counters"], r["extras"]["counters"], r["pipeline"]["rows"]])

    timings = min_map([r["queries"] for r in runs])
    # counters of record = pass 1's (incl. the sssp step profile);
    # identity across passes is asserted into the record so a mismatch
    # is loud evidence, never silently averaged away
    counters_identical = counters_of(runs[0]) == counters_of(runs[1])
    extras_counters = next(
        (
            r["extras"]["counters"]
            for r in runs
            if "error" not in r["extras"]["counters"]
        ),
        runs[0]["extras"]["counters"],
    )
    extras_q = min_map([r["extras"]["queries"] for r in runs])
    pipe_q = min_map([r["pipeline"]["queries"] for r in runs])
    pipe_src = next(
        (r["pipeline"] for r in runs if "error" not in r["pipeline"]["rows"]),
        runs[0]["pipeline"],
    )
    return round(sum(timings.values()), 3), {
        # the record rule of record (frozen in BASELINE.md §protocol):
        # per-query min of two back-to-back in-session passes
        "record_rule": "min2",
        "counters_identical": counters_identical,
        "queries": timings,
        "counters": runs[0]["counters"],
        "extras": {
            "total": round(sum(extras_q.values()), 3),
            "queries": extras_q,
            "counters": extras_counters,
        },
        "pipeline": {
            "total": round(sum(pipe_q.values()), 3),
            "queries": pipe_q,
            "rows": pipe_src["rows"],
            # same pass as the rows map — an errored pass 1 must not
            # leave an empty inputs map next to pass 2's rows
            "inputs": pipe_src["inputs"],
        },
        # both raw passes, so the record is auditable without rerunning
        "runs": [
            {
                "value": round(sum(r["queries"].values()), 3),
                "queries": r["queries"],
                "extras_total": round(sum(r["extras"]["queries"].values()), 3),
                "pipeline_total": round(
                    sum(r["pipeline"]["queries"].values()), 3
                ),
            }
            for r in runs
        ],
        # box-condition probe readings: [before pass 1, before pass 2,
        # after pass 2], milliseconds (nominal ≈ 55-80 on this box)
        "steal_probe_ms": probes,
        "steal_probe_by_query": pass_probe_log,
    }


def _compact_summary(detail: dict) -> dict:
    """The bench line of record: everything BASELINE.md's
    counters-equality methodology compares, compressed to fit a ~2000
    char stdout tail with a wide margin (≈900 chars at the r8 shape).
    Kernel counters keep supersteps/messages (dropping the sssp
    per-superstep array), extras keep per-loop rows+rounds, and the
    pipeline's per-operator row map — its counters analog — is pinned
    by an md5 checksum over its sorted JSON (bit-identical rows ⇔
    identical checksum), with the full map in the detail record."""
    import hashlib

    kern = {
        name: {"s": c.get("supersteps"), "m": c.get("messages")}
        for name, c in detail.get("counters", {}).items()
    }
    ex = detail.get("extras", {})
    loops = {}
    extras_out = {"total": ex.get("total"), "counters": loops}
    for name, c in ex.get("counters", {}).items():
        if name == "error":
            extras_out["error"] = c
        elif isinstance(c, dict):
            loops[name] = {
                k: v for k, v in c.items() if isinstance(v, (int, float))
            }
    pipe = detail.get("pipeline", {})
    rows = pipe.get("rows", {})
    pipe_out = {
        "total": pipe.get("total"),
        "n_ops": len(pipe.get("queries", {})),
        "rows_md5": hashlib.md5(
            json.dumps(rows, sort_keys=True).encode()
        ).hexdigest()[:12],
    }
    if isinstance(rows, dict) and "error" in rows:
        pipe_out["error"] = rows["error"]
    return {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": detail["unit"],
        "record_rule": detail.get("record_rule"),
        "counters_identical": detail.get("counters_identical"),
        "queries": detail["queries"],
        "counters": kern,
        "extras": extras_out,
        "pipeline": pipe_out,
        "sf": detail.get("sf"),
        "cpus": detail.get("cpus"),
        "detail": "BENCH_DETAIL_LAST.json",
    }


def stress(spark) -> tuple[float, dict]:
    """Scale-stress mode (``python bench.py --stress``): the kernel on a
    synthetic uniform graph ~10× the sf0.1 trade graph's edge count —
    the analog of GiraphBenchmark's VERTICES / EDGES_PER_VERTEX scaling
    knobs (``benchmark/PageRankBenchmark.java``). Purpose: validate that
    the plan SHAPES the sf0.1 bench relies on — co-partitioned triplet
    join, per-superstep lineage truncation, adaptive gear-down on the
    convergence tail — hold when data (not task scheduling) dominates,
    and record the per-superstep profile as evidence (BASELINE.md
    "Scale-stress profile"). Size via $SPARK_GRAFT_STRESS_V /
    $SPARK_GRAFT_STRESS_EPV (default 1.25M × 8 = 10M edges)."""
    from giraph_spark.algos.pagerank import pagerank
    from giraph_spark.graph import Graph
    from giraph_spark.sources.generators import uniform_random_graph

    n_v = int(os.environ.get("SPARK_GRAFT_STRESS_V", "1250000"))
    epv = int(os.environ.get("SPARK_GRAFT_STRESS_EPV", "8"))
    raw = uniform_random_graph(spark, n=n_v, edges_per_vertex=epv, seed=7)
    # deterministic integer weights for the sssp relaxation (rand-free so
    # counters are reproducible run-to-run)
    edges = raw.edges.withColumn(
        "weight", (F.pmod(F.col("src") * 31 + F.col("dst"), F.lit(7)) + 1).cast("double")
    ).persist()
    g = Graph(raw.vertices, edges)
    n_e = edges.count()  # materialize the generated graph outside timers
    pagerank(g, iterations=1).count()  # codegen warmup
    timings, ms = _kernel_pass(g, ("pagerank10", "sssp", "wcc"))
    counters = {
        name: {
            "supersteps": m.num_supersteps,
            "messages": m.total_messages,
            "steps": _steps(m),
        }
        for name, m in ms.items()
    }
    return round(sum(timings.values()), 3), {
        "queries": timings,
        "counters": counters,
        "graph": {"vertices": n_v, "edges": n_e, "epv": epv},
    }


def _run_pipeline(spark, sf_dir: str) -> dict:
    """The LLM-training-data pipeline tier, runnable on a caller-owned
    session: {"queries": timings, "rows": per-operator OUTPUT ROW
    COUNTS — the tier's counters analog: a semantics regression in any
    operator moves a recorded row count, a perf regression moves a
    timing — "inputs": input sizes}. Production hash mode (xxhash64)
    where the operator offers one."""
    import __spark_entry__ as entry_mod
    from giraph_spark.functions.bpe import bpe_encode, train_bpe
    from giraph_spark.functions.dedup import dedup_corpus, minhash_lsh_pairs
    from giraph_spark.functions.lm import bigram_logprob
    from giraph_spark.functions.multimodal import (
        audio_stats,
        bmp_media_from_docs,
        decode_coverage,
        decode_metadata,
        frame_pixel_stats,
        gif_animation_media_from_docs,
        gif_pixels_media_from_docs,
        jpeg_media_from_docs,
        jpeg_progressive_media_from_docs,
        mixed_media_from_docs,
        mp4_frame_plan,
        mp4_media_from_docs,
        mp4_sampled_media_from_docs,
        pixel_stats,
        png_media_from_docs,
        wav_media_from_docs,
    )
    from giraph_spark.functions.paragraphs import dedup_paragraphs
    from giraph_spark.functions.pii import redact_pii
    from giraph_spark.functions.pipeline import (
        clean_corpus,
        clean_corpus_compressed,
        clean_corpus_dsir,
    )
    from giraph_spark.functions.sampling import cap_per_group, pack_sequences
    from giraph_spark.functions.similarity import pca_components, pca_project
    from giraph_spark.functions.text import (
        quality_buckets,
        strip_boilerplate,
        unigram_logprob,
    )
    from giraph_spark.functions.urls import cap_per_host

    # Input layout probe (r13, guide §6/§2.5 — documented in
    # OPTIMIZATION_r13.md): the sf0.1 documents/embeddings parquet is a
    # single row group, so the persisted input is ONE cached partition
    # and every map-side stage of the tier runs single-threaded
    # regardless of core count — which is why the driver's low/high-
    # core scaling ratios cannot move on this tier. Setting
    # $SPARK_GRAFT_INPUT_SPLITS (an int, or "cpus" for the session
    # core count) id-hash-repartitions the inputs HERE, outside every
    # timed region, to emulate the multi-split layout production
    # inputs arrive in — the scaling-probe mode. The DEFAULT stays the
    # raw single-row-group layout: a same-window A/B measured the
    # 32-way split costing ~25% of the tier wall at sf0.1 (per-task
    # and per-Arrow-batch fixed costs over tiny partitions), and the
    # round-over-round pipeline record must stay layout-comparable.
    # Results are identical either way (partitioning-invariant ops,
    # pinned by the rows/md5 counters).
    _splits = os.environ.get("SPARK_GRAFT_INPUT_SPLITS", "")
    _n_split = int(CPUS) if _splits == "cpus" else int(_splits or 0)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if _n_split > 1:
        docs = docs.repartition(_n_split, "doc_id")
    docs = docs.persist()
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    if _n_split > 1:
        embs = embs.repartition(_n_split, "vec_id")
    embs = embs.persist()
    n_docs, n_embs = docs.count(), embs.count()

    d2 = docs.select("doc_id", "text")
    lines = docs.select(
        "doc_id", F.replace(F.col("text"), F.lit(" a "), F.lit("\n")).alias("text")
    )
    # a deterministic URL column derived from doc ids for the PSL-aware
    # host cap
    urls_df = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 97).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(".bbc.co.uk/p/"))
            .otherwise(F.lit(".example.com/p/")),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    bpe_state: dict = {}

    def _train():
        # BPE train's "rows" counter is the merge count (its full value
        # trajectory is the bpe_merges driver key)
        bpe_state["merges"] = train_bpe(d2, num_merges=40)
        return len(bpe_state["merges"])

    def _redact():
        # the counter is TOTAL redactions — the sf docs are synthetic
        # clean prose, so the honest value is 0 and the counter pins "no
        # false positives on clean text" as a semantics invariant (any
        # regex-tier drift that starts matching prose moves it)
        red = redact_pii(d2)
        kinds = [c for c in red.columns if c.startswith("n_redacted_")]
        total = red.agg(
            F.sum(sum(F.col(c) for c in kinds))
        ).collect()[0][0]
        return int(total or 0)

    # the tier's operators in record order: name -> its timed action
    ops = {
        "strip_boilerplate": lambda: strip_boilerplate(lines, min_docs=3).count(),
        "clean_corpus": lambda: clean_corpus(d2).count(),
        "perplexity_buckets": lambda: quality_buckets(
            unigram_logprob(d2), thresholds=(-3.404, -3.4)
        ).count(),
        "cap_per_group": lambda: cap_per_group(
            docs, group_col="source", n=500, n_shards=8
        ).count(),
        "pack_sequences_sharded": lambda: pack_sequences(
            docs, window=2048, n_shards=8
        ).count(),
        "embedding_pca": lambda: pca_project(
            embs, pca_components(embs, k=16)
        ).count(),
        "bmp_pixel_stats": lambda: pixel_stats(bmp_media_from_docs(docs)).count(),
        "png_pixel_stats": lambda: pixel_stats(png_media_from_docs(docs)).count(),
        "wav_audio_stats": lambda: audio_stats(wav_media_from_docs(docs)).count(),
        "jpeg_pixel_stats": lambda: pixel_stats(jpeg_media_from_docs(docs)).count(),
        "gif_pixel_stats": lambda: pixel_stats(
            gif_pixels_media_from_docs(docs)
        ).count(),
        "jpeg_progressive_pixel_stats": lambda: pixel_stats(
            jpeg_progressive_media_from_docs(docs)
        ).count(),
        "mp4_metadata": lambda: decode_metadata(mp4_media_from_docs(docs)).count(),
        "decode_coverage": lambda: decode_coverage(
            mixed_media_from_docs(docs)
        ).count(),
        "clean_corpus_dsir": lambda: clean_corpus_dsir(
            d2, docs.where(F.col("source") == "src18").select("doc_id", "text")
        ).count(),
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(d2).count(),
        "dedup_corpus": lambda: dedup_corpus(d2).count(),
        "gif_frame_stats": lambda: frame_pixel_stats(
            gif_animation_media_from_docs(docs), every_n=2, max_frames=3
        ).count(),
        "mp4_frame_plan": lambda: mp4_frame_plan(
            mp4_sampled_media_from_docs(docs), every_n=4, max_frames=8
        ).count(),
        "clean_corpus_compressed": lambda: clean_corpus_compressed(
            entry_mod._compressed_blobs(d2)
        ).count(),
        # cross-corpus bigram LM scoring (LM on the even half)
        "bigram_logprob": lambda: bigram_logprob(
            d2, lm_df=d2.where(F.col("doc_id") % 2 == 0)
        ).count(),
        "train_bpe": _train,
        # encode's counter is TOTAL TOKENS — a change in any merge
        # decision or in the greedy application moves it
        "bpe_encode": lambda: bpe_encode(d2, bpe_state["merges"])
        .agg(F.sum("n_tokens"))
        .collect()[0][0],
        "redact_pii": _redact,
        # surviving docs (the synthetic corpus has exact-duplicate
        # texts, all single-paragraph)
        "dedup_paragraphs": lambda: dedup_paragraphs(d2).count(),
        "cap_per_host_psl": lambda: cap_per_host(
            urls_df, n=20, n_shards=4, psl=True
        ).count(),
    }
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name, op in ops.items():
        timings[name], rows[name] = _timed(op)
    docs.unpersist()
    embs.unpersist()
    return {
        "queries": timings,
        "rows": rows,
        "inputs": {"docs": n_docs, "embeddings": n_embs},
    }


def _run_extras(spark, sf_dir: str) -> dict:
    """The graph-extras tier — Borůvka MSF, the two matchings,
    Jones–Plassmann coloring, Luby MIS: the five driver-side round
    loops the self-join statistics fix (plans/checkpoint.py) unlocked
    and the shared gear-down (plans/gear.py) re-sizes, runnable on a
    caller-owned session: {"queries": timings, "counters": per-loop
    rows and round counts}."""
    import __spark_entry__ as E
    from giraph_spark.algos.prepare import symmetrize, symmetrize_weighted

    g_dir = E.trade_graph(spark, sf_dir, directed=True)
    g_dir.edges.count()  # warm the fixture
    g_sym = symmetrize_weighted(g_dir)
    chain = symmetrize(E.events_chain(spark, sf_dir))
    loops = _extras_loops(g_dir, g_sym, g_dir, chain)
    return {
        "queries": {name: sec for name, (sec, _) in loops.items()},
        "counters": {name: c for name, (_, c) in loops.items()},
    }


def _tier(record: dict) -> tuple[float, dict]:
    """A standalone tier run's (value, body): value = its queries' total."""
    return round(sum(record["queries"].values()), 3), record


def stress_docs(spark) -> tuple[float, dict]:
    """Dedup/similarity-tier scale-stress (``python bench.py
    --stress-docs``): the kernel got its 10× profile in r5; this is the
    same evidence for the pipeline tier (VERDICT r5 task 4). Replicates
    the $SPARK_GRAFT_SF_DIR documents corpus K× with per-replica token
    salting (every inter-word gap gains a replica token, so shingle sets
    are DISJOINT across replicas and the near-dup structure stays
    intra-replica) and the embeddings K× with a per-replica coordinate
    shift, then runs minhash_lsh_pairs / dedup_corpus / semdedup at 1×
    and K×, recording runtimes AND candidate counts. The banding math
    predicts candidates and runtime track bucket occupancy (~K), never
    K²; semdedup scales ``num_cells`` ∝ corpus (the paper's own scaling
    rule) so per-cell pair work stays bounded. Size via
    $SPARK_GRAFT_STRESS_DOCS_K (default 10)."""
    from giraph_spark.functions.dedup import dedup_corpus, minhash_lsh_pairs
    from giraph_spark.functions.paragraphs import dedup_paragraphs
    from giraph_spark.functions.similarity import semdedup

    k_rep = int(os.environ.get("SPARK_GRAFT_STRESS_DOCS_K", "10"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    n_docs = docs.count()
    n_embs = embs.count()

    def replicate_embs(k: int):
        rep = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("rep")
        return embs.select("vec_id", "embedding", rep).select(
            (F.col("vec_id") + F.col("rep") * F.lit(n_embs)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + F.when(
                    i == F.pmod(F.col("rep"), F.size("embedding")),
                    F.col("rep").cast("double") * 0.05,
                ).otherwise(F.lit(0.0)),
            ).alias("embedding"),
        )

    def measure(scale: int) -> dict:
        d = _salted(docs, n_docs, scale).persist()
        e = replicate_embs(scale).persist()
        nd, ne = d.count(), e.count()
        r: dict[str, float | int] = {"docs": nd, "embeddings": ne}
        # raw LSH candidate set (no verify filter): the quantity the
        # banding math bounds by bucket occupancy
        r["lsh_sec"], r["lsh_candidates"] = _timed(
            lambda: minhash_lsh_pairs(d, verify_threshold=None).count()
        )
        r["dedup_sec"], r["dedup_keepers"] = _timed(lambda: dedup_corpus(d).count())
        # r9 paragraph tier: word-salted replicas have disjoint
        # normalized paragraphs, so survivors must be exactly k × the
        # 1× survivors and the cost profile is the exact-dedup shape
        # (explode + hash groupBy + join + reassembly), never pairwise
        r["para_sec"], r["para_docs"] = _timed(
            lambda: dedup_paragraphs(d).count()
        )
        # SemDeDup's own scaling rule: cells ∝ corpus, occupancy constant
        cells = 16 * scale
        sd = semdedup(e, num_cells=cells).persist()
        r["semdedup_sec"], r["semdedup_rows"] = _timed(lambda: sd.count())
        r["semdedup_cells"] = cells
        r["semdedup_dups"] = sd.where(~F.col("kept")).count()
        r["semdedup_max_cell"] = (
            sd.groupBy("cell").count().agg(F.max("count")).first()[0]
        )
        sd.unpersist()
        # the two-level quantizer: same cell count, O(n·2sqrt(cells))
        # assignment instead of O(n·cells) — the fix for the flat path's
        # quadratic growth this harness first measured
        coarse = max(int(cells ** 0.5), 1)
        while cells % coarse:
            coarse -= 1
        sd2 = semdedup(e, num_cells=cells, coarse_cells=coarse).persist()
        r["semdedup2_sec"], _n = _timed(lambda: sd2.count())
        r["semdedup2_dups"] = sd2.where(~F.col("kept")).count()
        sd2.unpersist()
        d.unpersist()
        e.unpersist()
        return r

    out = _scaled(
        k_rep,
        measure,
        (
            "lsh_sec",
            "lsh_candidates",
            "dedup_sec",
            "para_sec",
            "para_docs",
            "semdedup_sec",
            "semdedup2_sec",
        ),
    )
    big = out["scales"][f"x{k_rep}"]
    value = round(big["lsh_sec"] + big["dedup_sec"] + big["semdedup_sec"], 3)
    return value, {"k": k_rep, **out}


def stress_warc(spark) -> tuple[float, dict]:
    """WARC/WET source throughput (``python bench.py --stress-warc``):
    materializes the $SPARK_GRAFT_SF_DIR documents corpus as real
    at-rest WET shards (write_warc, gzip-member-per-record), then
    measures the ingest path at 1× and K×: record parse rate and MB/s
    through read_warc, and the end-to-end corpus build
    (wet_documents → clean_corpus disposition). Replicas word-salt the
    text (the stress_docs trick: disjoint shingle sets, dedup work
    scales honestly) and shard count grows ∝ scale so per-shard size —
    the reader's non-splittable unit — stays constant; the ratio then
    measures pipeline scaling, not gzip-member length. Size via
    $SPARK_GRAFT_STRESS_WARC_K (default 10)."""
    import shutil
    import tempfile

    from giraph_spark.functions.pipeline import clean_corpus
    from giraph_spark.sources.warc import read_warc, wet_documents, write_warc

    k_rep = int(os.environ.get("SPARK_GRAFT_STRESS_WARC_K", "10"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    workdir = tempfile.mkdtemp(prefix="warc_stress_")

    def measure(scale: int) -> dict:
        shard_dir = os.path.join(workdir, f"x{scale}")
        manifest = write_warc(
            _salted(docs, n_docs, scale), shard_dir,
            uri_col=None, shards=int(CPUS) * scale,
        ).collect()
        mb = round(sum(m["bytes"] for m in manifest) / 1e6, 2)
        r: dict[str, float | int] = {
            "shards": len(manifest),
            "records": sum(m["records"] for m in manifest),
            "mb_at_rest": mb,
        }
        r["read_sec"], parsed = _timed(
            lambda: read_warc(spark, shard_dir).agg(
                F.count("*").alias("n"),
                F.sum("content_length").alias("payload_bytes"),
            ).first()
        )
        assert parsed["n"] == r["records"], "reader lost records"
        r["read_mb_per_sec"] = round(mb / r["read_sec"], 1)
        r["read_recs_per_sec"] = round(r["records"] / r["read_sec"])
        r["ingest_sec"], n_disp = _timed(
            lambda: clean_corpus(
                wet_documents(read_warc(spark, shard_dir))
                .select("doc_id", "text")
            ).count()
        )
        assert n_disp == r["records"], "disposition must cover every record"
        r["ingest_recs_per_sec"] = round(r["records"] / r["ingest_sec"])
        return r

    out = _scaled(k_rep, measure, ("read_sec", "ingest_sec"))
    shutil.rmtree(workdir, ignore_errors=True)
    big = out["scales"][f"x{k_rep}"]
    return round(big["read_sec"] + big["ingest_sec"], 3), {"k": k_rep, **out}


def stress_stream(spark) -> tuple[float, dict]:
    """Streaming-tier throughput (``python bench.py --stress-stream``):
    drives the stateful streaming operators over the sf events/documents
    data split into micro-batch files (availableNow), recording rows/sec
    through each — the scale evidence for the one tier without a stress
    profile (kernel: r5; dedup/similarity: r6 --stress-docs). State
    bounds are the operators' own (watermarks / processing-time
    eviction), so throughput here is the micro-batch machinery + state
    store, not data-skew luck. Runs with AQE off."""
    import shutil
    import tempfile

    from giraph_spark.plans.fixtures import read_events
    from giraph_spark.streaming.corpus import clean_corpus_stream
    from giraph_spark.streaming.events import (
        dedup_stream,
        near_dup_stream,
        sessionize_stream,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    workdir = tempfile.mkdtemp(prefix="stream_stress_")
    n_chunks = 8
    events = read_events(spark, SF_DIR)
    n_events = events.count()
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("doc_id") * 60
            ).alias("ts"),
            "text",
        )
    )
    n_docs = docs.count()

    def chunked_stream(df, name):
        base = os.path.join(workdir, name)
        # deterministic chunking by hash so every run splits identically
        for i in range(n_chunks):
            d = os.path.join(base, f"c{i}")
            df.where(F.pmod(F.xxhash64(df.columns[0]), F.lit(n_chunks)) == i)\
              .coalesce(4).write.mode("overwrite").parquet(d)
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (1000 + i, 1000 + i))
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "4")
            .parquet(os.path.join(base, "c*"))
        )

    def run_query(make_df, name, n_in):
        sec, _ = _timed(
            lambda: make_df()
            .writeStream.format("noop")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(1800)
        )
        return {"sec": sec, "rows_per_sec": round(n_in / sec)}

    timings: dict[str, dict] = {}
    ev_stream = chunked_stream(events, "events")
    timings["sessionize_stream"] = run_query(
        lambda: sessionize_stream(ev_stream, gap_minutes=30), "sess", n_events
    )
    timings["dedup_stream"] = run_query(
        lambda: dedup_stream(ev_stream, keys=("event_id",)), "dedup", n_events
    )
    doc_stream = chunked_stream(docs, "docs")
    timings["near_dup_stream"] = run_query(
        lambda: near_dup_stream(doc_stream), "neardup", n_docs
    )
    timings["clean_corpus_stream"] = run_query(
        lambda: clean_corpus_stream(doc_stream, watermark="2 hours"),
        "corpus", n_docs,
    )
    shutil.rmtree(workdir, ignore_errors=True)
    return round(sum(t["sec"] for t in timings.values()), 3), {
        "queries": timings,
        "inputs": {"events": n_events, "documents": n_docs},
    }


def stress_extras(spark) -> tuple[float, dict]:
    """10× scale-stress for the extras tier + SCC (``python bench.py
    --stress-extras`` — VERDICT r6 task 3, mirroring r5's kernel stress
    and r6's docs stress). The five self-join-shaped loops run on a
    synthetic uniform graph at 1× and K× (default 10×), recording wall
    time AND per-loop round counts: Borůvka's rounds must grow
    O(log n), the matchings' and coloring's round counts stay ~flat,
    and per-round cost should track the live set, so sec ratios ≈
    linear in data. SCC runs on a layered graph — many 3-cycles + one
    giant cycle + DAG cross-edges — whose layer count is
    scale-invariant by construction (scc.py:21's specific unknown).
    Size via $SPARK_GRAFT_STRESS_V / _EPV (defaults 125k × 8 at 1×)
    and $SPARK_GRAFT_STRESS_EXTRAS_K."""
    from giraph_spark.algos.prepare import symmetrize, symmetrize_weighted
    from giraph_spark.algos.scc import scc
    from giraph_spark.graph import Graph
    from giraph_spark.sources.generators import uniform_random_graph

    n_base = int(os.environ.get("SPARK_GRAFT_STRESS_V", "1250000")) // 10
    epv = int(os.environ.get("SPARK_GRAFT_STRESS_EPV", "8"))
    k_scale = int(os.environ.get("SPARK_GRAFT_STRESS_EXTRAS_K", "10"))

    def scc_layer_graph(n: int) -> Graph:
        """Many small SCCs + one giant cycle, stacked into exactly 3
        FW-BW layers AT ANY SCALE. Ids [3n/4, n): one giant directed
        cycle (a single n/4-vertex SCC — the largest ids). Ids
        [n/2, 3n/4) (level A) and [0, n/2) (level B): consecutive
        3-cycles (≈ n/4 small SCCs). DAG cross-edges flow HIGH→LOW id:
        giant→A and A→B, so the forward max-coloring masks A under the
        giant's color and B under A's — round 1 peels only the giant,
        round 2 peels A, round 3 peels B. Rounds must stay 3 at 1× and
        K×: the loop count depends on layer STRUCTURE, not data size
        (scc.py:21)."""
        g0, half = (3 * n) // 4, n // 2
        v = spark.range(n).select(F.col("id").cast("long").alias("id"))
        ring = spark.range(g0, n).select(
            F.col("id").alias("src"),
            (F.lit(g0) + (F.col("id") + 1 - g0) % (n - g0)).alias("dst"),
        )
        # chords keep the giant component ONE SCC (the ring already
        # strongly connects it) while collapsing its diameter from n/4
        # to O(log n) — FW-BW traversals are diameter-bound, and scc()
        # now fails loudly rather than silently splitting a component
        # whose diameter exceeds max_supersteps
        chords = (
            spark.range(g0, n)
            .where(F.pmod(F.col("id"), F.lit(2)) == 0)
            .select(
                F.col("id").alias("src"),
                (
                    F.lit(g0)
                    + F.pmod(F.col("id") * 2654435761, F.lit(n - g0))
                ).alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
        )
        giant = ring.unionAll(chords)

        def tri_cycles(lo, hi):
            off = F.col("id") - lo
            base = F.lit(lo) + off - off % 3
            return (
                spark.range(lo, hi)
                .select(
                    F.col("id").alias("src"),
                    F.least(
                        base + (off % 3 + 1) % 3, F.lit(hi - 1)
                    ).alias("dst"),
                )
                .where(F.col("src") != F.col("dst"))
            )

        def cross(src_lo, src_hi, dst_lo, dst_hi):
            # every 4th target vertex gets one in-edge from the layer above
            return (
                spark.range(dst_lo, dst_hi)
                .where(F.pmod(F.col("id"), F.lit(4)) == 0)
                .select(
                    (
                        F.lit(src_lo)
                        + F.pmod(
                            F.col("id") * 2654435761,
                            F.lit(src_hi - src_lo),
                        )
                    ).alias("src"),
                    F.col("id").alias("dst"),
                )
            )

        edges = (
            giant.unionAll(tri_cycles(half, g0))
            .unionAll(tri_cycles(0, half))
            .unionAll(cross(g0, n, half, g0))
            .unionAll(cross(half, g0, 0, half))
        )
        return Graph(v, edges)

    def measure(scale: int) -> dict:
        n_v = n_base * scale
        raw = uniform_random_graph(spark, n=n_v, edges_per_vertex=epv, seed=7)
        edges = raw.edges.withColumn(
            "weight",
            (F.pmod(F.col("src") * 31 + F.col("dst"), F.lit(997)) + 1).cast(
                "double"
            ),
        ).persist()
        g_dir = Graph(raw.vertices, edges)
        n_e = edges.count()
        g_sym = symmetrize_weighted(g_dir)
        g_undir = symmetrize(g_dir)
        # left→right orientation for bipartite: shift dst into [n, 2n)
        bip = Graph(
            spark.range(2 * n_v).select(F.col("id").cast("long").alias("id")),
            edges.select("src", (F.col("dst") + F.lit(n_v)).alias("dst")),
        )
        layered = scc_layer_graph(n_v)

        r: dict[str, dict] = {"vertices": n_v, "edges": n_e}
        for name, (sec, c) in _extras_loops(g_dir, g_sym, bip, g_undir).items():
            r[name] = {"sec": sec, **c}
        stats_scc: dict = {}

        def run_scc():
            comp = scc(layered, max_supersteps=400, stats=stats_scc).persist()
            n_rows = comp.count()
            sizes = comp.groupBy("scc").count()
            n_sccs, max_scc = sizes.agg(
                F.count(F.lit(1)), F.max("count")
            ).first()
            comp.unpersist()
            return n_rows, n_sccs, max_scc

        sec, (n_rows, n_sccs, max_scc) = _timed(run_scc)
        # closed-form truth for the layered fixture: the giant ring is
        # one SCC of n/4 vertices — a wrong (split) answer is visible
        # right in the counters, not just a row count
        r["scc_layered"] = {
            "sec": sec,
            "rows": n_rows,
            "n_sccs": n_sccs,
            "max_scc_size": max_scc,
            "expected_max_scc": n_v - (3 * n_v) // 4,
            **stats_scc,
        }
        edges.unpersist()
        return r

    names = (
        "min_spanning_forest",
        "max_weight_matching",
        "bipartite_matching",
        "graph_coloring",
        "maximal_independent_set",
        "scc_layered",
    )
    out = _scaled(k_scale, measure, names)
    big = out["scales"][f"x{k_scale}"]
    return round(sum(big[n]["sec"] for n in names), 3), {"k": k_scale, **out}


def stress_crawl(spark) -> tuple[float, dict]:
    """Crawl-tier throughput (``python bench.py --stress-crawl``): a
    synthetic at-rest web — page ``i`` on host ``i % H`` links its
    4-ary-tree children ``4i+1..4i+4`` plus a parent back-link (the
    no-refetch case) — materialized to parquet, then the loop and the
    scheduler measured at 1× and K×:

    - ``crawl_rounds``: 3 BFS rounds from every 100th page as a seed,
      robots-gated (every host's corpus carries a wildcard+anchor
      ``Disallow: /p/*7$`` and ``Crawl-delay: 1``), fetch = join
      against the at-rest pages table — the loop's per-round cost is
      link extraction + canonicalization + the anti-join + the gate;
    - ``schedule_frontier``: politeness waves over the WHOLE page set
      with the parsed per-host delays (the per-host window at scale).

    Hosts grow ∝ scale (H = 64·scale) so per-host URL counts — the
    politeness window's partition size AND the robots relation's
    per-host fan-out — stay constant; the wall ratio then measures
    the tier's scaling in pages, not a skew artifact. Size via
    $SPARK_GRAFT_STRESS_CRAWL_N (pages at 1×, default 20000) and
    $SPARK_GRAFT_STRESS_CRAWL_K (default 10)."""
    import shutil
    import tempfile

    from giraph_spark.functions.crawl import crawl_rounds, schedule_frontier
    from giraph_spark.functions.urls import (
        crawl_delays,
        parse_robots,
        robots_verdict,
    )

    k_rep = int(os.environ.get("SPARK_GRAFT_STRESS_CRAWL_K", "10"))
    n_base = int(os.environ.get("SPARK_GRAFT_STRESS_CRAWL_N", "20000"))
    workdir = tempfile.mkdtemp(prefix="crawl_stress_")
    robots_txt = "User-agent: *\nDisallow: /p/*7$\nCrawl-delay: 1\n"

    def build_web(n: int, hosts: int, path: str):
        i = F.col("id")
        url = F.concat(
            F.lit("https://h"), (i % hosts).cast("string"),
            F.lit(".example/p/"), i.cast("string"),
        )

        def link(j):
            return F.when(
                j < n,
                F.concat(
                    F.lit('<a href="https://h'), (j % hosts).cast("string"),
                    F.lit(".example/p/"), j.cast("string"),
                    F.lit('">c</a>'),
                ),
            ).otherwise(F.lit(""))

        parent = F.when(i > 0, (i - 1) / 4).otherwise(F.lit(0)).cast("long")
        body = F.concat(
            *[link(i * 4 + k) for k in (1, 2, 3, 4)],
            F.concat(
                F.lit('<a href="https://h'), (parent % hosts).cast("string"),
                F.lit(".example/p/"), parent.cast("string"),
                F.lit('">up</a>'),
            ),
        )
        spark.range(n).select(
            url.alias("url"), body.alias("body")
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def measure(scale: int) -> dict:
        n, hosts = n_base * scale, 64 * scale
        pages = build_web(n, hosts, os.path.join(workdir, f"web{scale}"))
        robots_corpus = spark.range(hosts).select(
            F.concat(
                F.lit("h"), F.col("id").cast("string"), F.lit(".example")
            ).alias("host"),
            F.lit(robots_txt).alias("text"),
        )
        robots = parse_robots(robots_corpus)
        seeds = pages.where(
            F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long") % 100 == 0
        ).select("url")
        r: dict[str, float | int] = {"pages": n, "hosts": hosts}

        def crawl():
            fetched = crawl_rounds(
                lambda u: u.join(pages, "url"), seeds, rounds=3, robots=robots
            )
            return {
                row["crawl_round"]: row["n"]
                for row in fetched.groupBy("crawl_round")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }

        r["crawl_sec"], counts = _timed(crawl)
        r["fetched"] = int(sum(counts.values()))
        r["rounds"] = {str(k): int(v) for k, v in sorted(counts.items())}
        r["crawl_pages_per_sec"] = round(r["fetched"] / r["crawl_sec"])
        r["schedule_sec"], agg = _timed(
            lambda: schedule_frontier(
                pages.select("url"),
                crawl_delays(robots_corpus, "bot"),
                window_s=10.0,
            )
            .agg(F.count(F.lit(1)).alias("n"), F.max("fetch_wave").alias("w"))
            .first()
        )
        r["scheduled"] = int(agg["n"])
        r["max_wave"] = int(agg["w"])
        r["sched_urls_per_sec"] = round(agg["n"] / r["schedule_sec"])
        # robots verdict over the whole page set, both join strategies:
        # the gate's broadcast path (rules fit) and the forced shuffle
        # fallback (a declared web-scale rules count) — disallow counts
        # must agree, walls show the fallback's viability at scale
        for label, rc in (("verdict", None), ("verdict_shuffle", 1 << 40)):
            r[f"{label}_sec"], n_dis = _timed(
                lambda: robots_verdict(
                    pages.select("url"), robots, "bot", rules_count=rc
                )
                .where(~F.col("robots_allowed"))
                .count()
            )
            r[f"{label}_disallowed"] = int(n_dis)
        assert r["verdict_disallowed"] == r["verdict_shuffle_disallowed"]
        return r

    out = _scaled(
        k_rep, measure, ("crawl_sec", "schedule_sec", "verdict_sec", "fetched")
    )
    shutil.rmtree(workdir, ignore_errors=True)
    big = out["scales"][f"x{k_rep}"]
    return round(big["crawl_sec"] + big["schedule_sec"], 3), {"k": k_rep, **out}


def stress_hash(spark) -> tuple[float, dict]:
    """Perceptual-hash tier throughput (``python bench.py
    --stress-hash``): the image dHash and audio energy-contour passes
    plus their banded near-dup joins at x1 / x10 synthetic corpora —
    the same 10x evidence convention as the other tiers. Fixtures are
    the driver keys' closed-form BMP/WAV generators scaled up (near
    pairs ∝ corpus size, so the pair counters must scale exactly 10x
    while nothing goes all-pairs). Size via $SPARK_GRAFT_STRESS_MEDIA
    (items at x1, default 20000)."""
    from giraph_spark.functions.audiohash import (
        audio_fingerprint,
        audio_near_duplicates,
    )
    from giraph_spark.functions.dedup_media import media_dedup_disposition
    from giraph_spark.functions.imagehash import (
        dhash_near_duplicates,
        image_dhash,
    )
    from giraph_spark.functions.videohash import (
        video_fingerprint,
        video_near_duplicates,
    )

    n_base = int(os.environ.get("SPARK_GRAFT_STRESS_MEDIA", "20000"))

    def gen_media(ids):
        # DIVERSE hashes are the representative case (real images and
        # clips rarely collide): each group of 5 items shares ONE
        # mixer stream (classes 0/1 are the planted near-pair, the
        # rest get independent streams), so band buckets stay small
        # and the planted-pair count is the exact scale counter. The
        # driver keys' additive-arithmetic fixture would be DEGENERATE
        # here — an additive id barely moves gradient bits, so 200k
        # items collapse into ~256 distinct hashes and the pair space
        # goes quadratic (measured; that is a corpus property the
        # skew note documents, not the throughput case this profiles).
        def mix(z: int) -> int:
            # full-avalanche integer finalizer (xor-shift-multiply):
            # a plain multiplicative hash is LINEAR — adjacent z give
            # near-constant deltas, gradient bits correlate, and every
            # image hashes alike (measured: 10% of ALL pairs within
            # Hamming 6)
            z = ((z ^ (z >> 16)) * 0x45D9F3B) & 0xFFFFFFFF
            z = ((z ^ (z >> 16)) * 0x45D9F3B) & 0xFFFFFFFF
            return z ^ (z >> 16)

        def run(batches):
            import pandas as _pd

            from giraph_spark.functions.media_codecs import (
                make_bmp,
                make_mp4,
                make_wav,
            )

            for pdf in batches:
                rows = []
                for did in pdf["id"]:
                    d = int(did)
                    k5, g = d % 5, d // 5
                    seed = g if k5 <= 1 else d + 1_000_000_007
                    brows = []
                    for y in range(8):
                        row = bytearray()
                        for x in range(9):
                            v = mix(x + 9 * y + 72 * seed) & 0xFF
                            if k5 == 1 and x == 0 and y == 0:
                                v = (v + 128) % 256
                            row += bytes([v, v, v])
                        brows.append(bytes(row))
                    amps = [
                        mix(k + 65 * seed + 7_777_777) % 25 - 12
                        for k in range(65)
                    ]
                    if k5 == 1:
                        amps[0] = 12
                    wav = bytes(
                        b for a in amps for b in bytes([128 + a]) * 8
                    )
                    sizes = [
                        mix(k + 130 * seed + 3_333_333) % 199 + 50
                        for k in range(65)
                    ]
                    if k5 == 1:
                        sizes[0] = 9999
                    rows.append(
                        [
                            d,
                            make_bmp(9, 8, rows=brows),
                            make_wav(0, data=wav),
                            make_mp4(
                                1.0, width=64, height=48,
                                n_frames=65, frame_sizes=sizes,
                            ),
                        ]
                    )
                yield _pd.DataFrame(
                    rows, columns=["media_id", "bmp", "wav", "mp4"]
                )

        return ids.mapInPandas(
            run, schema="media_id long, bmp binary, wav binary, mp4 binary"
        )

    def measure(scale: int) -> dict:
        n = n_base * scale
        media = gen_media(spark.range(n).withColumnRenamed("id", "id"))
        media = media.localCheckpoint(eager=True)
        r: dict[str, float | int] = {"items": n}
        r["image_hash_sec"], ih = _timed(
            lambda: image_dhash(media, payload_col="bmp").localCheckpoint(eager=True)
        )
        r["image_hashed"] = ih.where(F.col("error").isNull()).count()
        sec, r["image_pairs"] = _timed(
            lambda: dhash_near_duplicates(ih, max_hamming=6).count()
        )
        r["image_pairs_sec"] = sec
        r["audio_hash_sec"], af = _timed(
            lambda: audio_fingerprint(media, payload_col="wav").localCheckpoint(
                eager=True
            )
        )
        r["audio_hashed"] = af.where(F.col("error").isNull()).count()
        sec, r["audio_pairs"] = _timed(
            lambda: audio_near_duplicates(af, max_hamming=6).count()
        )
        r["audio_pairs_sec"] = sec
        r["video_hash_sec"], vf = _timed(
            lambda: video_fingerprint(media, payload_col="mp4").localCheckpoint(
                eager=True
            )
        )
        r["video_hashed"] = vf.where(F.col("error").isNull()).count()
        sec, r["video_pairs"] = _timed(
            lambda: video_near_duplicates(vf, max_hamming=4).count()
        )
        r["video_pairs_sec"] = sec

        # end-to-end disposition (r12): remix the SAME checkpointed
        # fixture into one mixed-modality payload column (modality =
        # group % 3, so each 5-item group stays within one modality
        # and its planted class-0/1 near pair survives) and run the
        # full sniff -> exact -> fingerprint -> cluster -> keeper
        # composition; near_dup count is the 10x counter
        def disposition():
            grp = F.pmod(F.floor(F.col("media_id") / 5).cast("long"), F.lit(3))
            mixed = media.select(
                "media_id",
                F.when(grp == 0, F.col("bmp"))
                .when(grp == 1, F.col("wav"))
                .otherwise(F.col("mp4"))
                .alias("payload"),
            )
            return {
                row["status"]: row["n"]
                for row in media_dedup_disposition(mixed)
                .groupBy("status")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }

        r["dedup_media_sec"], disp = _timed(disposition)
        r["dedup_media_near"] = int(disp.get("near_dup", 0))
        r["dedup_media_kept"] = int(disp.get("kept", 0))
        return r

    out = _scaled(10, measure)
    total = sum(
        v
        for r in out["scales"].values()
        for k, v in r.items()
        if k.endswith("_sec")
    )
    return round(total, 3), out


class Mode(NamedTuple):
    """One bench mode: ``run(spark)`` returns (value, record body)."""

    run: Callable
    app: str
    metric: str
    #: the mode reads $SPARK_GRAFT_SF_DIR, so its record names the scale
    over_sf: bool
    driver_memory: str = "32g"


#: flag -> mode; None is the default mode (no flag), the bench of record
MODES: dict[str | None, Mode] = {
    None: Mode(headline, "giraph-spark-bench", "headline_queries_total", True),
    "--stress": Mode(stress, "giraph-spark-stress", "stress_queries_total", False),
    "--stress-docs": Mode(stress_docs, "giraph-spark-stress-docs", "stress_docs", True),
    "--stress-warc": Mode(stress_warc, "giraph-spark-stress-warc", "stress_warc", True),
    "--stress-stream": Mode(
        stress_stream, "giraph-spark-stream-stress", "stress_stream", True
    ),
    "--stress-extras": Mode(
        stress_extras, "giraph-spark-stress-extras", "stress_extras", False
    ),
    "--stress-crawl": Mode(
        stress_crawl, "giraph-spark-stress-crawl", "stress_crawl", False
    ),
    # the synthetic media fixtures need a smaller heap than the others
    "--stress-hash": Mode(
        stress_hash, "giraph-spark-stress-hash", "stress_hash", False, "16g"
    ),
    "--pipeline": Mode(
        lambda spark: _tier(_run_pipeline(spark, SF_DIR)),
        "giraph-spark-pipeline-bench",
        "pipeline_queries_total",
        True,
    ),
    "--graph-extras": Mode(
        lambda spark: _tier(_run_extras(spark, SF_DIR)),
        "giraph-spark-graph-extras",
        "graph_extras_total",
        True,
    ),
}


def _parse_mode(argv: list[str] | None) -> str | None:
    """The mode flag in ``argv`` (None: the default mode). Anything else
    — an unknown argument, an abbreviation, two mode flags — exits with
    status 2 and the mode list."""
    parser = argparse.ArgumentParser(
        prog="bench.py",
        description="One bench mode; prints one JSON record.",
        allow_abbrev=False,
    )
    group = parser.add_mutually_exclusive_group()
    for flag, mode in MODES.items():
        if flag:
            group.add_argument(
                flag, dest="mode", action="store_const", const=flag,
                help=mode.metric,
            )
    return parser.parse_args(argv).mode


def _emit(spark, mode: Mode, value: float, body: dict) -> None:
    """Print the mode's record — metric, value, unit, body, then sf (for
    the modes over $SPARK_GRAFT_SF_DIR) and cpus — and stop the session."""
    record = {"metric": mode.metric, "value": value, "unit": "sec", **body}
    if mode.over_sf:
        record["sf"] = SF_DIR.rstrip("/").split("sf")[-1]
    record["cpus"] = int(CPUS)
    print(json.dumps(record))
    if mode is MODES[None]:
        # parse-proof record (VERDICT r8 task 1): the driver keeps only
        # the LAST ~2000 chars of stdout and parses the tail, and the r8
        # detail line outgrew that window. So: full detail FIRST (and
        # mirrored to BENCH_DETAIL_LAST.json so per-superstep profiles
        # and the per-operator row map never depend on a tail window),
        # then one COMPACT summary JSON as the final stdout line.
        try:
            with open(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "BENCH_DETAIL_LAST.json",
                ),
                "w",
            ) as fh:
                json.dump(record, fh)
        except OSError:
            pass  # a read-only checkout must not take the record down
        print(json.dumps(_compact_summary(record)))
    spark.stop()


def main(argv: list[str] | None = None) -> None:
    mode = MODES[_parse_mode(argv)]
    from giraph_spark.session import spark_session

    spark = spark_session(
        mode.app,
        f"local[{CPUS}]",
        CPUS,
        driver_memory=mode.driver_memory,
        log_level="ERROR",
    )
    _emit(spark, mode, *mode.run(spark))


if __name__ == "__main__":
    main()
