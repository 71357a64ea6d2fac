"""Per-layer metrics of a traced run, taken from the traced passes.

Layers, outermost first: ``functions`` and ``algos`` (the package calls
the benchmark makes), ``pregel`` (read from the ``PregelMetrics`` a call
was given), ``sources`` (loads and writers), ``spark`` (the status
store's job and stage counters), and ``host`` (the kernel's counters).

Each call's wall time is reported as its share of the pass's wall time;
its seconds, with quartiles, are in the ``detail`` line. A share is 0
on a workload that does not make the call, where a time would read 0 s
on every run.
"""

from __future__ import annotations

import statistics

import numpy as np

from .trace import busy_ms, driver_gap_share

#: calls of the registered workloads, whose share of the pass is
#: reported as ``<call>.share``
CALLS = (
    "algos.sssp", "algos.bfs", "algos.wcc", "functions.clean_corpus",
    "functions.minhash_lsh_pairs", "functions.dedup_corpus",
    "functions.dedup_paragraphs",
)

#: calls that only the workloads run by hand make; their shares, like
#: ``algos.rounds`` and ``algos.jobs_per_round``, are in ``detail`` only,
#: since on a registered workload they would read 0 on every run
HAND_CALLS = (
    "algos.pagerank", "algos.pagerank_weighted",
    "algos.minimum_spanning_forest", "algos.max_weight_matching",
    "algos.bipartite_matching", "algos.graph_coloring",
    "algos.maximal_independent_set",
)

#: every per-layer metric with its unit, in ``BENCHMARK.json`` order
UNITS = {
    "sources.load_s": "s",
    "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    "pregel.supersteps": "count",
    "pregel.messages": "count",
    "pregel.superstep_ms_p50": "ms",
    "pregel.superstep_ms_p90": "ms",
    "pregel.jobs_per_superstep": "count",
    "pregel.tasks_per_superstep": "count",
    "pregel.shuffle_bytes_per_message": "bytes",
    "pregel.partitions_mean": "count",
    "algos.share": "share",
    **{f"{c}.share": "share" for c in CALLS if c.startswith("algos.")},
    "functions.share": "share",
    **{f"{c}.share": "share" for c in CALLS if c.startswith("functions.")},
    "functions.rows_out": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.skipped_stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.driver_gap_share": "share",
    "spark.slot_busy_share": "share",
    "host.steal_share": "share",
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_share": "share",
}


def quartiles(values) -> dict:
    """Median, quartiles and sample count of a timing."""
    values = sorted(values)
    if len(values) == 1:
        q1 = med = q3 = values[0]
    else:
        q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def pass_metrics(record, out, extras, cores: int) -> dict:
    """The per-pass metrics of one traced pass."""
    calls = record.calls
    pregel_calls = [c for c in calls if c.name in out.pregel]
    loop_calls = [c for c in calls if c.name in out.rounds]
    supersteps = sum(pm.num_supersteps for pm in out.pregel.values())
    messages = sum(pm.total_messages for pm in out.pregel.values())
    rounds = sum(out.rounds.values())
    jobs = {k: sum(c.jobs.counts[k] for c in calls) for k in calls[0].jobs.counts}
    parts = [s["partitions"] for pm in out.pregel.values() for s in pm.supersteps]
    return {
        "sources.write_s": sum(c.seconds for c in calls if c.name.startswith("sources.")),
        "sources.write_bytes": sum(out.write_bytes.values()),
        "pregel.supersteps": supersteps,
        "pregel.messages": messages,
        "pregel.jobs_per_superstep": _ratio(
            sum(c.jobs.counts["jobs"] for c in pregel_calls), supersteps),
        "pregel.tasks_per_superstep": _ratio(
            sum(c.jobs.counts["tasks"] for c in pregel_calls), supersteps),
        "pregel.shuffle_bytes_per_message": _ratio(
            sum(c.jobs.counts["shuffle_write_bytes"] for c in pregel_calls), messages),
        "pregel.partitions_mean": float(np.mean(parts)) if parts else 0.0,
        **{f"{c}.share": record.wall(c) / record.seconds
           for c in CALLS + HAND_CALLS},
        **{f"{layer}.share": sum(
            c.seconds for c in calls if c.name.startswith(layer + ".")
        ) / record.seconds for layer in ("algos", "functions")},
        "algos.rounds": rounds,
        "algos.jobs_per_round": _ratio(
            sum(c.jobs.counts["jobs"] for c in loop_calls), rounds),
        "functions.rows_out": sum(
            n for k, n in out.rows.items() if k.startswith("functions.")),
        **{f"spark.{k}": v for k, v in jobs.items()},
        "spark.driver_gap_share": driver_gap_share(calls),
        "spark.slot_busy_share": _ratio(
            jobs["executor_run_ms"], cores * busy_ms(calls)),
        "host.steal_share": extras["steal"],
    }


def layer_metrics(bench) -> tuple[dict, dict]:
    traced = [p for p in bench.passes if p[0].traced]
    untraced = [p for p in bench.passes if not p[0].traced]
    cores = int(bench.settings["spark.sql.shuffle.partitions"])
    per_pass = [pass_metrics(rec, out, x, cores) for rec, out, _, x in traced]
    steps_ms = [
        1000.0 * s["seconds"]
        for _, out, _, _ in traced
        for pm in out.pregel.values()
        for s in pm.supersteps
    ]
    detail = {k: quartiles([m[k] for m in per_pass]) for k in per_pass[0]}
    detail["calls_s"] = {
        c: quartiles([rec.wall(c) for rec, *_ in traced]) for c in CALLS + HAND_CALLS
        if any(call.name == c for rec, *_ in traced for call in rec.calls)
    }
    detail["sources.load_s"] = quartiles([bench.load_s])
    detail["trace.run_s"] = quartiles([p[0].seconds for p in traced])
    detail["trace.untraced_run_s"] = quartiles([p[0].seconds for p in untraced])
    values = {k: q["median"] for k, q in detail.items() if k != "calls_s"}
    values["pregel.superstep_ms_p50"] = (
        float(np.percentile(steps_ms, 50)) if steps_ms else 0.0)
    values["pregel.superstep_ms_p90"] = (
        float(np.percentile(steps_ms, 90)) if steps_ms else 0.0)
    values["trace.overhead_share"] = (
        values["trace.run_s"] / values["trace.untraced_run_s"] - 1.0)
    metrics = {k: {"value": values[k], "unit": u} for k, u in UNITS.items()}
    return metrics, {"per_layer": detail, "superstep_samples": len(steps_ms)}
