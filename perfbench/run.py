#!/usr/bin/env python3
"""Seeded end-to-end and per-layer benchmark of ``giraph_spark``.

    python3 perfbench/run.py --workload traversal-longtail --seed 7 \\
        --seconds 8 --trace 0

Run from the root of a checkout. One client runs the workload's calls
into the package one after another, each waiting for its result
(a closed loop), on one ``local[min(4, cores)]`` session:

1. set-up: start the session, generate the inputs from the seed, write
   them as parquet, load and persist them, then make one untimed
   warm-up pass;
2. timed passes for up to ``--seconds``, at least two;
3. every call's output of every pass, warm-up included, is checked
   against an independent reference, and each timed pass's exact-count
   fingerprint against the warm-up's.

The last line of standard output is one JSON object: ``correct``,
``attempted`` and ``failed`` calls, and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` interleaves untraced and
traced passes and reports the per-layer metrics of the traced ones,
with the tracing overhead on ``run_s``. The line before it, starting
``detail``, gives medians with quartiles and sample counts, the session
settings, the fingerprint and every failed check. A traced run writes
its spans to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fingerprint(out, jobs) -> dict:
    """The counts a pass must reproduce exactly, pass after pass."""
    return {
        "supersteps": sum(pm.num_supersteps for pm in out.pregel.values()),
        "messages": sum(pm.total_messages for pm in out.pregel.values()),
        "rounds": sum(out.rounds.values()),
        "rows_out": sum(out.rows.values()),
        "spark.jobs": jobs.counts["jobs"],
        "spark.tasks": jobs.counts["tasks"],
        "spark.shuffle_read_bytes": jobs.counts["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": jobs.counts["shuffle_write_bytes"],
    }


def fingerprint_diff(want: dict, got: dict) -> dict:
    return {k: [want[k], got[k]] for k in want if want[k] != got[k]}


@dataclass
class Subject:
    """A workload with its loaded inputs and the reference to check
    against."""

    workload: object
    handle: object
    expected: object


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spans: list = []
        #: timed passes: (PassRecord, PassOutput, fingerprint, extras)
        self.passes: list = []
        self.attempted = 0
        self.failed = 0
        self.problems: list = []

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        from .probes import StatusStore, jvm_pid
        from .session import session_settings, start_session
        from .workloads import WORKLOADS, persist

        self.settings = session_settings(self.work)
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.settings)
        self.session_s = time.perf_counter() - t0
        self.status = StatusStore(self.spark)
        self.jvm_pid = jvm_pid(self.spark)
        w = WORKLOADS[self.args.workload](self.args.size)
        t0 = time.perf_counter()
        data = w.generate(self.args.seed)
        w.write(data, os.path.join(self.work, "inputs"))
        t1 = time.perf_counter()
        handle = w.load(self.spark, os.path.join(self.work, "inputs"))
        persist(handle)
        t2 = time.perf_counter()
        self.inputs_s, self.load_s = t2 - t0, t2 - t1
        # the reference is the benchmark's own work, so not set-up time
        self.subject = Subject(w, handle, self.reference(w, data))
        # Warm-up: one untimed pass, checked like the timed ones, over
        # the same inputs, so that the JIT, generated code and Python
        # workers have seen the sizes the timed passes run at.
        t0 = time.perf_counter()
        self.warmup = self.run_pass(0, False, self.subject)
        self.warmup_s = time.perf_counter() - t0
        self.setup_s = self.session_s + self.inputs_s + self.warmup_s

    def reference(self, workload, data):
        expected = workload.expected(data)
        return corrupt(expected) if self.args.corrupt_reference else expected

    # -- passes ----------------------------------------------------------
    def run_pass(self, pass_id: int, traced: bool, subject: Subject):
        from .probes import cpu_ticks, steal_share, vm_hwm_mb
        from .trace import Recorder
        from .workloads import PassContext, persist

        out_dir = os.path.join(self.work, f"pass{pass_id}")
        rec = Recorder(self.spark, self.status, self.spans)
        ctx = PassContext(rec, subject.handle, out_dir)
        ticks0 = cpu_ticks()
        job0 = self.status.next_job_id()
        record = rec.begin(pass_id, traced)
        t0 = time.perf_counter()
        subject.workload.run_pass(ctx)
        record.seconds = time.perf_counter() - t0
        rec.end()
        job1 = self.status.next_job_id()
        steal = steal_share(ticks0, cpu_ticks())
        rss = vm_hwm_mb(self.jvm_pid) + vm_hwm_mb()
        # outside the timed region: this pass's jobs, then the checks
        for fn in ctx.out.later:
            fn()
        jobs = self.status.summarize(range(job0, job1))
        if jobs.evicted:
            self.problems.append(
                f"pass {pass_id}: {jobs.evicted} jobs left the status store "
                "before they were read"
            )
        self.check_pass(pass_id, ctx.out, subject)
        shutil.rmtree(out_dir, ignore_errors=True)
        # Drop whatever the pass left cached and cache the inputs again,
        # so that every pass starts from the state the first one did and
        # no pass reuses a result a call of an earlier pass kept.
        self.spark.catalog.clearCache()
        persist(subject.handle)
        return record, ctx.out, fingerprint(ctx.out, jobs), {
            "steal": steal, "rss_mb": rss}

    def check_pass(self, pass_id: int, out, subject: Subject) -> None:
        """Check every operation of a pass; a raising, missing or wrong
        result counts as failed."""
        for name in subject.workload.OPS:
            self.attempted += 1
            if name in out.errors:
                problem = f"raised {out.errors[name]!r}"
            elif name not in out.values:
                problem = "returned no result"
            else:
                try:
                    problem = subject.workload.check(name, out.values, subject.expected)
                except Exception as exc:  # noqa: BLE001 — a check that cannot run fails
                    problem = f"check raised {exc!r}"
            if problem:
                self.failed += 1
                self.problems.append(f"pass {pass_id}: {name}: {problem}"[:500])

    def measure(self) -> None:
        """Timed passes for up to ``--seconds``: another pass starts only
        if one as long as the last still fits. An untraced run makes at
        least two passes. A trace run makes at least four, untraced and
        traced in the order U T T U (repeated), so that both kinds get
        an early and a late pass and the JIT's warming shows in neither
        side of the tracing overhead."""
        least = 4 if self.args.trace else 2
        start = time.perf_counter()
        i = 0
        while True:
            i += 1
            traced = bool(self.args.trace) and i % 4 in (2, 3)
            t0 = time.perf_counter()
            self.passes.append(self.run_pass(i, traced, self.subject))
            last = time.perf_counter() - t0
            if i >= least and time.perf_counter() - start + last > self.args.seconds:
                break

    # -- results ---------------------------------------------------------
    def fingerprint_problems(self) -> list:
        """Every timed pass, traced or not, must reproduce the warm-up
        pass's counts exactly."""
        want = self.warmup[2]
        return [
            f"pass {rec.pass_id} fingerprint differs from the warm-up's: "
            f"{fingerprint_diff(want, fp)}"
            for rec, _, fp, _ in self.passes
            if fp != want
        ]

    def end_to_end(self) -> tuple[dict, dict]:
        from .layers import quartiles

        timed = self.passes
        run = quartiles([rec.seconds for rec, *_ in timed])
        detail = {
            "run_s": run,
            "setup_s": {
                "value": self.setup_s, "session_s": self.session_s,
                "inputs_s": self.inputs_s, "warmup_s": self.warmup_s,
            },
            "peak_rss_mb": quartiles([x["rss_mb"] for *_, x in timed]),
            "host.steal_share": quartiles([x["steal"] for *_, x in timed]),
            "passes": [
                {"seconds": rec.seconds, "steal": x["steal"],
                 "calls_s": {c.name: c.seconds for c in rec.calls}}
                for rec, *_, x in timed
            ],
        }
        metrics = {
            "run_s": {"value": run["median"], "unit": "s"},
            "setup_s": {"value": self.setup_s, "unit": "s"},
            "peak_rss_mb": {"value": timed[-1][3]["rss_mb"], "unit": "MB"},
        }
        return metrics, detail

    def close(self) -> None:
        from .session import stop_session

        spark, self.spark = getattr(self, "spark", None), None
        if spark is not None:
            stop_session(spark)


def corrupt(x):
    """``x`` with every number in it moved by one, so that the checks
    against it fail; used by the self-test."""
    import numpy as np

    if isinstance(x, dict):
        return {corrupt(k): corrupt(v) for k, v in x.items()}
    if isinstance(x, tuple):
        return tuple(corrupt(v) for v in x)
    if isinstance(x, np.ndarray):
        return x + 1 if x.dtype.kind in "fiu" else x
    if isinstance(x, (int, float, np.number)) and not isinstance(x, bool):
        return x + 1
    return x


def parse(argv):
    from .workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the self-test's knobs: tiny inputs, and a reference made wrong
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help=argparse.SUPPRESS)
    p.add_argument("--corrupt-reference", action="store_true",
                   help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import giraph_spark  # the program under test, from this checkout
    except ImportError as exc:
        print(f"perfbench: cannot import giraph_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(giraph_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: giraph_spark comes from {giraph_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    args = parse(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    bench = Bench(args, work)
    try:
        bench.setup()
        bench.measure()
        problems = bench.problems + bench.fingerprint_problems()
        if args.trace:
            from .layers import layer_metrics

            metrics, detail = layer_metrics(bench)
        else:
            metrics, detail = bench.end_to_end()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session": {k: bench.settings[k] for k in (
            "spark.master", "spark.sql.shuffle.partitions",
            "spark.driver.memory", "spark.driver.extraJavaOptions",
            "spark.ui.enabled")},
        "fingerprint": bench.warmup[2],
        "problems": problems,
    })
    if args.trace:
        write_spans(bench.spans, args)
    print("detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": not problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


def write_spans(spans, args) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump([vars(s) for s in spans], f)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
