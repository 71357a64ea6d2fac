#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all four, the two in ``BENCHMARK.json`` and
the two run by hand) it makes two runs at one seed:

- a traced run, which must be correct and emit exactly the per-layer
  metrics of ``BENCHMARK.json``, each with its unit;
- an untraced run against a deliberately corrupted reference, which must
  emit exactly the end-to-end metrics with their units, report failed
  calls (an error rate above 0) and not be correct. Its exact-count
  fingerprint must equal the traced run's: same inputs, another process,
  tracing off.

Last, the benchmark must exit non-zero, printing no result, from a
directory that holds only ``BENCHMARK.json`` and ``perfbench/``.
Exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 5


def run(cwd: str, workload: str, trace: int, *extra: str):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def parse(lines):
    detail = json.loads(lines[-2][len("detail "):])
    return detail, json.loads(lines[-1])


def check_metrics(result, spec, label, problems):
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"{label}: metrics {sorted(got)} with units differ "
                        f"from BENCHMARK.json {sorted(want)}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            problems.append(f"{label}: {k} is not a number")


def test_workload(workload: str, bench: dict, problems: list) -> None:
    rc, lines, err = run(ROOT, workload, 1)
    if rc != 0:
        problems.append(f"{workload} traced: exit {rc}: {err[-2000:]}")
        return
    detail, traced = parse(lines)
    check_metrics(traced, bench["per_layer"], f"{workload} traced", problems)
    if not traced["correct"] or traced["failed"]:
        problems.append(f"{workload} traced: not correct: {detail['problems']}")

    rc, lines, err = run(ROOT, workload, 0, "--corrupt-reference")
    if rc != 0:
        problems.append(f"{workload} corrupted: exit {rc}: {err[-2000:]}")
        return
    corrupt_detail, corrupted = parse(lines)
    check_metrics(corrupted, bench["end_to_end"], f"{workload} untraced", problems)
    if corrupted["correct"] or corrupted["failed"] <= 0:
        problems.append(f"{workload}: a corrupted reference left the error "
                        f"rate at {corrupted['failed']}/{corrupted['attempted']}")
    if corrupt_detail["fingerprint"] != detail["fingerprint"]:
        problems.append(f"{workload}: untraced fingerprint "
                        f"{corrupt_detail['fingerprint']} differs from traced "
                        f"{detail['fingerprint']}")
    print(f"{workload}: {corrupted['failed']}/{corrupted['attempted']} calls "
          "failed against the corrupted reference", flush=True)


def test_bare_directory(problems: list) -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, lines, _ = run(bare, "traversal-longtail", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or any(line.startswith("{") for line in lines):
        problems.append("a directory without the program gave a result")


def main(argv) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    problems: list = []
    for workload in argv or sorted(WORKLOADS):
        test_workload(workload, bench, problems)
    test_bare_directory(problems)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
