"""bench.py's harness: the compact summary line, the mode table and
fail-closed mode dispatch. Pure Python; no Spark session is started."""

import os
import subprocess
import sys
import time

import pytest

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _detail(extras_counters, pipeline_rows):
    return {
        "metric": "headline_queries_total",
        "value": 12.5,
        "unit": "sec",
        "record_rule": "min2",
        "counters_identical": True,
        "queries": {"sssp": 1.25, "wcc": 2.5},
        "counters": {
            "sssp": {
                "supersteps": 5,
                "messages": 100,
                "steps": [{"s": 0, "msgs": 100, "parts": 4, "sec": 0.1}],
            },
            "wcc": {"supersteps": 3, "messages": 40},
        },
        "extras": {"total": 3.0, "queries": {}, "counters": extras_counters},
        "pipeline": {
            "total": 4.0,
            "queries": {"clean_corpus": 1.0, "dedup_corpus": 3.0},
            "rows": pipeline_rows,
            "inputs": {"docs": 1000, "embeddings": 100},
        },
        "runs": [{"value": 12.5}],
        "steal_probe_ms": [60.0, 61.0, 62.0],
        "steal_probe_by_query": [{"pagerank10": 60.0}],
        "sf": "0.001",
        "cpus": 4,
    }


def test_compact_summary_pinned():
    detail = _detail(
        {
            "min_spanning_forest": {
                "rows": 9,
                "rounds": 2,
                "per_round": [{"round": 1, "live": 9}],
            },
        },
        # insertion order differs from sorted order: the checksum is
        # over the sorted JSON
        {"train_bpe": 40, "dedup_corpus": 790, "clean_corpus": 812},
    )
    assert bench._compact_summary(detail) == {
        "metric": "headline_queries_total",
        "value": 12.5,
        "unit": "sec",
        "record_rule": "min2",
        "counters_identical": True,
        "queries": {"sssp": 1.25, "wcc": 2.5},
        "counters": {"sssp": {"s": 5, "m": 100}, "wcc": {"s": 3, "m": 40}},
        "extras": {
            "total": 3.0,
            "counters": {"min_spanning_forest": {"rows": 9, "rounds": 2}},
        },
        "pipeline": {"total": 4.0, "n_ops": 2, "rows_md5": "cafe52edf4e8"},
        "sf": "0.001",
        "cpus": 4,
        "detail": "BENCH_DETAIL_LAST.json",
    }


def test_compact_summary_passes_tier_errors_through():
    out = bench._compact_summary(
        _detail({"error": "RuntimeError: x"}, {"error": "ValueError: boom"})
    )
    assert out["extras"] == {
        "total": 3.0,
        "counters": {},
        "error": "RuntimeError: x",
    }
    assert out["pipeline"] == {
        "total": 4.0,
        "n_ops": 2,
        "rows_md5": "ed1f68258e7f",
        "error": "ValueError: boom",
    }


def test_mode_table_is_the_documented_modes():
    assert set(bench.MODES) == {
        None,  # the default mode: the bench of record
        "--stress",
        "--stress-docs",
        "--stress-warc",
        "--stress-stream",
        "--stress-extras",
        "--stress-crawl",
        "--stress-hash",
        "--pipeline",
        "--graph-extras",
    }
    metrics = [m.metric for m in bench.MODES.values()]
    assert len(set(metrics)) == len(metrics)


@pytest.mark.parametrize(
    "args",
    [["--no-such-mode"], ["--stress-doc"], ["--stress", "--pipeline"]],
)
def test_bad_mode_exits_2_before_any_session(args):
    t0 = time.monotonic()
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *args],
        capture_output=True, text=True, timeout=120, cwd=REPO,
    )
    assert r.returncode == 2, r.stderr
    assert r.stdout == ""  # no JSON record
    assert "--stress-hash" in r.stderr  # the mode list
    # a Spark session takes ~15 s to start; this must not start one
    assert time.monotonic() - t0 < 10
