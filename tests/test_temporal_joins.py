"""Temporal joins (as-of, trailing-window range count): hand-built edge
cases + the plan shapes that make them scale."""

import pytest

from pyspark.sql import functions as F

from giraph_spark.functions.joins import as_of_join, range_join_count
from tests.plan_text import formatted_plan as _plan


def _fixtures(spark):
    left = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (2, 300, 15.0), (3, 400, 5.0)],
        "k long, lid long, ts double",
    )
    right = spark.createDataFrame(
        [(1, 11, 5.0), (1, 12, 10.0), (1, 13, 15.0), (2, 21, 14.0)],
        "k long, rid long, ts double",
    )
    return left, right


def test_as_of_join_semantics(spark):
    left, right = _fixtures(spark)
    out = {
        r["lid"]: r["asof_rid"]
        for r in as_of_join(left, right, on="k").collect()
    }
    # lid 100 (ts 10): right rid 12 at ts 10 matches (<= is inclusive)
    # lid 200 (ts 20): most recent is rid 13 (ts 15)
    # lid 300 (ts 15): rid 21 (ts 14)
    # lid 400 (k=3): no right rows -> NULL
    assert out == {100: 12, 200: 13, 300: 21, 400: None}


def test_as_of_join_plan_has_no_join_node(spark):
    """The union-sort-carry formulation must compile to hash exchanges on
    the key + window — zero Join operators, zero inequality fan-out."""
    left, right = _fixtures(spark)
    plan = _plan(as_of_join(left, right, on="k"))
    assert "Join" not in plan
    assert "Window" in plan
    # every exchange is the key shuffle (no range/rebalance/cartesian)
    for line in plan.splitlines():
        if "Arguments: hashpartitioning" in line:
            assert "hashpartitioning(k" in line


def test_range_join_count_semantics(spark):
    left, right = _fixtures(spark)
    out = {
        r["lid"]: r["n_in_range"]
        for r in range_join_count(
            left, right, on="k", window_seconds=6
        ).collect()
    }
    # window (ts-6, ts]: lid 100 (10): rids at 5,10 -> 5 > 4? 5 in (4,10] yes,
    # 10 yes -> 2; lid 200 (20): 15 in (14,20] -> 1; lid 300 (15): 14 -> 1;
    # lid 400: none
    assert out == {100: 2, 200: 1, 300: 1, 400: 0}


def test_range_join_count_plan_is_equi_join(spark):
    left, right = _fixtures(spark)
    plan = _plan(range_join_count(left, right, on="k", window_seconds=6))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_order_and_window_semantics(spark):
    """funnel enforces step ORDER (a click before the first view doesn't
    count) and the per-step `within` window (a click 2h after the view
    misses a 1h funnel)."""
    from giraph_spark.functions.joins import funnel, funnel_counts

    rows = [
        # user 1: completes view -> click -> purchase, each within 1h
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:10:00", "click"),
        (1, "2024-01-01 10:20:00", "purchase"),
        # user 2: click only BEFORE the first view -> stops after view
        (2, "2024-01-01 09:00:00", "click"),
        (2, "2024-01-01 10:00:00", "view"),
        # user 3: click 2h after view -> outside within='1 hour'
        (3, "2024-01-01 10:00:00", "view"),
        (3, "2024-01-01 12:30:00", "click"),
        (3, "2024-01-01 12:40:00", "purchase"),
        # user 4: never enters the funnel (no view)
        (4, "2024-01-01 10:00:00", "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts_s string, event_type string"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")

    f = {r["user_id"]: r for r in funnel(
        ev, ["view", "click", "purchase"], within="1 hour"
    ).collect()}
    assert set(f) == {1, 2, 3}  # user 4 never entered
    assert f[1]["t2"] is not None
    assert f[2]["t1"] is None and f[2]["t2"] is None
    assert f[3]["t1"] is None  # click outside the window

    counts = {r["step"]: r["users"] for r in funnel_counts(
        ev, ["view", "click", "purchase"], within="1 hour"
    ).collect()}
    assert counts == {"view": 3, "click": 1, "purchase": 1}


@pytest.mark.slow
def test_dedup_corpus_end_to_end(spark):
    """dedup_corpus removes exact dups (normalized) and near-dup cluster
    members, keeping the lowest-id survivor of each group."""
    from giraph_spark.functions.dedup import dedup_corpus

    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [
        (1, base),
        (2, " " + base + " !! "),          # exact dup of 1 after normalize
        (3, base + "and then some more words here"),  # near-dup of 1
        (4, "an entirely different document about spark shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        r["doc_id"] for r in dedup_corpus(df, verify_threshold=0.5).collect()
    )
    assert out == [1, 4]


def test_rfm_features_closed_form(spark):
    """Hand-computed RFM on a tiny log: recency anchored to the corpus
    max, monetary restricted to purchases, zero for purchase-free users."""
    from datetime import datetime

    from giraph_spark.functions.joins import rfm_features

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10), "purchase", 10.0),
            (1, datetime(2024, 1, 3, 10), "click", 99.0),
            (2, datetime(2024, 1, 5, 10), "purchase", 2.5),
            (3, datetime(2024, 1, 2, 10), "view", 7.0),
        ],
        "user_id long, ts timestamp, event_type string, value double",
    )
    out = {r.user_id: r for r in rfm_features(ev, value_event_type="purchase").collect()}
    assert out[1].recency_days == 2 and out[1].frequency == 2
    assert out[1].monetary == 10.0          # click value excluded
    assert out[2].recency_days == 0 and out[2].monetary == 2.5
    assert out[3].monetary == 0.0           # no purchases -> 0, not NULL
    # unrestricted monetary sums everything
    all_val = {r.user_id: r.monetary for r in rfm_features(ev).collect()}
    assert all_val[1] == 109.0
